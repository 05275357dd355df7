package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One closed-loop operation: its wall time and units of work (input
  * rows or documents). */
final case class Op(wallS: Double, units: Long, traced: Boolean)

/** JVM side of the benchmark. Drives the engine's public entry points
  * over the inputs `gen.py` wrote, times every operation, and writes
  * raw samples plus the outputs the checks need to `<work>/out`.
  *
  * Usage: Harness --workload W --work DIR --seconds S --trace 0|1 --cores N
  */
object Harness {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val cores = opt("cores").toInt
    val spark = GraftSession.configure(
        SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .appName("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, opt("trace") == "1")
    val out = new File(work, "out")
    out.mkdirs()
    val result = mutable.LinkedHashMap[String, Any]("workload" -> opt("workload"),
      "cores" -> cores)
    val ctx = Ctx(spark, tracer, work, out, opt("seconds").toDouble, result)
    try opt("workload") match {
      case "ingest" => Ingest.run(ctx)
      case "dedup" => DedupLoop.run(ctx)
      case w => sys.error(s"unknown workload $w")
    } finally {
      if (tracer.on) writeTrace(ctx)
      result("gc_s") = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum / 1e3
      writeJson(new File(out, "result.json"), result)
      spark.stop()
    }
  }

  /** Per-span counters (summed over every span of one name, and
    * including the work of the spans nested in it) and the raw span
    * list, written to `out/trace.json`. */
  private def writeTrace(ctx: Ctx): Unit = {
    val t = ctx.tracer
    t.drain()
    val groups = t.listener.get.snapshot()
    val self = t.selfS
    val nested = t.descendants
    val layers = t.spans.groupBy(_.name).map { case (name, ss) =>
      val g = (nested.getOrElse(name, Set.empty) + name).toSeq
        .map(groups.getOrElse(_, new GroupCounters)).reduce(_ + _)
      val wallS = ss.map(_.wallS).sum
      name -> Map("wall_s" -> wallS, "self_s" -> ss.map(s => self(s.id)).sum,
        "spans" -> ss.size, "jobs" -> g.jobs, "task_cpu_s" -> g.cpuNs / 1e9,
        "avg_par" -> (if (wallS > 0) g.runMs / 1e3 / wallS else 0.0),
        "shuffle_write_mb" -> g.shuffleWriteBytes / 1e6,
        "output_records" -> g.outputRecords, "output_mb" -> g.outputBytes / 1e6)
    }
    ctx.result("layers") = layers
    ctx.result("spill_mb") = groups.values.map(_.spillBytes).sum / 1e6
    ctx.result("untraced_jobs") = groups.get(Tracer.Untraced).fold(0L)(_.jobs)
    ctx.result("regrouped_jobs") = t.listener.get.regrouped
    val t0 = t.spans.headOption.fold(0L)(_.startNs)
    writeJson(new File(ctx.out, "trace.json"), Map(
      "spans" -> t.spans.map(s => Map("name" -> s.name, "id" -> s.id,
        "parent" -> s.parent, "cycle" -> s.cycle,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)),
      "groups" -> groups.map { case (k, g) => k -> Map("jobs" -> g.jobs,
        "tasks" -> g.tasks, "task_cpu_s" -> g.cpuNs / 1e9, "task_run_s" -> g.runMs / 1e3,
        "shuffle_write_mb" -> g.shuffleWriteBytes / 1e6, "spill_mb" -> g.spillBytes / 1e6,
        "output_records" -> g.outputRecords, "output_mb" -> g.outputBytes / 1e6) }))
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def writeJson(f: File, v: Any): Unit = mapper.writeValue(f, v)

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, work: String, out: File,
    seconds: Double, result: mutable.LinkedHashMap[String, Any]) {
  def input(name: String): String = s"$work/inputs/$name"

  /** The realised input properties `gen.py` recorded. */
  lazy val inputs = Harness.mapper.readTree(new File(input("inputs.json")))

  /** Times the set-up, which runs first in the JVM and so includes its
    * cold start (class loading, JIT, code generation); returns the state
    * it built. */
  def setup[T](build: => T): T = {
    val t0 = System.nanoTime()
    val state = build
    result("setup_s") = (System.nanoTime() - t0) / 1e9
    state
  }

  /** The measured loop: closed, one client. Runs `op(i)` for i = 0, 1,
    * ... until the time budget is spent or `limit` ops ran; `after`
    * runs outside the timed region and returns the op's units of work.
    * The first `warmup` ops are untimed: operations keep getting faster
    * for a while after set-up, as the JIT and Spark's caches settle.
    * With tracing on, a further untraced loop of a third of the budget
    * gives the tracing overhead. Peak RSS is read once the first timed
    * op returns, so it covers the same work in every run however many
    * ops the budget admits. Returns the number of ops run, warm-up
    * included. */
  def measure[T](limit: Int, warmup: Int)(op: (Int, Tracer) => T)(
      after: (Int, Tracer, T) => Long): Int = {
    def run(budgetS: Double, t: Tracer, from: Int): Seq[Op] = {
      val ops = mutable.ArrayBuffer[Op]()
      val deadline = System.nanoTime() + (budgetS * 1e9).toLong
      var i = from
      while ((System.nanoTime() < deadline || ops.isEmpty) && i < limit) {
        t.cycle = i
        val t0 = System.nanoTime()
        val v = op(i, t)
        val wallS = (System.nanoTime() - t0) / 1e9
        if (!result.contains("peak_rss_mb")) result("peak_rss_mb") = Harness.peakRssMb()
        ops += Op(wallS, after(i, t, v), t.on)
        i += 1
      }
      t.cycle = -1
      ops.toSeq
    }
    val off = new Tracer(spark.sparkContext, false)
    (0 until warmup).foreach(i => after(i, off, op(i, off)))
    val traced = run(seconds, tracer, warmup)
    val untraced =
      if (!tracer.on) Nil
      else run(seconds / 3, off, warmup + traced.size)
    val timed = traced ++ untraced
    result("ops") = timed.map(o => Map("wall_s" -> o.wallS, "units" -> o.units,
      "traced" -> o.traced))
    warmup + timed.size
  }
}
