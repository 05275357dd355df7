package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, IdentityResolver, IncrementalIdentity, SchemaValidator}
import graft.pipeline.Pipelines
import graft.sources.Sources
import graft.types.{MappingConfig, TableConfig}

/** A registry snapshot root and a merge-partitioned sample table. */
final case class Store(root: String) {
  val registry = s"$root/registry"
  val table = s"$root/samples"
}

/** Keys a cycle reads back once its batch is published. */
final case class ReadBack(samples: Seq[String], refs: Seq[String])

/** What one cycle reported: the validator's resolution actions and
  * conflicts, the read-back rows, and what the keyed read scanned. */
final case class CycleOut(actions: Map[String, Long], conflicts: Long,
    sampleRows: Seq[Seq[String]], refRows: Seq[Seq[String]],
    filesRead: Long, rowsRead: Long)

/** The reference's validator + table-loader cycle over one CSV fragment
  * batch, followed by a keyed read-back of what it published. */
object Identity extends AdaptiveSparkPlanHelper {
  val PartitionCol = "collection_month"
  val Columns = Seq("sample_id", "consortium_id", "niddk_no", "center_id",
    "sample_type", "collection_month", "volume_ml")
  val mapping = MappingConfig(Columns.map(c => c -> c), Seq.empty,
    Seq("consortium_id" -> "consortium_id", "niddk_no" -> "niddk_no"),
    Some("center_id"), 0, Seq.empty)
  val specs = Seq("sample_id", "consortium_id", "center_id", PartitionCol)
    .map(SchemaValidator.ColumnSpec(_, required = true))
  val table = TableConfig("samples", Seq("sample_id"), Seq.empty)
  val day = java.sql.Date.valueOf("2024-06-01")
  private val subjectsSchema = StructType(Seq(StructField("global_subject_id", StringType),
    StructField("center_id", IntegerType), StructField("created_at", DateType)))
  private val localIdsSchema = StructType(Seq(StructField("center_id", IntegerType),
    StructField("local_subject_id", StringType), StructField("identifier_type", StringType),
    StructField("global_subject_id", StringType)))

  def batchFile(ctx: Ctx, k: Int): String = ctx.input(f"batch-$k%03d.csv")

  /** Publishes the generated seed registry into a fresh store. */
  def seed(ctx: Ctx, store: Store): Unit =
    IncrementalIdentity.publishRegistry(IdentityResolver.Registry(
      Sources.readCsv(ctx.spark, ctx.input("subjects.csv"), Some(subjectsSchema)),
      Sources.readCsv(ctx.spark, ctx.input("local_ids.csv"), Some(localIdsSchema))),
      store.registry)

  /** read CSV → read registry → validate (map, schema-check, resolve,
    * link, detect conflicts) → apply batch → publish registry with its
    * read basis → publish the samples into the merge table → index the
    * new batch's keys → read back sample ids from the table and
    * identifiers from the registry. The resolution actions and
    * conflicts are the validator's report. */
  def cycle(ctx: Ctx, t: Tracer, store: Store, k: Int, rb: ReadBack): CycleOut = {
    val spark = ctx.spark
    val raw = t.span("sources.read_csv") {
      val r = Sources.readCsv(spark, batchFile(ctx, k))
      t.force(r.count())
      r
    }
    val (basis, reg) = t.span("sources.read_registry") {
      val b = Sources.snapshotReadBasis(spark, store.registry)
      val r = IncrementalIdentity.readRegistry(spark, store.registry)
      t.force { r.subjects.count(); r.localIds.count() }
      (b, r)
    }
    val v = t.span("pipeline.validate") {
      Pipelines.validate(spark, raw, mapping, specs, reg, s"batch-$k")
    }
    require(v.schemaResult.isValid, s"batch $k failed schema validation: ${v.schemaResult.errors}")
    val actions = t.span("operators.identity.resolve") {
      v.resolutions.groupBy("action").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    t.span("operators.identity.links")(t.force(v.localIds.count()))
    val conflicts = t.span("operators.conflicts.detect")(v.conflicts.count())
    val evolved = t.span("operators.identity.apply_batch") {
      val e = IdentityResolver.applyBatch(reg, v.resolutions, v.localIds, day)
      t.force { e.subjects.count(); e.localIds.count() }
      e
    }
    t.span("sources.publish_registry") {
      IncrementalIdentity.publishRegistry(evolved, store.registry, Some(basis))
    }
    t.span("sources.publish_merge") {
      Sources.publishMergePartitioned(spark, store.table, v.mapped, table, PartitionCol)
    }
    t.span("sources.index_keys")(Sources.indexBatchKeys(spark, store.table, "sample_id"))
    val (sampleRows, files, rows) = t.span("sources.keyed_lookup") {
      val df = Sources.readMergePartitionedKeyed(spark, store.table, PartitionCol, "sample_id",
        rb.samples).select((Columns :+ "global_subject_id").map(col): _*)
      val got = df.collect().map(_.toSeq.map(str)).toSeq
      val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanLike => s }
      (got, scans.map(_.metrics("numFiles").value).sum,
        scans.map(_.metrics("numOutputRows").value).sum)
    }
    val refRows = t.span("sources.registry_lookup") {
      IncrementalIdentity.readRegistry(spark, store.registry).localIds
        .filter(col("local_subject_id").isin(rb.refs: _*) &&
          col("identifier_type") === "consortium_id")
        .select("local_subject_id", "global_subject_id").collect()
        .map(_.toSeq.map(str)).toSeq
    }
    CycleOut(actions, conflicts, sampleRows, refRows, files, rows)
  }

  /** Table read-back and registry links, for the output checks. */
  def dump(ctx: Ctx, store: Store): Unit = {
    val rows = Sources.readMergePartitioned(ctx.spark, store.table, PartitionCol)
      .select((Columns :+ "global_subject_id").map(col): _*).collect()
    Harness.writeLines(new File(ctx.out, "table.jsonl"),
      rows.iterator.map(r => Harness.mapper.writeValueAsString(r.toSeq.map(str))))
    val links = IncrementalIdentity.readRegistry(ctx.spark, store.registry).localIds
      .select("center_id", "local_subject_id", "identifier_type", "global_subject_id").collect()
    Harness.writeLines(new File(ctx.out, "registry.jsonl"),
      links.iterator.map(r => Harness.mapper.writeValueAsString(r.toSeq.map(str))))
  }

  def str(v: Any): String = if (v == null) null else v.toString

  /** Every file under `dir` with its size. */
  def files(ctx: Ctx, dir: String): Map[String, Long] = {
    val fs = FileSystem.get(new java.net.URI(dir), ctx.spark.sparkContext.hadoopConfiguration)
    val p = new Path(dir)
    if (!fs.exists(p)) Map.empty
    else {
      val it = fs.listFiles(p, true)
      val m = mutable.Map[String, Long]()
      while (it.hasNext) { val f = it.next(); m(f.getPath.toString) = f.getLen }
      m.toMap
    }
  }

  def size(path: String): Long = new File(path).length()

  /** Bytes of the files a frame's live plan reads. */
  def liveBytes(ctx: Ctx, dfs: DataFrame*): Long = {
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    dfs.flatMap(_.inputFiles).distinct.map { f =>
      val p = new Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }
}

object Ingest {
  def run(ctx: Ctx): Unit = {
    val off = new Tracer(ctx.spark.sparkContext, false)
    val readBack = scala.io.Source.fromFile(ctx.input("readback.jsonl")).getLines()
      .map(Harness.mapper.readTree).map { n =>
        def strs(f: String) = n.get(f).elements().asScala.map(_.asText).toSeq
        ReadBack(strs("samples"), strs("refs"))
      }.toVector
    val store = ctx.setup {
      val s = Store(s"${ctx.work}/store")
      Identity.seed(ctx, s)
      Identity.cycle(ctx, off, s, 0, readBack(0))
      s
    }
    val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
    val readBacks = mutable.ArrayBuffer[Map[String, Any]]()
    var before = Identity.files(ctx, store.root)
    val n = ctx.measure(limit = readBack.size - 1, warmup = 1) { (i, t) =>
      Identity.cycle(ctx, t, store, i + 1, readBack(i + 1))
    } { (i, _, out: CycleOut) =>
      // outside the timed op: bytes the cycle wrote, split by dir
      val after = Identity.files(ctx, store.root)
      val added = after.filter { case (p, _) => !before.contains(p) }
      before = after
      counts("input_bytes") += Identity.size(Identity.batchFile(ctx, i + 1))
      counts("written_bytes") += added.values.sum
      val parquet = added.filter { case (p, _) =>
        p.contains("/samples/") && p.endsWith(".parquet") }
      counts("merge_files_written") += parquet.size
      counts("merge_bytes_written") += parquet.values.sum
      counts("requests") += out.actions.values.sum
      counts("linked") += out.actions.getOrElse("link_existing", 0L)
      counts("minted") += out.actions.getOrElse("create_new", 0L)
      counts("conflicts") += out.conflicts
      counts("files_read") += out.filesRead
      counts("rows_read") += out.rowsRead
      counts("rows_returned") += out.sampleRows.size
      readBacks += Map("batch" -> (i + 1), "samples" -> out.sampleRows, "refs" -> out.refRows)
      ctx.inputs.get("input").get("batch_rows").asLong
    }
    val reg = IncrementalIdentity.readRegistry(ctx.spark, store.registry)
    counts("live_bytes") = Identity.liveBytes(ctx,
      Sources.readMergePartitioned(ctx.spark, store.table, Identity.PartitionCol),
      reg.subjects, reg.localIds)
    counts("live_input_bytes") = (0 to n).map(k => Identity.size(Identity.batchFile(ctx, k))).sum +
      Identity.size(ctx.input("subjects.csv")) + Identity.size(ctx.input("local_ids.csv"))
    counts("cycles") = n
    ctx.result("counts") = counts.toMap
    Harness.writeLines(new File(ctx.out, "readback.jsonl"),
      readBacks.iterator.map(Harness.mapper.writeValueAsString))
    Identity.dump(ctx, store)
  }
}

object DedupLoop {
  type Pairs = Set[(String, String)]
  val Shingle = 3
  val Hashes = 64
  val Bands = 16
  val Threshold = 0.8
  val MaxBucket = 256

  private def pairs(df: DataFrame): Pairs =
    df.select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** One dedup pass: MinHash-LSH pairs and exact Jaccard pairs. The
    * minhash span has two children: the call to minhashDedup, in which
    * the engine eagerly runs its band-bucket cap job (shingles,
    * signatures, bucket sizes), and the collect that runs the rest of
    * its plan (candidate self-join, verification). */
  def pass(t: Tracer, docs: DataFrame): (Pairs, Pairs) = {
    val mh = t.span("operators.dedup.minhash") {
      val df = t.span("operators.dedup.minhash.build") {
        Dedup.minhashDedup(docs, "doc_id", "text", Shingle, Hashes, Bands, Threshold, MaxBucket)
      }
      t.span("operators.dedup.minhash.collect")(pairs(df))
    }
    val exact = t.span("operators.dedup.jaccard_exact") {
      pairs(Dedup.jaccardPairs(docs, "doc_id", "text", Shingle, Threshold))
    }
    (mh, exact)
  }

  /** Size of the candidate set minhashDedup verifies, rebuilt from the
    * engine's public step entries with the same parameters (the
    * distinct-shingle count per doc joined in, as minhashDedup folds it
    * into its signature aggregate). Only counted, outside any span. */
  def candidates(docs: DataFrame): Long = {
    val sh = Dedup.shingles(docs, "doc_id", "text", Shingle)
    val sig = Dedup.minhashSignatureFromShingles(sh, Hashes)
      .join(sh.groupBy("_id").agg(count(lit(1)).as("_n")), "_id")
    Dedup.minhashCandidates(sig, Bands, Hashes / Bands, MaxBucket,
      sizeThreshold = Threshold, carryN = true).count()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val off = new Tracer(spark.sparkContext, false)
    val schema = StructType(Seq(StructField("doc_id", StringType), StructField("text", StringType)))
    var first: Option[(Pairs, Pairs)] = None
    val docs = ctx.setup {
      val d = Sources.readJsonLines(spark, ctx.input("corpus.jsonl"), Some(schema)).cache()
      d.count()
      first = Some(pass(off, d))
      d
    }
    val nDocs = docs.count()
    var diverged = 0
    ctx.measure(limit = Int.MaxValue, warmup = 1) { (_, t) =>
      pass(t, docs)
    } { (_, _, out: (Pairs, Pairs)) =>
      if (!first.contains(out)) diverged += 1
      nDocs
    }
    if (ctx.tracer.on) ctx.result("counts") = Map(
      "candidates" -> candidates(docs), "verified" -> first.get._1.size)
    ctx.result("passes_differing_from_first") = diverged
    ctx.result("threshold") = Threshold
    val (mh, exact) = first.get
    Seq("minhash_pairs.jsonl" -> mh, "exact_pairs.jsonl" -> exact).foreach { case (f, ps) =>
      Harness.writeLines(new File(ctx.out, f), ps.toSeq.sorted.iterator.map { case (a, b) =>
        Harness.mapper.writeValueAsString(Seq(a, b)) })
    }
  }
}
