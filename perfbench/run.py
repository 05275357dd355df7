"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload ingest|dedup --seed N \
        --seconds S --trace 0|1

Builds the engine and the harness (`build.py`), generates the
workload's inputs from the seed (`gen.py`), runs the harness JVM on
local[nproc] with one closed-loop client, checks the outputs
(`checks.py`) and prints one JSON object as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits non-zero when the build, the run or a check fails.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

RUN_TIMEOUT_S = 170
# The heap starts at MIN_HEAP and grows to MAX_HEAP as the engine
# allocates, so peak RSS follows the engine's heap beyond the floor and
# its native memory. Below the floor, G1 grows the heap by how much time
# GC takes, and peak RSS then varied by +-15% between runs on one input
# (4-vCPU VM).
MIN_HEAP, MAX_HEAP = "1g", "2g"

# Spans the harness records, by workload; every traced run reports all
# of them (a span a workload never enters reads 0).
SPANS = {
    "ingest": ["sources.read_csv", "sources.read_registry", "pipeline.validate",
               "operators.identity.resolve", "operators.identity.links",
               "operators.conflicts.detect", "operators.identity.apply_batch",
               "sources.publish_registry", "sources.publish_merge",
               "sources.index_keys", "sources.keyed_lookup", "sources.registry_lookup"],
    "dedup": ["operators.dedup.minhash", "operators.dedup.minhash.build",
              "operators.dedup.minhash.collect", "operators.dedup.jaccard_exact"],
}
SPAN_COUNTERS = [("wall_s", "s"), ("self_s", "s"), ("jobs", "count"),
                 ("task_cpu_s", "s"), ("avg_par", "cores"), ("shuffle_write_mb", "MB")]
RATIOS = [
    ("operators.identity.linked_share", "ratio"),
    ("operators.identity.minted_share", "ratio"),
    ("operators.conflicts.per_input_row", "ratio"),
    ("sources.publish_merge.rows_written_per_input_row", "ratio"),
    ("sources.publish_merge.files_written", "count"),
    ("sources.publish_merge.mean_file_mb", "MB"),
    ("sources.keyed_lookup.files_read_per_lookup", "count"),
    ("sources.keyed_lookup.rows_read_per_row_returned", "ratio"),
    ("operators.dedup.candidates_per_verified_pair", "ratio"),
    ("operators.dedup.recall_vs_exact", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.spill_mb", "MB"),
    ("trace.overhead_s", "s"),
]
# the JVM options spark-submit adds for JDK 17
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    return len(os.sched_getaffinity(0))


def harness(classpath, workload, work, seconds, trace):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xms" + MIN_HEAP, "-Xmx" + MAX_HEAP, "-Xss8m",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", "--workload", workload,
            "--work", work, "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores())]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError("harness exited with %s:\n%s" % (code, tail))
    with open(os.path.join(work, "out", "result.json")) as f:
        return json.load(f)


def end_to_end(workload, result):
    """The metrics every untraced run reports, and a detail dict with the
    workload's own names for them, its tail latency where at least ten
    samples lie beyond one, and the ingest byte ratios."""
    ops = [o for o in result["ops"] if not o["traced"]]
    walls = [o["wall_s"] for o in ops]
    p50 = statistics.median(walls)
    rate = sum(o["units"] for o in ops) / sum(walls)
    metrics = {"setup_s": (result["setup_s"], "s"),
               "op_s_p50": (p50, "s"),
               "units_per_s": (rate, "1/s"),
               "peak_rss_mb": (result["peak_rss_mb"], "MB")}
    op, unit = {"ingest": ("ingest_cycle", "ingest_rows"),
                "dedup": ("dedup_pass", "dedup_docs")}[workload]
    detail = {op + "_s_p50": p50, unit + "_per_s": rate, "samples": len(walls)}
    t = stats.tail(walls)
    if t:
        detail["%s_s_p%d" % (op, round(t[0] * 100))] = t[1]
    if workload == "ingest":
        c = result["counts"]
        detail["write_bytes_per_input_byte"] = c["written_bytes"] / c["input_bytes"]
        detail["live_bytes_per_input_byte"] = c["live_bytes"] / c["live_input_bytes"]
    return metrics, detail


def per_layer(result, extra):
    ops = [o for o in result["ops"] if o["traced"]]
    untraced = [o["wall_s"] for o in result["ops"] if not o["traced"]]
    n = len(ops)
    layers = result.get("layers", {})
    m = {}
    for span in (s for ss in SPANS.values() for s in ss):
        got = layers.get(span, {})
        for counter, unit in SPAN_COUNTERS:
            v = got.get(counter, 0.0)
            m["%s.%s" % (span, counter)] = (v if counter == "avg_par" else v / n, unit)
    c = result.get("counts", {})

    def ratio(a, b):
        return a / b if b else 0.0

    merge = layers.get("sources.publish_merge", {})
    values = {
        "operators.identity.linked_share": ratio(c.get("linked", 0), c.get("requests", 0)),
        "operators.identity.minted_share": ratio(c.get("minted", 0), c.get("requests", 0)),
        "operators.conflicts.per_input_row": ratio(
            c.get("conflicts", 0), sum(o["units"] for o in result["ops"])),
        "sources.publish_merge.rows_written_per_input_row": ratio(
            merge.get("output_records", 0), sum(o["units"] for o in ops)),
        "sources.publish_merge.files_written": ratio(
            c.get("merge_files_written", 0), c.get("cycles", 0)),
        "sources.publish_merge.mean_file_mb": ratio(
            c.get("merge_bytes_written", 0) / 1e6, c.get("merge_files_written", 0)),
        "sources.keyed_lookup.files_read_per_lookup": ratio(
            c.get("files_read", 0), c.get("cycles", 0)),
        "sources.keyed_lookup.rows_read_per_row_returned": ratio(
            c.get("rows_read", 0), c.get("rows_returned", 0)),
        "operators.dedup.candidates_per_verified_pair": ratio(
            c.get("candidates", 0), c.get("verified", 0)),
        "operators.dedup.recall_vs_exact": extra.get("recall_vs_exact", 0.0),
        "spark.gc_s": result["gc_s"],
        "spark.spill_mb": result.get("spill_mb", 0.0),
        "trace.overhead_s": (statistics.median([o["wall_s"] for o in ops])
                             - statistics.median(untraced)),
    }
    for name, unit in RATIOS:
        m[name] = (values[name], unit)
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2
    work = os.path.join(root, build.BUILD_DIR, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    props = gen.generate(args.workload, args.seed, inputs)
    try:
        result = harness(classpath, args.workload, work, args.seconds, args.trace)
    except RuntimeError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1
    fails, extra = checks.run(args.workload, inputs, os.path.join(work, "out"),
                              result, args.seed)
    if args.trace:
        # spans run one at a time inside the traced operations
        extra["span_self_s"] = sum(v["self_s"] for v in result["layers"].values())
        extra["traced_wall_s"] = sum(o["wall_s"] for o in result["ops"] if o["traced"])
        extra["regrouped_jobs"] = result["regrouped_jobs"]
        if extra["span_self_s"] > extra["traced_wall_s"]:
            fails.append((0, "span self times exceed the traced wall"))
    attempted = len(result["ops"])
    failed_ops = {op for op, _ in fails}
    if args.workload == "ingest":
        # the timed cycles ingested the last `attempted` batches; a wrong
        # set-up or warm-up batch still makes the run incorrect
        n = int(result["counts"]["cycles"])
        failed_ops &= set(range(n + 1 - attempted, n + 1))
    elif fails:
        failed_ops = set(range(attempted))
    failed = min(attempted, len(failed_ops) + result.get("passes_differing_from_first", 0))
    for _, msg in fails[:20]:
        print("check failed: %s" % msg, file=sys.stderr)
    info = {"workload": args.workload, "cores": result["cores"], "inputs": props,
            "checks_failed": len(fails),
            "op_walls_s": [o["wall_s"] for o in result["ops"]], "gc_s": result["gc_s"],
            "ops_failed_ratio": failed / attempted, **extra}
    if args.trace:
        metrics = per_layer(result, extra)
        info["trace"] = os.path.relpath(os.path.join(work, "out", "trace.json"), root)
    else:
        metrics, detail = end_to_end(args.workload, result)
        info.update(detail)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": not fails and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if not fails and failed == 0 else 1


if __name__ == "__main__":
    # a terminated run still stops (and waits for) the harness JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
