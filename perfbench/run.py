"""Extraction benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload fused_media --seed 3 --seconds 10 --trace 0

Run from the root of a checkout. The seed generates the workload's documents
table (perfbench/inputs.py); the benchmark writes it to parquet and the
program reads it like any input table. One driver process runs one job at
a time: the next pass starts when the previous result is materialized and
checked. Every pass is checked against the round-trip oracle rule; the last
line of stdout is the result JSON, the line before it a `context` JSON line.

Workloads (documento_completo mode):
  fused_media   sf0.1-shaped documents, 1/3 of spans media, mixed PNG/JPEG,
                through extract_documents (the 'unified' plan at this size):
                the per-span render/encode/decode/OCR chain dominates.
  textmix_skew  52k short docs with ~1% media spans plus 8 hot docs of 256
                spans: crosses AUTO_PERSIST_MIN_DOCS, so the 'persist' plan
                runs; scan/explode, the persisted flat-spans stage and the
                salted two-level reassembly dominate.

--trace 0 prints the end-to-end metrics: the median wall time of the
measured passes (at least three, more while --seconds has not elapsed),
docs/s from it, the median of three set-ups (session start plus an untimed
warm-up of the workload's own plan shape on a small input; the first also
starts the JVM) and the peak resident memory of the process tree over the
run. --trace 1 is a separate run for the per-layer metrics: after one set-up
and an untimed full-size pass it times layer passes around the program's
public functions, then one pass with the worker tracer (worker_trace.py) on,
between two untraced passes, with the plan metrics harvested from Spark's
status store (harvest.py). On fused_media it also runs the checkpoint job
(run_with_checkpoint, killed after half its buckets, resumed, read_output)
over the same documents for the checkpoint.* metrics; on textmix_skew those
read 0.

trace.unattributed_share is the share of the untraced wall (the mean of the
two untraced passes) that the layer spans do not cover, 1 - (scan_explode_s
+ udf.busy_s / slots + reassembly_s) / wall: Arrow hand-off on the JVM side,
task scheduling and partition imbalance in the UDF stage land here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

WORKLOADS = ("fused_media", "textmix_skew")
MODE = "documento_completo"
SETUP_REPS = 3
MIN_PASSES = 3
# the checkpoint job is killed after half its buckets and resumed; its
# warm-up makes the same calls with one bucket (every bucket runs the same plans)
CKPT_BUCKETS = 2
CKPT_WARM_BUCKETS = 1


def _env(run_dir: str) -> None:
    """Everything the run writes stays under the checkout: Python temp files
    (py4j's, the native JPEG helper's build cache, kept across runs), the
    JVM's temp files, Spark's local dirs and the trace records (removed
    with the run directory). Python workers import the program and the tracer
    from the checkout, wherever the benchmark is started from."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM: no perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PERFBENCH_TRACE_DIR"] = os.path.join(run_dir, "trace")
    os.makedirs(os.environ["PERFBENCH_TRACE_DIR"], exist_ok=True)
    sys.path.insert(0, ROOT)


def _session(run_dir: str, trace: bool):
    from api_ocr_spark.plans.session import get_spark

    jvm_tmp = os.path.join(run_dir, "jvm-tmp")
    os.makedirs(jvm_tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.python.daemon.module"] = "worker_trace"
    spark = get_spark(app_name="perfbench", cores=_slots(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _slots() -> int:
    return len(os.sched_getaffinity(0))


def _shutdown_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# correctness
# --------------------------------------------------------------------------

def check_table(tbl, expected: dict[str, tuple[str, int]]) -> int:
    """Documents missing, extra or mismatched (text or span count): a full
    outer comparison keyed by doc_id."""
    import pyarrow.compute as pc

    got: dict[str, tuple[str, int]] = {}
    extra = 0
    ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("extracted_text").to_pylist()
    n_spans = pc.list_value_length(tbl.column("spans")).to_pylist()
    for d, t, n in zip(ids, texts, n_spans):
        if d in got or d not in expected:
            extra += 1
            continue
        got[d] = (t, n)
    bad = sum(1 for d, want in expected.items() if got.get(d) != want)
    return bad + extra


# --------------------------------------------------------------------------
# workloads: one pass = input table -> complete, materialized result
# --------------------------------------------------------------------------

class Extraction:
    """One pass of extract_documents with the auto strategy. The warm-up
    names the strategy the full-size input picks, since the small warm-up
    input alone would pick 'unified'."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.warm_strategy = "persist" if name == "textmix_skew" else "unified"

    def frame(self, spark, path: str, warm: bool = False):
        from api_ocr_spark.operators.pipeline import extract_documents

        return extract_documents(spark.read.parquet(path), mode=MODE,
                                 strategy=self.warm_strategy if warm else "auto")

    def run_pass(self, spark, path: str, expected, warm: bool = False) -> dict:
        from api_ocr_spark.operators.pipeline import release_persisted

        t0 = time.perf_counter()
        tbl = self.frame(spark, path, warm).toArrow()
        wall = time.perf_counter() - t0
        release_persisted()
        return {"wall_s": wall, "failed": check_table(tbl, expected), "ok": True}


def checkpoint_job(spark, path: str, expected, base_dir: str, buckets: int) -> dict:
    """The production job path (jobs/run_extraction.py -> run_with_checkpoint):
    a first call killed after half the buckets, a resumed call, read_output.
    Checks the resume bookkeeping, the read-back output and the error count
    read_metrics reports."""
    from pyspark.sql import functions as F

    from api_ocr_spark.plans.checkpoint import read_metrics, read_output, run_with_checkpoint

    first_call = (buckets + 1) // 2
    docs = spark.read.parquet(path)
    t0 = time.perf_counter()
    first = run_with_checkpoint(spark, docs, base_dir, run_group="bench", run_id="r0",
                                mode=MODE, n_buckets=buckets, max_buckets=first_call)
    t1 = time.perf_counter()
    second = run_with_checkpoint(spark, docs, base_dir, run_group="bench", run_id="r1",
                                 mode=MODE, n_buckets=buckets)
    t2 = time.perf_counter()
    tbl = read_output(spark, base_dir, run_group="bench").toArrow()
    t3 = time.perf_counter()
    n_errors = read_metrics(spark, base_dir).agg(F.sum("n_errors")).first()[0] or 0
    ok = (len(first["processed"]) == first_call
          and sorted(second["skipped"]) == sorted(first["processed"])
          and sorted(first["processed"] + second["processed"]) == list(range(buckets))
          and n_errors == 0)
    return {"wall_s": t3 - t0, "resume_s": t2 - t1, "read_output_s": t3 - t2,
            "failed": check_table(tbl, expected), "ok": ok, "error_spans": n_errors}


# --------------------------------------------------------------------------
# the two kinds of run
# --------------------------------------------------------------------------

class Run:
    def __init__(self, workload: str, seed: int, run_dir: str) -> None:
        import inputs

        self.wl = Extraction(workload)
        self.run_dir = run_dir
        self.path = os.path.join(run_dir, "documents.parquet")
        self.warm_path = os.path.join(run_dir, "warmup.parquet")
        docs = inputs.build(workload, seed)
        warm = inputs.warmup(workload, seed)
        inputs.write_parquet(docs, self.path)
        inputs.write_parquet(warm, self.warm_path)
        self.n_docs = len(docs)
        self.expected = inputs.expected(docs)
        self.warm_expected = inputs.expected(warm)
        self.attempted = 0
        self.failed = 0
        self.ok = True

    def record(self, result: dict, n_docs: int) -> dict:
        self.attempted += n_docs
        self.failed += result["failed"]
        self.ok &= result["ok"]
        return result

    def setup(self, spark, trace: bool):
        """Session start plus the warm-up pass; returns (spark, seconds)."""
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _session(self.run_dir, trace)
        r = self.wl.run_pass(spark, self.warm_path, self.warm_expected, warm=True)
        seconds = time.perf_counter() - t0
        self.ok &= r["ok"] and r["failed"] == 0
        return spark, seconds

    def measured_pass(self, spark) -> dict:
        return self.record(self.wl.run_pass(spark, self.path, self.expected), self.n_docs)


def run_untraced(run: Run, seconds: float) -> tuple[dict[str, float], dict]:
    from harvest import PeakRss

    setups, walls = [], []
    spark = None
    with PeakRss() as rss:
        for _ in range(SETUP_REPS):
            spark, s = run.setup(spark, trace=False)
            setups.append(s)
        t_end = time.perf_counter() + seconds
        while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
            walls.append(run.measured_pass(spark)["wall_s"])
        spark.stop()
    wall = statistics.median(walls)
    metrics = {
        "wall_s": wall,
        "docs_per_s": run.n_docs / wall,
        "setup_s": statistics.median(setups),
        "peak_rss_mb": rss.peak / 2.0**20,
    }
    context = {"passes": len(walls), "walls_s": walls, "setups_s": setups, "docs": run.n_docs}
    return metrics, context


def _noop_write(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _udf_output_frame(spark, df):
    """The program's own plan for `df`, cut at its Python UDF node: the same
    scan, explode and span stage without the reassembly above it."""
    from pyspark.sql import DataFrame

    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    todo = [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.nodeName() in ("MapInPandas", "MapInArrow"):
            jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, node)
            return DataFrame(jdf, spark)
        todo.extend(conv.asJava(node.children()))
    raise RuntimeError("no Python UDF node in the extraction plan")


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2.0**20


def checkpoint_layer(spark, run: Run) -> dict:
    """checkpoint.* and interleave.build_media_s on the workload's documents:
    the job's plans are warmed on the warm-up input with one bucket, then
    the measured job runs with CKPT_BUCKETS."""
    from pyspark.sql import functions as F

    from api_ocr_spark.plans.checkpoint import read_lineage
    from api_ocr_spark.sources.interleave import build_media

    m = {"interleave.build_media_s": _noop_write(build_media(spark.read.parquet(run.path)))}
    warm_dir = os.path.join(run.run_dir, "ckpt-warm")
    warm = checkpoint_job(spark, run.warm_path, run.warm_expected, warm_dir, CKPT_WARM_BUCKETS)
    run.ok &= warm["ok"] and warm["failed"] == 0
    base = os.path.join(run.run_dir, "ckpt")
    r = run.record(checkpoint_job(spark, run.path, run.expected, base, CKPT_BUCKETS), run.n_docs)
    bucket_ms = [row[0] for row in read_lineage(spark, base)
                 .filter(F.col("run_group") == "bench").select("wall_ms").collect()]
    m.update({
        "checkpoint.bucket_wall_ms_p50": statistics.median(bucket_ms),
        "checkpoint.bucket_wall_ms_max": max(bucket_ms),
        "checkpoint.read_output_s": r["read_output_s"],
        "checkpoint.resume_s": r["resume_s"],
        "checkpoint.error_spans": float(r["error_spans"]),
        "checkpoint.output_mb": _dir_mb(os.path.join(base, "output")),
    })
    return m


CHECKPOINT_LAYER = ("interleave.build_media_s", "checkpoint.bucket_wall_ms_p50",
                    "checkpoint.bucket_wall_ms_max", "checkpoint.read_output_s",
                    "checkpoint.resume_s", "checkpoint.error_spans", "checkpoint.output_mb")


def run_traced(run: Run) -> tuple[dict[str, float], dict]:
    import harvest
    from api_ocr_spark.operators.pipeline import release_persisted
    from api_ocr_spark.sources.interleave import flat_spans

    wl = run.wl
    spark, _ = run.setup(None, trace=True)
    slots = _slots()
    plans = harvest.PlanMetrics(spark)
    m: dict[str, float] = {}

    # the first full-size pass still warms the JVM; it is checked, not timed
    run.measured_pass(spark)

    docs = spark.read.parquet(run.path)
    m["interleave.scan_explode_s"] = _noop_write(flat_spans(docs))
    kinds = dict(flat_spans(docs).groupBy("kind").count().collect())
    m["interleave.spans"] = float(sum(kinds.values()))
    m["interleave.media_spans"] = float(kinds.get("media", 0))
    up_to_udf = _noop_write(_udf_output_frame(spark, wl.frame(spark, run.path)))
    release_persisted()

    # the traced pass is bracketed by two untraced ones, so the JVM's
    # continuing warm-up does not read as (negative) tracing overhead
    trace_dir = os.environ["PERFBENCH_TRACE_DIR"]
    flag = os.path.join(trace_dir, "ON")
    before_u = run.measured_pass(spark)["wall_s"]
    before = plans.last_execution_id()
    open(flag, "w").close()
    try:
        wall_t = run.measured_pass(spark)["wall_s"]
    finally:
        os.remove(flag)
    traced_execs = plans.harvest(before, plans.last_execution_id())
    wall_u = (before_u + run.measured_pass(spark)["wall_s"]) / 2
    m["pipeline.reassembly_s"] = wall_u - up_to_udf
    m.update(harvest.pipeline_metrics(traced_execs))
    m.update(harvest.kernel_metrics(harvest.read_task_records(trace_dir), wall_t, slots))
    attributed = (m["interleave.scan_explode_s"] + m["udf.busy_s"] / slots
                  + m["pipeline.reassembly_s"])
    m["trace.unattributed_share"] = 1.0 - attributed / wall_u
    m["trace.overhead_share"] = (wall_t - wall_u) / wall_u

    if wl.name == "fused_media":
        m.update(checkpoint_layer(spark, run))
    else:
        m.update(dict.fromkeys(CHECKPOINT_LAYER, 0.0))
    spark.stop()
    context = {"wall_untraced_s": wall_u, "wall_traced_s": wall_t, "up_to_udf_s": up_to_udf,
               "slots": slots, "docs": run.n_docs}
    return m, context


def declared_metrics(trace: int) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this kind of
    run; a run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _gate_probe():
    """tools/gate.py's host probe, recorded as context (not a filter)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("gate", os.path.join(ROOT, "tools", "gate.py"))
    gate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gate)
    return gate.probe_ms


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "api_ocr_spark", "operators", "pipeline.py")):
        print(f"program source not found under {ROOT}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    _env(run_dir)
    try:
        probe_ms = _gate_probe()
        probe_before = probe_ms()
        run = Run(args.workload, args.seed, run_dir)
        if args.trace:
            metrics, context = run_traced(run)
        else:
            metrics, context = run_untraced(run, args.seconds)
        units = declared_metrics(args.trace)
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} do not match "
                               "BENCHMARK.json")
        context.update(probe_ms_before=probe_before, probe_ms_after=probe_ms(),
                       workload=args.workload, seed=args.seed, trace=args.trace)
    except Exception:  # noqa: BLE001 — report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        try:
            _shutdown_jvm()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": bool(run.ok and run.failed == 0),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
