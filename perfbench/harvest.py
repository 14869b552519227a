"""Driver-side measurement helpers: plan metrics, worker trace records and
peak resident memory of the process tree.

Plan metrics come from Spark's SQL status store, the same store the SQL UI
reads. For every SQL execution of a pass it holds the AQE-final plan graph
and each node's aggregated metric values, so plans the program executes
internally (the per-bucket writes of the checkpoint job) are covered as
well as the benchmark's own actions. A metric shared by two nodes of the
graph (a reused exchange, a cached relation scanned twice) has one
accumulator id and is counted once.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time

_SIZE = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str, metric_type: str) -> float:
    """A status-store metric string as a number: sizes in bytes, timings in
    seconds, sums as counts. Multi-task values read
    'total (min, med, max ...)\\n<total> (<min>, ...)'; the total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type == "size":
        return value * _SIZE.get(unit, 1.0)
    if metric_type in ("timing", "nsTiming"):
        return value * _TIME.get(unit, 1.0)
    return value


class PlanMetrics:
    """Reads SQL executions from the session's status store."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_execution_id(self) -> int:
        ids = [e.executionId() for e in self._conv.asJava(self._store.executionsList())]
        return max(ids, default=-1)

    def harvest(self, after_id: int, last_id: int, timeout_s: float = 20.0) -> dict:
        """Sum plan metrics over executions after_id < id <= last_id, waiting
        for each to be marked complete (the listener bus is asynchronous)."""
        deadline = time.monotonic() + timeout_s
        while True:
            execs = [e for e in self._conv.asJava(self._store.executionsList())
                     if after_id < e.executionId() <= last_id]
            if all(e.completionTime().isDefined() for e in execs) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        seen = set()
        totals: dict[tuple[str, str], float] = {}
        nodes: dict[str, int] = {}
        for e in execs:
            eid = e.executionId()
            values = self._conv.asJava(self._store.executionMetrics(eid))
            for node in self._conv.asJava(self._store.planGraph(eid).allNodes()):
                name = node.name()
                counted = False
                for m in self._conv.asJava(node.metrics()):
                    acc = m.accumulatorId()
                    if acc in seen:
                        continue
                    text = values.get(acc)
                    if text is None:
                        continue
                    seen.add(acc)
                    counted = True
                    key = (name, m.name())
                    totals[key] = totals.get(key, 0.0) + parse_metric(text, m.metricType())
                if counted:
                    nodes[name] = nodes.get(name, 0) + 1
        return {"totals": totals, "nodes": nodes, "executions": len(execs)}


def pipeline_metrics(h: dict) -> dict:
    """The pipeline.* per-layer metrics from a harvest."""
    t = h["totals"]

    def total(metric: str, node: str | None = None) -> float:
        return sum(v for (n, m), v in t.items() if m == metric and (node is None or n == node))

    python_nodes = {n for (n, m) in t if m == "time to run Python workers"}
    rows = sum(v for (n, m), v in t.items() if n in python_nodes and m == "number of output rows")
    mb = 2.0**20
    return {
        "pipeline.udf_python_total_s": total("time to run Python workers"),
        "pipeline.udf_boot_init_s": total("time to start Python workers")
        + total("time to initialize Python workers"),
        "pipeline.arrow_sent_mb": total("data sent to Python workers") / mb,
        "pipeline.arrow_received_mb": total("data returned from Python workers") / mb,
        "pipeline.udf_rows_received": rows,
        "pipeline.shuffle_write_mb": total("shuffle bytes written", "Exchange") / mb,
        "pipeline.shuffle_records": total("shuffle records written", "Exchange"),
        "pipeline.exchanges": float(h["nodes"].get("Exchange", 0)),
        "pipeline.spill_mb": total("spill size") / mb,
    }


def read_task_records(trace_dir: str) -> list[dict]:
    records = []
    for path in sorted(glob.glob(os.path.join(trace_dir, "*.jsonl"))):
        with open(path) as f:
            records.extend(json.loads(line) for line in f if line.strip())
    return records


def kernel_metrics(records: list[dict], wall_s: float, slots: int) -> dict:
    """Kernel-chain, route and udf.* per-layer metrics from worker records.
    Per-call times are means over the traced calls, in ms."""
    funcs: dict[str, list] = {}
    routes: dict[str, int] = {}
    for r in records:
        for k, (calls, total, child) in r["funcs"].items():
            s = funcs.setdefault(k, [0, 0.0, 0.0])
            s[0] += calls
            s[1] += total
            s[2] += child
        for route, n in r["routes"].items():
            key = "error" if route.startswith("error") else route
            routes[key] = routes.get(key, 0) + n

    def mean_ms(key: str, self_time: bool = False) -> float:
        calls, total, child = funcs.get(key, (0, 0.0, 0.0))
        return 1e3 * (total - child if self_time else total) / calls if calls else 0.0

    best_deskew_calls = funcs.get("best_deskew", (0,))[0]
    retries = funcs.get("skew_candidates", (0,))[0]
    busy = sum(r["busy_s"] for r in records)
    by_stage: dict[int, dict[int, float]] = {}
    for r in records:
        parts = by_stage.setdefault(r["stage"], {})
        parts[r["partition"]] = parts.get(r["partition"], 0.0) + r["busy_s"]
    skew = 0.0
    if by_stage:
        heaviest = max(by_stage.values(), key=lambda p: sum(p.values()))
        median = statistics.median(heaviest.values())
        skew = max(heaviest.values()) / median if median > 0 else 0.0
    return {
        "render.ms": mean_ms("render_text_image"),
        "encode.png_ms": mean_ms("encode.png"),
        "encode.jpeg_ms": mean_ms("encode.jpeg"),
        "decode.png_ms": mean_ms("decode.png"),
        "decode.jpeg_ms": mean_ms("decode.jpeg"),
        "modes.run_mode_ms": mean_ms("run_mode"),
        "enhance.deskew_binary_ink_ms": mean_ms("deskew_binary_ink"),
        "engine.best_deskew_ms": mean_ms("best_deskew"),
        # best_deskew's self time: recognition and the retry ladder's
        # re-binarizations, without deskew_binary_ink and skew_candidates
        "engine.recognize_ms": mean_ms("best_deskew", self_time=True),
        "enhance.skew_retry_share": retries / best_deskew_calls if best_deskew_calls else 0.0,
        "detection.count_horizontal_lines_ms": mean_ms("count_horizontal_lines"),
        "engine.group_words_ms": mean_ms("group_words_into_lines"),
        "modes.routes.texto": float(routes.get("texto", 0)),
        "modes.routes.tabla": float(routes.get("tabla", 0)),
        "modes.routes.tabla_fallback_segmentacion": float(routes.get("tabla_fallback_segmentacion", 0)),
        "modes.routes.error": float(routes.get("error", 0)),
        "udf.busy_s": busy,
        "udf.busy_share": busy / (slots * wall_s) if wall_s > 0 else 0.0,
        "udf.partition_busy_max_over_p50": skew,
    }


def _tree_rss_bytes(root_pid: int, page: int) -> int:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are positional
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (driver JVM, Python daemon and workers) from /proc every `period` s."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid, self._page))
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
