"""Python-worker tracer for the traced benchmark run.

Spark starts this module as its Python daemon (`spark.python.daemon.module`)
in place of `pyspark.daemon`. Before the daemon forks any worker it wraps the
program's public kernel-chain functions and the per-task worker entry point;
forked workers inherit the wrapped modules. Nothing inside `api_ocr_spark`
is edited: the wrappers replace module attributes, and the program resolves
those attributes at call time.

Recording is on for a task when the file `<PERFBENCH_TRACE_DIR>/ON` exists
as the task starts. Each traced task appends one JSON line to
`<PERFBENCH_TRACE_DIR>/<pid>.jsonl`: its stage, partition, busy seconds
(wall time inside the worker's task loop, Arrow hand-off included), and per
wrapped function its calls, inclusive seconds and seconds spent in wrapped
children. Statistics stay in memory for the task and are written when it
ends; the driver reads the files after the run.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time

import pyspark.daemon as _daemon

TRACE_DIR = os.environ.get("PERFBENCH_TRACE_DIR", "")

# (module, function): the kernel chain of one media span
WRAPPED = (
    ("api_ocr_spark.imaging.render", "render_text_image"),
    ("api_ocr_spark.sources.interleave", "encode_media"),
    ("api_ocr_spark.imaging.png", "decode_gray_auto"),
    ("api_ocr_spark.operators.modes", "run_mode"),
    ("api_ocr_spark.kernels.enhance", "deskew_binary_ink"),
    ("api_ocr_spark.kernels.enhance", "skew_candidates"),
    ("api_ocr_spark.ocr.engine", "best_deskew"),
    ("api_ocr_spark.kernels.detection", "count_horizontal_lines"),
    ("api_ocr_spark.ocr.engine", "group_words_into_lines"),
)


class _Task:
    """Statistics of the task running in this worker process."""

    def __init__(self) -> None:
        self.on = False
        self.funcs: dict[str, list] = {}
        self.routes: dict[str, int] = {}
        self.stack: list[float] = []
        self.context = None  # the TaskContext pyspark.worker.main creates
        self.t0 = 0.0


_task = _Task()


def _key(name: str, args: tuple, kwargs: dict) -> str:
    if name == "encode_media":
        fmt = args[1] if len(args) > 1 else kwargs.get("fmt")
        return "encode.jpeg" if fmt == "jpeg" else "encode.png"
    if name == "decode_gray_auto":
        data = args[0] if args else kwargs.get("data")
        return "decode.jpeg" if bytes(data[:2]) == b"\xff\xd8" else "decode.png"
    return name


def _wrap(name: str, fn):
    def traced(*args, **kwargs):
        task = _task
        if not task.on:
            return fn(*args, **kwargs)
        key = _key(name, args, kwargs)
        task.stack.append(0.0)
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        except BaseException:
            # an exception leaving the outermost traced call becomes the
            # UDF's error row
            if len(task.stack) == 1:
                task.routes["error"] = task.routes.get("error", 0) + 1
            raise
        finally:
            dt = time.perf_counter() - t0
            child = task.stack.pop()
            if task.stack:
                task.stack[-1] += dt
            s = task.funcs.setdefault(key, [0, 0.0, 0.0])
            s[0] += 1
            s[1] += dt
            s[2] += child
        if name == "run_mode" and isinstance(result, dict):
            route = str(result.get("route", ""))
            task.routes[route] = task.routes.get(route, 0) + 1
        return result

    traced.__wrapped__ = fn
    return traced


def install() -> None:
    """Replace every reference to a WRAPPED function held by a loaded
    api_ocr_spark module (modules that imported it by name included)."""
    swaps = {}
    for mod_name, fn_name in WRAPPED:
        fn = getattr(importlib.import_module(mod_name), fn_name)
        swaps[id(fn)] = _wrap(fn_name, fn)
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("api_ocr_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if id(value) in swaps:
                setattr(mod, attr, swaps[id(value)])


def _start_on_task_context() -> None:
    """A reused worker enters the task loop as soon as its previous task
    ends and then blocks until the next task's data arrives, so the task
    starts when pyspark.worker.main creates its TaskContext, not when the
    loop is entered. The flag is checked and the clock started there."""
    from pyspark.taskcontext import TaskContext

    create = TaskContext._getOrCreate

    def get_or_create(cls):
        task = _task
        task.context = create()
        task.on = bool(TRACE_DIR) and os.path.exists(os.path.join(TRACE_DIR, "ON"))
        if task.on:
            task.funcs, task.routes, task.stack = {}, {}, []
            task.t0 = time.perf_counter()
        return task.context

    TaskContext._getOrCreate = classmethod(get_or_create)


_worker_main = _daemon.worker_main


def traced_main(infile, outfile):
    try:
        return _worker_main(infile, outfile)
    finally:
        task = _task
        if task.on:
            task.on = False
            tc = task.context
            record = {
                "pid": os.getpid(), "stage": tc.stageId(), "partition": tc.partitionId(),
                "attempt": tc.attemptNumber(), "busy_s": time.perf_counter() - task.t0,
                "funcs": task.funcs, "routes": task.routes,
            }
            with open(os.path.join(TRACE_DIR, f"{os.getpid()}.jsonl"), "a") as f:
                f.write(json.dumps(record) + "\n")


if __name__ == "__main__":
    install()
    _start_on_task_context()
    _daemon.worker_main = traced_main
    _daemon.manager()
