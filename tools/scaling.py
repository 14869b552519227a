"""Admission-gated N→4N throughput scaling of the flagship extraction
(BASELINE.md: efficiency >= 0.8 between two parallelism levels).

N = max(1, cpu_count // 4). Each run is `bench.py --cores K --flagship-only
--multiply REPLICATE` in its own JVM, bracketed by this process's probes and
admitted by gate.admitted against this process's quiet_ms(). The levels
interleave N, 4N, 4N, N, N, 4N so slow drift lands on both. Every run appends
a row to BENCH/scaling_runs.jsonl, and one JSON line is printed: per level
the best clean docs/s and n_clean, and efficiency = (dps_4N / dps_N) / 4,
null when either level has no clean run.

Usage: python tools/scaling.py [--sf-dir /root/testdata/sf0.1]
Never run anything else while it runs (~18 min on 4 cores at sf0.1).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from tools import gate  # noqa: E402

# fixed before any measurement: x4 sf0.1 takes ~4 min on 1 core and ~1 min
# on 4, so per-job fixed cost (JVM, warm-up, planning) stays small
REPLICATE = 4
REPS = 3
LOG = os.path.join(REPO, "BENCH", "scaling_runs.jsonl")


def run_one(cores: int, sf_dir: str, quiet: float) -> dict:
    pre = gate.probe_ms()
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--cores", str(cores),
         "--sf-dir", sf_dir, "--flagship-only", "--multiply", str(REPLICATE)],
        capture_output=True, text=True, check=True, cwd=REPO, env=bench.child_env())
    post = gate.probe_ms()
    b = json.loads([ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1])
    sec = b["queries"]["ocr_documento_completo"]
    return {"cores": cores, "multiply": REPLICATE, "sec": sec, "docs": b["docs"],
            "docs_per_sec": round(b["docs"] / sec, 2),
            "probe_pre_ms": round(pre, 1), "probe_post_ms": round(post, 1),
            "quiet_ms": round(quiet, 1),
            "status": "ok" if gate.admitted(pre, post, quiet) else "contended",
            "commit": gate.commit_hash(), "ts": round(time.time(), 1)}


def summarize(rows: list[dict], lo: int, hi: int) -> dict:
    """Best clean docs/s and n_clean per level; efficiency only from clean
    runs at both levels."""
    best, out = {}, {}
    for c in (lo, hi):
        clean = [r["docs_per_sec"] for r in rows
                 if r["cores"] == c and r["status"] == "ok"]
        best[c] = max(clean, default=None)
        out[f"local[{c}]"] = {"best_docs_per_sec": best[c], "n_clean": len(clean)}
    out["efficiency"] = (None if None in best.values()
                         else round(best[hi] / best[lo] / (hi / lo), 3))
    out["target"] = 0.8
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    lo = max(1, (os.cpu_count() or 1) // 4)
    hi = 4 * lo
    quiet = gate.quiet_ms()
    rows = []
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    for i in range(REPS):
        for cores in (lo, hi) if i % 2 == 0 else (hi, lo):
            rows.append(run_one(cores, args.sf_dir, quiet))
            with open(LOG, "a") as f:
                f.write(json.dumps(rows[-1]) + "\n")
    print(json.dumps({"sf_dir": args.sf_dir, "multiply": REPLICATE,
                      "quiet_ms": round(quiet, 1), **summarize(rows, lo, hi)}))


if __name__ == "__main__":
    main()
