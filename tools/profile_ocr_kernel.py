"""Profile the per-image OCR kernel chain (render -> encode -> decode ->
run_mode) WITHOUT Spark: the flagship's mapInPandas cost is n_media x this
chain, so kernel-level wins translate 1:1. Prints a stage breakdown and an
optional cProfile top-30 (guide 1.1 empirical loop, applied inside the task).

Usage: python tools/profile_ocr_kernel.py [n_spans] [--profile] [--mode M]
"""
from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from api_ocr_spark.config import RENDER_SEED_MULT, SCENARIO_MULT  # noqa: E402
from api_ocr_spark.imaging import png as png_codec  # noqa: E402
from api_ocr_spark.imaging.render import SCENARIOS, render_text_image  # noqa: E402
from api_ocr_spark.operators import modes as mode_lib  # noqa: E402
from api_ocr_spark.sources.interleave import encode_media, media_fmt  # noqa: E402

WORDS = ("factura cliente total fecha importe direccion telefono numero "
         "pago banco cuenta producto cantidad precio descuento").split()


def make_chunks(n: int) -> list[tuple[int, int, str]]:
    out = []
    for i in range(n):
        doc_num, offset = i // 7, (i % 7) * 3
        k = 3 + (i % 6)
        words = [WORDS[(i * 5 + j) % len(WORDS)] for j in range(k)]
        out.append((doc_num, offset, " ".join(words)))
    return out


def run(chunks, mode: str, timings: dict | None = None):
    for doc_num, offset, chunk in chunks:
        t0 = time.perf_counter()
        scenario = SCENARIOS[(doc_num * SCENARIO_MULT + offset) % len(SCENARIOS)]
        seed = doc_num * RENDER_SEED_MULT + offset
        img = render_text_image(chunk, scenario, seed=seed)
        t1 = time.perf_counter()
        data = encode_media(img, media_fmt(doc_num, offset))
        t2 = time.perf_counter()
        gray = png_codec.decode_gray_auto(data)
        t3 = time.perf_counter()
        mode_lib.run_mode(gray, mode)
        t4 = time.perf_counter()
        if timings is not None:
            timings.setdefault("render", 0.0)
            timings["render"] += t1 - t0
            timings["encode"] = timings.get("encode", 0.0) + (t2 - t1)
            timings["decode"] = timings.get("decode", 0.0) + (t3 - t2)
            timings["ocr"] = timings.get("ocr", 0.0) + (t4 - t3)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 200
    mode = "documento_completo"
    if "--mode" in sys.argv:
        mode = sys.argv[sys.argv.index("--mode") + 1]
    chunks = make_chunks(n)
    run(chunks[:8], mode)  # warm imports/caches
    timings: dict = {}
    t0 = time.perf_counter()
    run(chunks, mode, timings)
    total = time.perf_counter() - t0
    print(f"n={n} mode={mode} total={total:.3f}s  per-image={total / n * 1e3:.2f}ms")
    for k, v in sorted(timings.items(), key=lambda kv: -kv[1]):
        print(f"  {k:8s} {v:.3f}s  ({v / total * 100:.1f}%)  {v / n * 1e3:.3f}ms/img")
    if "--profile" in sys.argv:
        pr = cProfile.Profile()
        pr.enable()
        run(chunks, mode)
        pr.disable()
        s = io.StringIO()
        pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(35)
        print(s.getvalue())


if __name__ == "__main__":
    main()
