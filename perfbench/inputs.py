"""Seeded input generators for the extraction benchmark.

Every workload is a pure function of its seed. The benchmark writes the
documents table to parquet inside its work directory and hands the program
only that table; the expected output is derived from the same rows.

All text uses the 31-word vocabulary of the test-data `documents` tables
(every word at most 8 characters), which is the font and word-length
contract the span-exact OCR rests on. The cost-relevant shape of each
workload (number of documents, the multiset of document lengths) is fixed;
the seed moves the words and the doc_ids, and through the doc_ids the
media / JPEG / scenario assignment of the span-synthesis rules.
"""

from __future__ import annotations

import math
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
RARE_WORD = "dup"  # the 31st word of the test-data corpus, ~0.1% of tokens

# Sizes are chosen so one measured pass takes a few seconds on a 4-core host
# and a run holds several passes (see run.py).
FUSED_DOCS = 640
FUSED_WORDS = (10, 99)          # sf0.1 documents: 10..100 words, mean 54
TEXTMIX_DOCS = 52_000           # >= AUTO_PERSIST_MIN_DOCS: the persist plan
TEXTMIX_WORDS = (4, 16)
TEXTMIX_MEDIA_DOC_SHARE = 0.01  # short docs whose doc_id puts a span on media
TEXTMIX_HOT_DOCS = 8
TEXTMIX_HOT_WORDS = 2048        # 256 spans each: the salted reassembly's skew
# warm-up inputs: the plan shape of the workload, with enough rows to get the
# JVM's JIT going on the hot paths before the measured passes
WARMUP_DOCS = {"fused_media": 160, "textmix_skew": 4_000}


def _words(rng: random.Random, n: int) -> str:
    return " ".join(
        RARE_WORD if rng.random() < 0.001 else rng.choice(VOCAB) for _ in range(n))


def _spread_lengths(n: int, lo: int, hi: int) -> list[int]:
    """n document lengths spread evenly over [lo, hi] — the same multiset
    for every seed, so the work per pass does not depend on the seed."""
    return [lo + (i * (hi - lo + 1)) // n for i in range(n)]


def sf_like(seed: int, n_docs: int) -> list[tuple[int, str]]:
    """Documents in the shape of the sf0.1 test-data `documents` table.
    Seed 0 keeps doc_ids 0..n-1 (that table's numbering); other seeds
    draw distinct doc_ids, which moves the media/JPEG/scenario assignment."""
    rng = random.Random(f"sf_like:{seed}")
    lengths = _spread_lengths(n_docs, *FUSED_WORDS)
    rng.shuffle(lengths)
    ids = list(range(n_docs)) if seed == 0 else sorted(rng.sample(range(10_000_000), n_docs))
    return [(d, _words(rng, k)) for d, k in zip(ids, lengths)]


def textmix(seed: int, n_docs: int = TEXTMIX_DOCS) -> list[tuple[int, str]]:
    """Many short docs, ~1% of spans on media, plus a few very long hot docs.

    Span i of doc d is media iff (d + i) % 3 == 0. A doc with d % 3 == 1 has
    media only from offset 2 on, so short docs (one or two spans) with that
    residue are all text; the media share comes from the few short docs given
    another residue and from the hot docs (every third span)."""
    rng = random.Random(f"textmix:{seed}")
    lengths = _spread_lengths(n_docs, *TEXTMIX_WORDS)
    rng.shuffle(lengths)
    n_media_docs = round(n_docs * TEXTMIX_MEDIA_DOC_SHARE)
    base = rng.randrange(1_000_000)
    docs = []
    for j, k in enumerate(lengths):
        residue = (0 if j % 2 else 2) if j < n_media_docs else 1
        docs.append((3 * (base + j) + residue, _words(rng, k)))
    hot_base = 3 * (base + n_docs + rng.randrange(1000))
    for h in range(TEXTMIX_HOT_DOCS):
        docs.append((hot_base + 3 * h + h % 3, _words(rng, TEXTMIX_HOT_WORDS)))
    rng.shuffle(docs)
    return docs


def build(workload: str, seed: int) -> list[tuple[int, str]]:
    if workload == "fused_media":
        return sf_like(seed, FUSED_DOCS)
    if workload == "textmix_skew":
        return textmix(seed)
    raise ValueError(f"unknown workload {workload!r}")


def warmup(workload: str, seed: int) -> list[tuple[int, str]]:
    """A small input of the same shape, for the untimed warm-up pass."""
    if workload == "textmix_skew":
        return textmix(seed + 7_000_001, n_docs=WARMUP_DOCS[workload])
    return sf_like(seed + 7_000_001, WARMUP_DOCS[workload])


def write_parquet(docs: list[tuple[int, str]], path: str) -> None:
    table = pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.int64()),
        "text": pa.array([t for _, t in docs], pa.string()),
    })
    pq.write_table(table, path)


def expected(docs: list[tuple[int, str]]) -> dict[str, tuple[str, int]]:
    """doc_id -> (extracted_text, n_spans): the round-trip oracle rule
    lower(trim(regexp_replace(text, '\\s+', ' '))) and ceil(words / CHUNK_WORDS)."""
    from api_ocr_spark.config import CHUNK_WORDS

    out = {}
    for d, text in docs:
        words = text.split()
        out[str(d)] = (" ".join(words).lower(), math.ceil(len(words) / CHUNK_WORDS))
    return out
