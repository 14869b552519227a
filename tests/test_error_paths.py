"""Error rows: corrupt and missing media, the extraction job's --media flag."""

import os

from pyspark.sql import functions as F

from api_ocr_spark.operators import pipeline
from api_ocr_spark.sources import interleave, tables


def test_corrupt_media_becomes_error_row_not_task_failure(spark, sf_dir):
    """A corrupt PNG must produce an error row (route='error:*', empty text)
    — never a task failure (the reference's degradation-over-exception
    stance, /root/reference/main.py:660-696)."""
    docs = tables.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 6)
    flat = interleave.flat_spans(docs)
    media = interleave.build_media(docs)
    corrupt = media.withColumn(
        "bytes",
        F.when(F.col("media_ref").endswith("-0"), F.lit(b"not a png")).otherwise(F.col("bytes")),
    )
    out = pipeline.ocr_spans(flat, "basico", media=corrupt).filter(F.col("kind") == "media")
    rows = out.collect()
    errors = [r for r in rows if r.route.startswith("error:")]
    oks = [r for r in rows if not r.route.startswith("error:")]
    assert errors, "expected at least one error row"
    assert all(r.text == "" and r.n_words == 0 for r in errors)
    assert oks, "healthy rows must still succeed"
    assert all(r.text for r in oks)


def test_extract_from_spans_matches_extract_documents(spark, sf_dir):
    docs = tables.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    spans_table = interleave.build_documents_spans(docs)
    media = interleave.build_media(docs)
    via_spans = pipeline.extract_from_spans(spans_table, media, mode="basico")
    direct = pipeline.extract_documents(docs, mode="basico")
    a = via_spans.select("doc_id", "extracted_text")
    b = direct.select("doc_id", "extracted_text")
    assert a.count() == b.count() == 20
    assert a.exceptAll(b).count() == 0


def test_missing_store_row_becomes_error_span(spark, tmp_path):
    """A media span whose store row is missing stays in its document as an
    error span with empty text (never silently dropped), and the checkpoint
    job over the same store counts it in its metrics."""
    from api_ocr_spark.plans import checkpoint

    words = " ".join(f"word{i % 7}" for i in range(40))  # 5 spans; 0 and 3 media
    docs = spark.createDataFrame([(3, words)], "doc_id long, text string")
    media = interleave.build_media(docs).filter(F.col("media_ref") != "m-3-0")
    spans_table = interleave.build_documents_spans(docs)
    (row,) = pipeline.extract_from_spans(spans_table, media, mode="basico").collect()
    assert [s.offset for s in row.spans] == list(range(5))
    assert row.spans[0].media_ref == "m-3-0" and row.spans[0].text == ""
    assert row.spans[3].text == "word3 word4 word5 word6 word0 word1 word2 word3"
    base = os.path.join(str(tmp_path), "ckpt_missing")
    checkpoint.run_with_checkpoint(spark, docs, base, mode="basico", n_buckets=1, media=media)
    assert checkpoint.read_metrics(spark, base).agg(F.sum("n_errors")).first()[0] == 1


def test_extraction_job_reads_media_flag(spark, tmp_path):
    """jobs/run_extraction.py --media runs the checkpoint job over that
    store: one corrupt store row shows up as one error in read_metrics."""
    import subprocess
    import sys

    from api_ocr_spark.plans import checkpoint

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    docs = spark.createDataFrame(
        [(i, "job media flag words all readable here ok") for i in range(6)],
        "doc_id long, text string")
    media = interleave.build_media(docs)  # m-0-0 and m-3-0
    corrupt = media.withColumn(
        "bytes",
        F.when(F.col("media_ref") == "m-0-0", F.lit(b"not a png")).otherwise(F.col("bytes")))
    docs_dir, media_dir, out_dir = (os.path.join(str(tmp_path), d) for d in ("docs", "media", "out"))
    docs.write.parquet(docs_dir)
    corrupt.write.parquet(media_dir)
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell",
               PYTHONPATH=os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])))
    job = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "run_extraction.py"),
         "--documents", docs_dir, "--media", media_dir, "--output", out_dir,
         "--mode", "basico", "--buckets", "2"],
        cwd=repo, env=env, timeout=600, capture_output=True, text=True)
    assert job.returncode == 0, job.stderr[-4000:]
    # a fresh --output has no lineage yet: it is not read, so no read fails
    assert "FileNotFoundException" not in job.stderr
    assert checkpoint.read_metrics(spark, out_dir).agg(F.sum("n_errors")).first()[0] == 1
