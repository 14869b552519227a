"""Multimodal binary-column operators: image metadata through the engine's
own codecs, on the mixed PNG/JPEG media store and on a corrupt payload."""

import pytest
from pyspark.sql import functions as F

from api_ocr_spark.operators import multimodal
from api_ocr_spark.sources import interleave, tables


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = tables.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return interleave.build_media(docs).cache()


def test_image_metadata_real_decode(media):
    meta = multimodal.image_metadata(media).collect()
    assert meta
    for r in meta:
        assert r.format in ("png", "jpeg") and r.width > 0 and r.height > 0
        assert 0 < r.ink_ratio < 0.5  # text pages are mostly background
        assert 0 < r.mean_intensity < 255
    assert {r.format for r in meta} == {"png", "jpeg"}  # mixed-format store


def test_image_metadata_corrupt_row(spark):
    df = spark.createDataFrame([("bad", b"not a png")], "media_ref string, bytes binary")
    r = multimodal.image_metadata(df).collect()[0]
    assert r.format == "unknown" and r.width == -1 and r.n_bytes == 9
