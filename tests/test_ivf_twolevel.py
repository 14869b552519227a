"""IVF ANN on clustered embeddings; reassembly of a many-span document."""

import pytest

from api_ocr_spark.operators import pipeline, similarity
from api_ocr_spark.sources import interleave


@pytest.fixture(scope="module")
def clustered(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(4, 64)) * 3
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(50):
            v = centers[c] + rng.normal(scale=0.3, size=64)
            v = v / np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_ivf_assign_groups_clusters(clustered):
    # the table-codebook quantizer that ivf_ann_topk, semdedup and
    # hard_negatives run (the literal ivf_assign is its equality reference
    # in test_dedup_similarity)
    assigned, centroids = similarity.ivf_assign_table(clustered, n_centroids=4, iters=4)
    rows = assigned.select("vec_id", "centroid_id").collect()
    # vectors from the same ground-truth cluster land in the same centroid
    by_truth = {}
    for r in rows:
        by_truth.setdefault(r.vec_id // 50, []).append(r.centroid_id)
    for truth, cids in by_truth.items():
        dominant = max(set(cids), key=cids.count)
        assert cids.count(dominant) / len(cids) >= 0.9, truth
    assert centroids.count() == 4


def test_ivf_topk_recall_on_clustered(clustered):
    # recall asserted on the TABLE-codebook variant — the plan-size-safe form
    # wired into __spark_entry__.q_ivf_ann_topk (the literal-expression twin
    # is equality-checked against it in test_dedup_similarity)
    ivf = similarity.ivf_topk_table(clustered, k=5, n_queries=6, n_centroids=4, n_probe=1)
    brute = similarity.brute_force_topk(clustered, k=5, n_queries=6)
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    brute_set = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    recall = len(ivf_set & brute_set) / len(brute_set)
    assert recall >= 0.9  # neighbors share the query's cluster


def test_two_level_reassembly_heavy_doc(spark):
    """A 60-span doc reassembles in offset order with its exact text."""
    heavy = " ".join(f"word{i % 9}" for i in range(480))  # 60 chunks
    docs = spark.createDataFrame([(77, heavy)], "doc_id long, text string")
    flat = interleave.flat_spans(docs)
    media = interleave.build_media(docs)
    ocr = pipeline.ocr_spans(flat, "basico", media=media).cache()
    out = pipeline.reassemble_spans(ocr).collect()[0]
    assert [s.offset for s in out.spans] == list(range(60))
    assert out.extracted_text == " ".join(heavy.split())
    ocr.unpersist()
