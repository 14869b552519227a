"""Temperature mixture sampling (operators/mixture) — quota arithmetic and
selection semantics."""

from __future__ import annotations

import math

import pytest

from api_ocr_spark.operators import mixture


def test_largest_remainder_sums_to_target_without_truncation():
    census = [("a", 900), ("b", 400), ("c", 200)]
    q = mixture.mixture_quotas(census, 1, 2)  # T = 750
    assert sum(v["quota"] for v in q.values()) == 750
    # alpha=1/2 weights
    assert [q[s]["weight"] for s, _ in census] == [30, 20, 14]
    # sqrt temperature boosts the small source's share above proportional
    assert q["c"]["quota"] / 750 > 200 / 1500


def test_truncation_caps_at_source_size():
    census = [("big", 10000), ("tiny", 4)]
    q = mixture.mixture_quotas(census, 1, 2)
    # tiny's sqrt weight would grant far more than its 4 docs
    assert q["tiny"]["quota"] == 4
    assert q["big"]["quota"] <= 10000


def test_bonus_goes_to_largest_remainder_ties_by_name():
    # weights 1,1,1; T=2: base 0 each (2*1//3=0), rem 2 each -> bonus to
    # the two lexicographically first sources
    census = [("x", 1), ("y", 1), ("z", 1)]
    q = mixture.mixture_quotas(census, 2, 3)
    assert (q["x"]["quota"], q["y"]["quota"], q["z"]["quota"]) == (1, 1, 0)


def test_quotas_match_python_isqrt():
    for n in [0, 1, 2, 3, 4, 48, 49, 50, 14999, 10**12]:
        assert math.isqrt(n) == int(math.floor(math.sqrt(n))) or n > 2**52


def test_mixture_sample_selects_exactly_quota_rows(spark):
    rows = [(i, "big" if i % 10 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture.mixture_sample(df, 1, 2).toPandas()
    census = [("big", 900), ("small", 100)]
    q = mixture.mixture_quotas(census, 1, 2)
    got = out.groupby("source").size().to_dict()
    assert got == {s: v["quota"] for s, v in q.items() if v["quota"]}
    # ranks are 1..quota within each source
    for s, v in q.items():
        ranks = sorted(out[out.source == s].sel_rank)
        assert ranks == list(range(1, v["quota"] + 1))



def test_grouped_split_no_group_straddles_splits(spark):
    rows = [(i, f"dom{i % 37}.com") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, registered_domain string")
    out = mixture.grouped_split(df).toPandas()
    per_group = out.groupby("group")["split"].nunique()
    assert (per_group == 1).all()          # the leakage guarantee
    assert set(out["split"]) == {"train", "val", "test"}
    # every doc assigned, exactly once
    assert len(out) == 500 and out["doc_id"].is_unique


if __name__ == "__main__":
    import sys
    sys.exit(pytest.main([__file__, "-x", "-q"]))


def test_dsir_select_ranks_target_like_docs(spark):
    """Raw docs sharing the target slice's vocabulary outrank disjoint
    ones; target docs (doc_id%17==0) never appear in the selection."""
    from api_ocr_spark.operators.mixture import dsir_select

    tgt = "med clinical trial dose"
    rows = [(0, tgt), (17, tgt),          # target slice
            (1, tgt),                      # raw, target-like
            (2, "xx yy zz ww")]            # raw, disjoint
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dsir_select(df, k=10)
    got = out.collect()
    ids = [r.doc_id for r in got]
    assert ids == [1, 2]  # both raw docs, target-like first
    by = {r.doc_id: r for r in got}
    # each target term: c_tgt=2, c_raw=1 -> (1e6*3)//2 = 1_500_000
    assert by[1].dsir_milli == 1_500_000 and by[1].n_tokens == 4
    # disjoint terms: c_tgt=0, c_raw=1 -> (1e6*1)//2 = 500_000
    assert by[2].dsir_milli == 500_000


def test_dsir_select_k_truncation_and_tiebreak(spark):
    from api_ocr_spark.operators.mixture import dsir_select

    rows = [(0, "alpha beta")]  # target
    rows += [(i, "gamma delta") for i in range(1, 6)]  # 5 identical raw docs
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = dsir_select(df, k=3).collect()
    assert [r.doc_id for r in got][:3] == [1, 2, 3]  # tie -> doc_id asc
    assert len(got) == 3


def test_unimax_greedy_caps_and_epochs(spark):
    """12-doc corpus, budget 1/2 (=6), cap 2 epochs. Census ascending:
    es(1), unknown(2), en(9). Greedy: es min(2, 6//3)=2 (hits the epoch
    cap -> its single doc is UPSAMPLED to 2 copies), unknown min(4,
    4//2)=2 (one full epoch each), en min(18, 2//1)=2 (remainder epoch:
    exactly two md5-ranked docs get one copy)."""
    from api_ocr_spark.operators.mixture import unimax_sample

    rows = [(100, "de la el")]                       # es
    rows += [(200 + i, "zz xx yy") for i in range(2)]  # unknown
    rows += [(i, "the a of words") for i in range(9)]  # en
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = unimax_sample(df).collect()
    assert len(got) == 12
    by_lang = {}
    for r in got:
        by_lang.setdefault(r.lang, []).append(r.n_copies)
    assert by_lang["es"] == [2]                    # capped upsampling
    assert sorted(by_lang["unknown"]) == [1, 1]    # one full epoch
    assert sorted(by_lang["en"]) == [0] * 7 + [1, 1]  # md5 remainder pick
    assert sum(r.n_copies for r in got) == 6       # exact budget
