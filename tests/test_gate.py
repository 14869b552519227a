"""The admission gate and the scaling tool's summary, without Spark: the
probe is replaced by a scripted sequence of readings."""

from types import SimpleNamespace

import bench
from tools import gate, scaling


def _scripted_probe(monkeypatch, readings):
    it = iter(readings)
    monkeypatch.setattr(gate, "probe_ms", lambda: next(it))


def test_timed_clean_admits_a_uniformly_slow_host(monkeypatch):
    # an idle host whose probe reads 100-140 ms, far above any fixed
    # millisecond bound, is still quiet relative to its own 100 ms median
    _scripted_probe(monkeypatch, [100, 120, 140, 110])
    best, n_clean, probes, result = bench.timed_clean(lambda: "r", quiet=100.0)
    assert n_clean == 2
    assert probes == [[100, 120], [140, 110]]
    assert result == "r"


def test_timed_clean_rejects_a_doubled_post_probe(monkeypatch):
    _scripted_probe(monkeypatch, [100, 200, 100, 105])
    _, n_clean, probes, _ = bench.timed_clean(lambda: None, quiet=100.0,
                                              target_clean=1)
    assert n_clean == 1
    assert len(probes) == 2  # the first attempt was discarded, not counted


def test_timed_clean_without_a_clean_attempt_returns_the_fastest(monkeypatch):
    _scripted_probe(monkeypatch, [300] * 6)
    clock = iter([0, 3, 10, 11, 20, 22])  # attempts of 3, 1 and 2 s
    monkeypatch.setattr(bench, "time", SimpleNamespace(perf_counter=lambda: next(clock)))
    best, n_clean, probes, _ = bench.timed_clean(lambda: None, quiet=100.0,
                                                 max_attempts=3)
    assert n_clean == 0
    assert len(probes) == 3
    assert best == 1


def test_quiet_ms_is_the_median_of_five_probes(monkeypatch):
    _scripted_probe(monkeypatch, [90, 300, 95, 100, 92])
    assert gate.quiet_ms() == 95


def test_scaling_summary_has_no_efficiency_without_clean_runs_at_both_levels():
    rows = [
        {"cores": 1, "docs_per_sec": 100.0, "status": "ok"},
        {"cores": 1, "docs_per_sec": 110.0, "status": "ok"},
        {"cores": 4, "docs_per_sec": 400.0, "status": "contended"},
    ]
    s = scaling.summarize(rows, 1, 4)
    assert s["efficiency"] is None
    assert s["local[1]"] == {"best_docs_per_sec": 110.0, "n_clean": 2}
    assert s["local[4]"] == {"best_docs_per_sec": None, "n_clean": 0}

    rows.append({"cores": 4, "docs_per_sec": 352.0, "status": "ok"})
    assert scaling.summarize(rows, 1, 4)["efficiency"] == 0.8
