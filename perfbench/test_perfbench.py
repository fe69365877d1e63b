"""Unit tests of the benchmark's own code (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from loadgen import ABSENT_QUERY, QueryGen
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

# a web-like dictionary: df falls off as 1/rank, so most terms are rare
VOCAB = [(f"t{r}", max(1, 5000 // r)) for r in range(1, 5001)]


def stream(picker: str, seed: int, n: int = 500) -> list[dict]:
    gen = QueryGen(VOCAB, picker, seed)
    return gen.batch(60) + [gen.query() for _ in range(n)]


@pytest.mark.parametrize("picker", ["uniform", "df"])
def test_seed_reproduces_stream(picker):
    assert stream(picker, 7) == stream(picker, 7)
    assert stream(picker, 7) != stream(picker, 8)


def head_share(queries: list[dict]) -> float:
    """Share of drawn terms among the 50 highest-df terms (1% of VOCAB)."""
    head = {t for t, _ in VOCAB[:50]}
    terms = [t for q in queries for t in q["query_text"].split()]
    return sum(t in head for t in terms) / len(terms)


def test_head_term_share_differs_between_pickers():
    uniform = head_share(stream("uniform", 1, 2000)[60:])
    by_df = head_share(stream("df", 1, 2000)[60:])
    assert uniform < 0.05
    assert by_df > 0.3


def test_batch_keeps_fixture_mix_and_edge_queries():
    batch = QueryGen(VOCAB, "uniform", 3).batch(2000)
    assert [q["query_id"] for q in batch] == list(range(2000))
    assert [q["query_text"] for q in batch[-4:]] == ["t1 t2 t3", ABSENT_QUERY, "t2501", "t1"]
    drawn = batch[:-4]
    # every block of 20 holds the 40/30/15/10/5 mix exactly
    shapes = Counter((q["mode"], len(q["query_text"].split())) for q in drawn[:1980])
    assert shapes == {
        ("bm25", 1): 792, ("bm25", 2): 594, ("bm25", 3): 297,
        ("phrase", 2): 198, ("proximity", 2): 99,
    }
    assert {q["k"] for q in drawn} == {1, 10, 100}
    assert all(len(set(q["query_text"].split())) == len(q["query_text"].split()) for q in drawn)


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.request = "q0"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    tot = tr.totals_for(lambda req: req == "q0")
    inner, outer = tot["inner"], tot["outer"]
    assert inner["calls"] == 2
    assert outer["self_s"] == pytest.approx(outer["total_s"] - inner["total_s"])
    assert tr.durations("inner", parent="outer") == pytest.approx(
        [s[5] - s[4] for s in tr.spans if s[3] == "inner"]
    )


def test_patched_restores_and_observes():
    class Owner:
        @staticmethod
        def f(x):
            return [x] * x

    tr = Tracer()
    orig = Owner.f
    with tr.patched([(Owner, "f", "owner.f", len)]):
        assert Owner.f(3) == [3, 3, 3]
    assert Owner.f is orig
    assert tr.observed == [("owner.f", None, 3)]
    assert [s[3] for s in tr.spans] == ["owner.f"]


def test_benchmark_json_lists_what_run_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_run_share_counts_steal_against_runnable_time():
    from run import run_share

    # user nice system idle iowait irq softirq steal guest guest_nice
    before = [100, 0, 50, 1000, 0, 0, 0, 20, 0, 0]
    after = [160, 0, 70, 1900, 0, 5, 5, 110, 0, 0]
    # busy 90 jiffies, stolen 90: the guest ran half the time it wanted
    assert run_share(before, after) == pytest.approx(0.5)
    assert run_share(before, before) == 1.0
