"""Tests of the benchmark's own checks: a corrupted output must be caught.

    python3 -m pytest perfbench -q

The first group is pure Python. The last two tests run a workload on a
small Spark session, corrupt its output tables and expect the check to fail.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, run, trace  # noqa: E402
from perfbench.workloads import SIZES, dedup_corpus  # noqa: E402


def test_dropped_triples_fail_recall():
    expected = {(f"u{i}", "mentions", f"e{i % 7}") for i in range(100)}
    got = set(sorted(expected)[:90])
    p, r = checks.precision_recall(got, expected)
    assert p == 1.0 and r == pytest.approx(0.9)
    assert checks.misses({"triple_precision": p, "triple_recall": r}) == ["triple_recall"]


def test_replicated_triples_suffix_only_page_subjects():
    base = {("https://a/p", "mentions", "e1"), ("e1", "co_occurs_with", "e2")}
    out = checks.replicate_triples(base, 2)
    assert out == {
        ("https://a/p/0", "mentions", "e1"),
        ("https://a/p/1", "mentions", "e1"),
        ("e1", "co_occurs_with", "e2"),
    }


def test_span_outside_sentence_is_counted():
    gold = {("u", 0, 1, 2)}
    spans = {("u", 0, 1, 2), ("u", 0, 5, 7)}
    recall, outside = checks.span_recall(gold, spans, {("u", 0): 4})
    assert recall == 1.0 and outside == 1
    assert checks.misses({"span_recall": recall, "spans_outside_sentence": outside}) == [
        "spans_outside_sentence"
    ]


def test_retrieval_order_and_ties():
    docs = [(1, "zqa one", "alpha beta"), (2, "zqb two", "alpha gamma"),
            (3, "zqc", "delta"), (4, "zqd", "alpha gamma")]
    want = checks.bm25_expected({7: "alpha beta"}, {7: {"zqb two"}}, docs)
    ranked = sorted(want[7].items(), key=lambda kv: (-kv[1], kv[0]))
    assert checks.retrieval_match({7: ranked[:2]}, want, k=2) == 1.0
    assert checks.retrieval_match({7: ranked[:2][::-1]}, want, k=2) == 0.0
    # a doc dropped from the top-k, or a wrong score, is a miss
    assert checks.retrieval_match({7: ranked[1:3]}, want, k=2) == 0.0
    bad = [(ranked[0][0], ranked[0][1] + 0.5), ranked[1]]
    assert checks.retrieval_match({7: bad}, want, k=2) == 0.0
    # docs tied in score may come in either order
    tied = {1: 2.0, 2: 1.0, 4: 1.0}
    assert checks.topk_matches([(1, 2.0), (4, 1.0)], tied, 2)
    assert checks.topk_matches([(1, 2.0), (2, 1.0 + 1e-15)], tied, 2)


def test_removed_planted_pair_and_wrong_jaccard_fail():
    texts, planted = dedup_corpus(3, SIZES["dedup"])
    sets = checks.discriminative_sets(texts, 3, 50, 2000)
    pairs = []
    for a, b in sorted(planted):
        inter = len(sets[a] & sets[b])
        pairs.append((a, b, inter / (len(sets[a]) + len(sets[b]) - inter)))
    # the generator plants pairs the 0.8 threshold must find
    assert min(j for _, _, j in pairs) >= 0.8
    found = {(a, b) for a, b, _ in pairs}
    assert checks.pair_recall(planted, found) == 1.0
    assert checks.jaccard_precision(pairs, sets, 0.8) == 1.0

    dropped = set(sorted(found)[: len(found) // 10])
    recall = checks.pair_recall(planted, found - dropped)
    wrong = [(a, b, j - 0.01) for a, b, j in pairs[:1]] + pairs[1:]
    precision = checks.jaccard_precision(wrong, sets, 0.8)
    assert checks.misses({"dup_recall": recall, "dup_precision": precision}) == [
        "dup_recall", "dup_precision"
    ]


def test_survivors_keep_component_minimum():
    assert checks.survivors({1, 2, 3, 4, 5}, {(2, 3), (3, 5)}) == {1, 2, 4}


def test_exact_groups_fold_case_and_spaces():
    assert checks.exact_groups({4: "a  b", 2: "A b", 9: "c"}) == {2: 2, 9: 1}


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    layer = trace.per_layer_spec()
    assert spec["per_layer"] == layer
    assert len({m["name"] for m in layer}) == len(layer) <= 128


# --- workloads on Spark, with their outputs corrupted -------------------------


@pytest.fixture(scope="module")
def runner(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = run.start_session(work, 2, trace=False)
    yield lambda name, seed: run.Runner(spark, name, seed, work, 2)
    run.stop_session(spark)


def _rewrite(spark, run_dir, table, keep):
    from kgner import io

    df = io.read_table(spark, run_dir, table).filter(keep).localCheckpoint()
    shutil.rmtree(os.path.join(run_dir, table))
    io.write_table(df, run_dir, table)


def test_dedup_check_catches_removed_pair(runner, monkeypatch):
    from pyspark.sql import functions as F

    from perfbench.trace import Tracer

    monkeypatch.setitem(SIZES, "dedup", dict(SIZES["dedup"], docs=120, clusters=10,
                                             exact_copies=3, giant_words=300))
    r = runner("dedup", 5)
    r.wl.build()
    run_dir = os.path.join(r.work, "dedup_run")
    r.wl.iterate(Tracer(r.spark, enabled=False), run_dir)
    assert checks.misses(r.wl.check(run_dir)) == []
    firsts = sorted({a for a, _ in r.wl.planted})[:5]
    _rewrite(r.spark, run_dir, "ngram", ~F.col("doc_a").isin(firsts))
    assert "dup_recall" in checks.misses(r.wl.check(run_dir))


def test_ingest_check_catches_dropped_triples(runner, monkeypatch):
    from pyspark.sql import functions as F

    from perfbench.trace import Tracer

    monkeypatch.setitem(SIZES, "ingest", dict(SIZES["ingest"], base_pages=80,
                                              entities=30, copies=2))
    r = runner("ingest", 5)
    r.wl.build()
    run_dir = os.path.join(r.work, "ingest_run")
    r.wl.iterate(Tracer(r.spark, enabled=False), run_dir)
    assert checks.misses(r.wl.check(run_dir)) == []
    _rewrite(r.spark, run_dir, "triples", F.col("pred") != "mentions")
    assert "triple_recall" in checks.misses(r.wl.check(run_dir))
