"""Tests of the benchmark's own code (run: python -m pytest perfbench -q)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

import gen
import oracle
import stats
import workloads
from spans import Tracer, union_length

HERE = Path(__file__).resolve().parent


# -- generators -----------------------------------------------------------------


def test_corpus_is_deterministic_per_seed():
    a, b = gen.corpus(7, 60), gen.corpus(7, 60)
    pd.testing.assert_frame_equal(a, b)
    assert not a["content"].equals(gen.corpus(8, 60)["content"])


def test_corpus_has_the_fixture_shape():
    df = gen.corpus(3, 400)
    i = 57
    row = df.iloc[i]
    assert row["repo"] == f"org{i % 7}/repo{i % 53}"
    assert row["path"] == f"src/{i // 100}/file_{i}.java"
    assert list(df["lang"][:4]) == ["fr", "py", "java", "md"]
    n_tok = df["content"].map(lambda t: len(gen.tokens(t)))
    assert n_tok.min() >= gen.LEN_MIN
    assert len(set(gen.vocabulary(3))) == gen.VOCAB_SIZE
    # each repo's files are contiguous in docId order
    ordered = gen.doc_order(df)
    runs = (ordered["repo"] != ordered["repo"].shift()).sum()
    assert runs == ordered["repo"].nunique()


def test_request_stream_is_deterministic_and_balanced():
    docs = gen.doc_order(gen.corpus(5, 100))
    a, b = gen.requests(5, docs, 3), gen.requests(5, docs, 3)
    assert a == b
    for r in range(3):
        assert sorted(x.cls for x in a[7 * r : 7 * r + 7]) == sorted(gen.CLASSES)
    vocab = gen.vocabulary(5)
    rank = {w: i for i, w in enumerate(vocab)}
    for req in a:
        if req.cls == "or_tail":
            assert all(rank[t] >= gen.TAIL_RANK for t in req.terms)
        if req.cls == "or_head":
            assert rank[req.terms[0]] < gen.HEAD_RANKS
        if req.cls == "phrase":  # cut from a real document
            assert any(
                " ".join(req.terms) in " ".join(gen.tokens(t)) for t in docs["content"]
            )
    assert gen.batch_queries(5, 2, 8) == gen.batch_queries(5, 2, 8)


def test_commit_stream_is_deterministic_and_tokens_unique():
    docs = gen.doc_order(gen.corpus(9, 300))
    a = gen.commits(9, docs, 3, 100, 4)
    b = gen.commits(9, docs, 3, 100, 4)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x.rows, y.rows)
    for c in a:
        assert c.rows["repo"].nunique() == 1
        assert c.rows["path"].str.startswith("src/new/").sum() == 4
        for text in c.rows["content"]:
            assert c.token in gen.tokens(text)
        assert not any(c.token in gen.tokens(t) for t in docs["content"])


# -- statistics -----------------------------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(9, None), (20, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 50) == 50
    assert stats.median([3.0, 1.0, 2.0]) == 2.0


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert union_length([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2)
    assert union_length([], 0, 10) == 0


# -- oracle -----------------------------------------------------------------------


def test_oracle_answers_on_a_mini_corpus():
    o = oracle.Oracle(["a b a c", "b c d", "a a a", "d e"])
    assert o.phrase("a", "b") == {0: 1}
    assert o.matching(["a"], ["c"]) == {2}
    assert o.cooc("e", 1, 1) == {"d": (1, 1)}
    assert [x[:2] for x in o.kwic("d")] == [(1, 4), (3, 0)]
    s = o.scores(["a"])
    assert set(s) == {0, 2} and s[2] > s[0]
    ranked = sorted(s.items(), key=lambda kv: -kv[1])
    assert oracle.same_topk(ranked, s, 10)
    assert not oracle.same_topk(ranked[::-1], s, 10)


# -- status-store collector ---------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("ALIX_WARM_WORKERS", "0")
    from alix_spark import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


def test_collector_counts_a_tiny_job(spark):
    tr = Tracer(spark, enabled=True, cores=2)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            spark.range(0, 1000, 1, 2).selectExpr("id % 3 AS k").groupBy("k").count().collect()
        spark.range(5).count()
    with tr.span("idle") as idle:
        pass
    tr.collect()
    assert inner.counters["jobs"] >= 1
    assert inner.counters["input_rows"] >= 1000
    assert inner.counters["tasks"] >= 2
    assert inner.counters["shuffle_write_bytes"] > 0
    assert outer.counters["jobs"] > inner.counters["jobs"]
    assert outer.counters["input_rows"] > inner.counters["input_rows"]
    assert 0 <= inner.counters["driver_ms"] <= inner.ms + 1
    assert idle.counters["jobs"] == 0
    # spans leave no job group behind
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_apply_commit_follows_the_update_id_rules():
    docs = pd.DataFrame({"repo": ["r", "r"], "path": ["a", "c"], "content": ["x", "y"]})
    rows = pd.DataFrame({"repo": ["r", "r", "r"], "path": ["d", "c", "b"], "content": ["n2", "y2", "n1"]})
    after = workloads._apply_commit(docs, rows)
    # the update keeps its docId; new files take the next ids in (repo, path) order
    assert after["path"].tolist() == ["a", "c", "b", "d"]
    assert after["content"].tolist() == ["x", "y2", "n1", "n2"]


# -- the contract with BENCHMARK.json --------------------------------------------


def test_metric_names_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = workloads.end_to_end(1.0, 1.0, [1.0], [1.0])
    assert [m["name"] for m in spec["end_to_end"]] == list(e2e)
    assert [m["unit"] for m in spec["end_to_end"]] == [u for _, u in e2e.values()]
    sys.path.insert(0, str(HERE))
    import run

    per_layer = {name: (u, b) for name, (_, _, u, b) in run.PER_LAYER.items()}
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == per_layer
    assert [w["name"] for w in spec["workloads"]] == ["serve", "stream"]


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
