"""Driver job budget of the reader query path and of the streaming
index: the number of Spark jobs a ranked query, a streaming open and a
one-file streaming update launch is pinned, so a stray ``collect()`` or
a new planning-time job fails here instead of showing up as latency.

Jobs are counted per labelled region with
``statusTracker().getJobIdsForGroup`` over an index built by the CLI and
opened with :class:`IndexReader`, the production open path, and over a
:class:`StreamingIndexer` index opened with ``IndexReader.open_streaming``.
"""

from __future__ import annotations

import itertools

import pytest

from alix_spark import build_index
from alix_spark.index.reader import IndexReader
from alix_spark.search import wand as wand_mod
from alix_spark.streaming import StreamingIndexer
from tests.conftest import SF_SMOKE

# one query per route the reader used to take: OR, wildcard, MUST /
# MUST_NOT and pure negative — all now one forms lookup plus one pass
# of the segment scorer
QUERIES = ["fast join merge", "fast win*", "+fast +join -window", "-fast -join"]
# planning a ranked search: ONE pruned forms scan (wildcard expansion
# and dfs together)
SEARCH_PLAN_JOBS = 1
# collecting one query / one batch with a warm norms cache: the segment
# and norm shuffle map stages plus the final top-k (the batch's per-query
# rank window adds one)
SEARCH_COLLECT_JOBS = 3
BATCH_COLLECT_JOBS = 4
# opening a streaming index: one parquet schema read per table, and the
# corpus stats aggregate over the norms
STREAM_OPEN_JOBS = 6
# one streaming micro-batch of one changed file (an update in place): the
# table opens, the max-id and classification aggregates, the segment
# rebuild and the three file-group writes
STREAM_UPDATE_JOBS = 21

_groups = itertools.count()


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("budget_idx"))
    rc = build_index.main(
        [
            "--input", f"{SF_SMOKE}/documents.parquet",
            "--text-col", "text",
            "--out", out,
            "--seg-size", "64",
            "--merge-rounds", "0",
        ]
    )
    assert rc == 0
    r = IndexReader(spark, out)
    # materialize the norms cache so every count below is steady-state
    r.search(QUERIES[0], k=10).collect()
    return r


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("q", QUERIES)
def test_search_job_budget(spark, reader, q):
    df, plan_jobs = _jobs(spark, lambda: reader.search(q, k=10))
    assert plan_jobs <= SEARCH_PLAN_JOBS, q
    rows, collect_jobs = _jobs(spark, df.collect)
    assert collect_jobs == SEARCH_COLLECT_JOBS, q
    assert rows, q


def test_scorer_plans_without_jobs(spark, reader):
    """With the dfs given, planning the scorer needs no Spark job: the
    term buckets are hashed on the driver."""
    terms = ["fast", "join", "merge"]
    dfs = reader.dfs_for(terms)
    args = (reader.segments, reader.norms)
    stats = (reader.n_docs, reader.avgdl)
    one, plan_one = _jobs(
        spark,
        lambda: wand_mod.wand_topk(
            *args, terms, dfs, *stats, k=10, n_buckets=reader.n_buckets
        ),
    )
    batch, plan_batch = _jobs(
        spark,
        lambda: wand_mod.wand_topk_batch(
            *args, {0: terms, 1: ["fast"]}, dfs, *stats, k=10,
            n_buckets=reader.n_buckets,
        ),
    )
    assert (plan_one, plan_batch) == (0, 0)
    assert _jobs(spark, one.collect)[1] == SEARCH_COLLECT_JOBS
    assert _jobs(spark, batch.collect)[1] == BATCH_COLLECT_JOBS


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


@pytest.fixture(scope="module")
def stream_index(spark, tmp_path_factory):
    ix = StreamingIndexer(
        spark, str(tmp_path_factory.mktemp("budget_stream")), seg_size=8
    )
    ix.process_batch(
        _rows(spark, [("o/r", f"f{i}", "c1", "py", f"alpha beta tok{i} fast join")
                      for i in range(40)]),
        0,
    )
    return ix


def test_stream_open_job_budget(spark, stream_index):
    rd, jobs = _jobs(
        spark, lambda: IndexReader.open_streaming(spark, stream_index.index_dir)
    )
    assert jobs <= STREAM_OPEN_JOBS
    assert rd.n_docs == 40


def test_stream_update_job_budget(spark, stream_index):
    one_file = _rows(spark, [("o/r", "f3", "c2", "py", "updated omega")])
    _, jobs = _jobs(spark, lambda: stream_index.process_batch(one_file, 1))
    assert jobs <= STREAM_UPDATE_JOBS
    assert stream_index.current_version() == 2
