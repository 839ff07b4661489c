"""Driver job budget of the reader query path: the number of Spark jobs a
ranked query launches is pinned, so a stray ``collect()`` or a new
planning-time job fails here instead of showing up as latency.

Jobs are counted per labelled region with
``statusTracker().getJobIdsForGroup`` over an index built by the CLI and
opened with :class:`IndexReader`, the production open path.
"""

from __future__ import annotations

import itertools

import pytest

from alix_spark import build_index
from alix_spark.index.reader import IndexReader
from alix_spark.search import wand as wand_mod
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
