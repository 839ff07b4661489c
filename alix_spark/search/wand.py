"""Ranked top-k over compressed posting segments: one vectorized kernel.

The reference gets ranked retrieval from Lucene 8's ``IndexSearcher`` +
BM25 (``alix/lucene/Alix.java:232,341-343``). Spark has no analogue,
so this module answers every ranked query — OR, MUST / MUST_NOT and
(already expanded) wildcard clauses — with one numpy kernel applied per
segment. A single query is a batch of one:

* the query terms' block rows are pruned by (bucket, term) — at rest
  this is file/row-group pruning on the partitioned segment table — and
  only the block columns the kernel decodes are read;
* segments are doc-id ranges, so every query term's postings for a given
  doc range are co-located in one group: a cogrouped ``applyInPandas``
  over (postings-by-seg, norms-by-seg) decodes each term's blocks once,
  computes the float32 clause scores of all its postings in one shot,
  scatter-adds them into a dense per-segment accumulator per query,
  applies the boolean masks and emits each query's local top-k;
* the global top-k is ``orderBy(score desc, doc_id asc).limit(k)``
  (Spark's ``TakeOrderedAndProject``) for one query, a ``row_number``
  window per query for a batch.

Scoring is exhaustive — every posting of every query term is scored, no
block is skipped — and matches the Lucene-faithful mode of
:mod:`alix_spark.search.bm25` (quantized norms, float32 per-clause
scores summed in double), so results are rank-identical to both the
DataFrame path and the Lucene reference.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from alix_spark.index import codec
from alix_spark.index import segments as seg_mod
from alix_spark.index.xxhash import term_bucket

TOPK_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("score", DoubleType())]
)

BATCH_SCHEMA = StructType(
    [
        StructField("qid", LongType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)

# the columns the kernel actually decodes — selecting them before the
# cogroup keeps the (large binary) position payloads and the block-max
# metadata out of the Arrow transfer and the shuffle
_SCORING_COLS = ["seg_id", "term", "block_id", "n", "doc_gaps", "tfs"]


@dataclass(frozen=True)
class _Query:
    """One query's clauses: ``weights`` are the scored terms (SHOULD and
    MUST) with their multiplicity — a repeated term is a repeated clause
    in Lucene; a doc matches if it holds every ``must`` term and no
    ``must_not`` term, and, when ``weights`` is non-empty, at least one
    scored term. A query with only ``must_not`` clauses matches every doc
    with tokens, at score 0 (``MatchAllDocsQuery`` base,
    ``Alix.java:746-754``)."""

    weights: dict[str, int]
    must: frozenset[str] = frozenset()
    must_not: frozenset[str] = frozenset()

    def terms(self) -> set[str]:
        return set(self.weights) | self.must | self.must_not


def _empty_batch() -> pd.DataFrame:
    return pd.DataFrame({"qid": [], "doc_id": [], "score": []}).astype(
        {"qid": "int64", "doc_id": "int64", "score": "float64"}
    )


def _segment_topk(
    blocks: pd.DataFrame,
    first_doc: int,
    norm_bytes: np.ndarray,
    queries: dict[int, _Query],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
) -> pd.DataFrame:
    """Score one segment for every query → (qid, doc_id, score), each
    query's local top-k by (score desc, doc_id asc).

    ``blocks`` holds the segment's block rows of the query terms;
    ``norm_bytes`` its SmallFloat norms; ``idfs`` the idf of every
    scored term (a term without one is not scored). Clause score =
    float64(float32(idf * tf_w)) times the clause multiplicity, summed
    in float64 — Lucene's per-clause float and double accumulator.
    """
    dl = codec.byte4_to_int(norm_bytes).astype(np.float64)
    n = norm_bytes.size
    # each term is decoded (and scored) once for the whole batch
    docs: dict[str, np.ndarray] = {}
    clauses: dict[str, np.ndarray] = {}
    for t, rows in blocks.groupby("term", sort=False):
        ids, tfs = seg_mod.decode_blocks(rows)
        docs[t] = ids.astype(np.int64) - first_doc
        if t in idfs:
            w = seg_mod.tf_weight(tfs, dl[docs[t]], avgdl)
            clauses[t] = (idfs[t] * w).astype(np.float32).astype(np.float64)
    out_q, out_doc, out_score = [], [], []
    for qid, q in queries.items():
        acc = np.zeros(n, dtype=np.float64)
        if q.weights:
            keep = np.zeros(n, dtype=bool)
            for t, mult in q.weights.items():
                if t in clauses:
                    # a term's postings hold each doc once: no add.at
                    acc[docs[t]] += clauses[t] * mult
                    keep[docs[t]] = True
        elif q.must_not:
            keep = norm_bytes != 0
        else:
            continue
        if q.must:
            present = np.zeros(n, dtype=np.int64)
            for t in q.must:
                if t in docs:
                    present[docs[t]] += 1
            keep &= present == len(q.must)
        for t in q.must_not:
            if t in docs:
                keep[docs[t]] = False
        idx = np.flatnonzero(keep)
        scores = acc[idx]
        # full lexsort keeps boundary ties deterministic — Lucene's
        # tie-break is ascending docid
        order = np.lexsort((idx, -scores))[:k]
        out_q.append(np.full(order.size, qid, dtype=np.int64))
        out_doc.append(idx[order] + first_doc)
        out_score.append(scores[order])
    if not out_q:
        return _empty_batch()
    return pd.DataFrame(
        {
            "qid": np.concatenate(out_q),
            "doc_id": np.concatenate(out_doc).astype(np.int64),
            "score": np.concatenate(out_score),
        }
    )


def _fresh_norms(norms: DataFrame) -> DataFrame:
    """Alias every norm column to a fresh name before cogrouping with the
    segments: when both tables derive from the same parent plan (e.g. the
    single-pass build or an incremental update), the cogroup's attribute
    dedup silently drops right-side columns whose expression ids also
    appear on the left."""
    return norms.select(
        F.col("seg_id").alias("_nseg"),
        F.col("first_doc").alias("_first_doc"),
        F.col("norm_bytes").alias("_norm_bytes"),
    )


def _local_topk(
    segments: DataFrame,
    norms: DataFrame,
    queries: dict[int, _Query],
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int,
    n_buckets: int,
) -> DataFrame:
    """Every query's per-segment top-k → (qid, doc_id, score), in one
    cogrouped pass over the segments. Planning launches no Spark job:
    the bucket ids come from the driver-side xxhash64."""
    terms = sorted({t for q in queries.values() for t in q.terms()})
    scored = {t for q in queries.values() for t in q.weights}
    idfs = {
        t: float(np.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)))
        for t in scored
        if t in dfs
    }
    buckets = sorted({term_bucket(t, n_buckets) for t in terms})
    pruned = segments.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    ).select(*_SCORING_COLS)
    # only a pure-negative query has results in a segment none of the
    # query terms occur in
    negative = any(not q.weights and q.must_not for q in queries.values())

    def run_seg(key, blocks, seg_norms):
        if seg_norms.empty or (blocks.empty and not negative):
            return _empty_batch()
        return _segment_topk(
            blocks,
            int(seg_norms["_first_doc"].iloc[0]),
            np.frombuffer(seg_norms["_norm_bytes"].iloc[0], dtype=np.uint8),
            queries,
            idfs,
            avgdl,
            k,
        )

    return (
        pruned.groupby("seg_id")
        .cogroup(_fresh_norms(norms).groupby("_nseg"))
        .applyInPandas(run_seg, BATCH_SCHEMA)
    )


def wand_topk(
    segments: DataFrame,
    norms: DataFrame,
    terms: list[str],
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int = 10,
    n_buckets: int = 32,
    must: list[str] = (),
    must_not: list[str] = (),
) -> DataFrame:
    """Global BM25 top-k of one query → (doc_id, score), a batch of one
    through the segment kernel.

    ``terms`` are the scored clauses (SHOULD and MUST; repeats count
    again); ``must`` / ``must_not`` restrict the match set; with no
    ``terms`` and some ``must_not`` every doc with tokens but none of
    them matches, at score 0. ``segments``/``norms`` are the tables from
    :mod:`alix_spark.index.segments`; ``dfs`` are CORPUS-wide doc freqs
    (from the forms table) so idf matches the DataFrame path, also under
    boolean restriction.
    """
    q = _Query(dict(Counter(terms)), frozenset(must), frozenset(must_not))
    local = _local_topk(
        segments, norms, {0: q}, dfs, n_docs, avgdl, k, n_buckets
    )
    return (
        local.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "score")
    )


def wand_topk_batch(
    segments: DataFrame,
    norms: DataFrame,
    queries: dict[int, list[str]],
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int = 10,
    n_buckets: int = 32,
) -> DataFrame:
    """Batched OR top-k: every query of the set is answered in ONE
    cogrouped pass over the segments → (qid, doc_id, score, rank).

    This is the throughput path: stage setup, segment shuffle, norm
    decode and each shared term's decode are paid once for the whole
    batch instead of per query.
    """
    local = _local_topk(
        segments,
        norms,
        {qid: _Query(dict(Counter(ts))) for qid, ts in queries.items()},
        dfs,
        n_docs,
        avgdl,
        k,
        n_buckets,
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .select("qid", "doc_id", "score", F.col("_rank").alias("rank"))
    )
