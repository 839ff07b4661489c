"""IndexReader — open a built index directory and serve queries.

The query-side counterpart of :mod:`alix_spark.build_index`: loads the
meta, forms, final segment + norm tables, and answers the FULL query
surface — ranked OR, MUST / MUST_NOT boolean restriction, and wildcard
prefix expansion — from the persisted segments, with no corpus rescan.
Every ranked query is one pruned scan of the forms table (wildcard
expansion and document frequencies together) plus one pass of the
vectorized segment scorer of :mod:`alix_spark.search.wand`. Plays the
role of the reference's ``Alix.reader()/searcher()`` lazy singletons
plus its query assembly
(``/root/reference/java/alix/lucene/Alix.java:298-344,687-756``).

Scoring on this path is Lucene-faithful: per-doc lengths come from the
stored SmallFloat norms (byte-quantized, like Lucene's), avgdl from the
exact per-segment sums, idf stays corpus-wide under boolean restriction
— the `bm25_lucene` semantics proven rank-identical to the reference
jar in tests/test_lucene_rank_identity.py.
"""

from __future__ import annotations

import functools
import operator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from alix_spark.search.parser import ParsedQuery, parse

POSTINGS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("term", StringType()),
        StructField("tf", IntegerType()),
    ]
)


def _term_filter(terms: list[str], prefixes: list[str]) -> Column:
    """``term IN (terms) OR term LIKE 'p%'`` for every prefix p."""
    conds = [F.col("term").isin(terms)] if terms else []
    conds += [F.col("term").startswith(p) for p in prefixes]
    return functools.reduce(operator.or_, conds)


def _by_prefix(matched: list[str], prefixes: list[str]) -> list[str]:
    """Each prefix's matches, in prefix input order (a term matching two
    prefixes is listed, and so scored, twice)."""
    out: list[str] = []
    for prefix in prefixes:
        out.extend(t for t in matched if t.startswith(prefix))
    return out


def expand_prefixes(forms: DataFrame, prefixes: list[str]) -> list[str]:
    """Expand wildcard prefixes against a vocabulary table in ONE
    pruned scan (all prefixes OR'ed into a single filter, one Spark
    job for any number of wildcards — WildcardQuery,
    ``Alix.java:731-734``). Output preserves the per-prefix grouping
    contract: each prefix's matches, in input order. The reader folds
    the same filter into its df lookup (``IndexReader._parse_expanded``)."""
    if not prefixes:
        return []
    rows = forms.filter(_term_filter([], prefixes)).select("term").collect()
    return _by_prefix([r["term"] for r in rows], prefixes)


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        meta_rows = spark.read.json(f"{index_dir}/_meta").collect()
        meta = meta_rows[0].asDict()
        self._init_tables(
            spark,
            segments=spark.read.parquet(
                f"{index_dir}/{meta['final_segments']}"
            ),
            norms=spark.read.parquet(f"{index_dir}/{meta['final_norms']}"),
            docs=spark.read.parquet(f"{index_dir}/docs"),
            forms=spark.read.parquet(f"{index_dir}/forms"),
            n_buckets=int(meta["buckets"]),
            n_docs=int(meta["n_docs_with_tokens"]),
            avgdl=float(meta["avgdl"]),
        )
        self.index_dir = index_dir
        self.meta = meta

    def _init_tables(
        self,
        spark: SparkSession,
        segments: DataFrame,
        norms: DataFrame,
        docs: DataFrame | None,
        forms: DataFrame | None,
        n_buckets: int,
        n_docs: int | None = None,
        avgdl: float | None = None,
    ) -> None:
        from alix_spark.index import segments as seg_mod

        self.spark = spark
        self.segments = segments
        self.norms = norms.cache()
        self.docs = docs
        self.forms = (
            forms
            if forms is not None
            else seg_mod.forms_from_segments(segments)
        )
        if n_docs is None or avgdl is None:
            n_docs, avgdl = seg_mod.corpus_stats_from_norms(self.norms)
        self.n_docs = int(n_docs)
        self.avgdl = float(avgdl)
        self.n_buckets = n_buckets

    @classmethod
    def from_tables(
        cls,
        spark: SparkSession,
        segments: DataFrame,
        norms: DataFrame,
        docs: DataFrame | None = None,
        forms: DataFrame | None = None,
        n_buckets: int | None = None,
    ) -> "IndexReader":
        """Open directly over segment/norm tables (already-loaded
        parquet, or the output of a build) — same query surface, no
        ``_meta`` file needed."""
        from alix_spark.index import segments as seg_mod

        self = cls.__new__(cls)
        self._init_tables(
            spark,
            segments,
            norms,
            docs,
            forms,
            seg_mod.DEFAULT_BUCKETS if n_buckets is None else n_buckets,
        )
        self.index_dir = None
        self.meta = {}
        return self

    @classmethod
    def open_streaming(
        cls, spark: SparkSession, index_dir: str
    ) -> "IndexReader":
        """Open the CURRENT version of a streaming (manifest-versioned)
        index — the same query surface over a live
        :class:`alix_spark.streaming.StreamingIndexer` directory. ONE
        read of ``CURRENT`` pins the snapshot: the version, the layout
        (seg_size, n_buckets) and every table come from the manifest
        that read names, whose file groups are immutable — so a publish
        landing during the open or after it never changes what this
        reader sees. The reference's lazy ``Alix.reader()`` singleton
        semantics (``Alix.java:298-344``) without any lock. A directory
        without ``CURRENT`` raises FileNotFoundError; nothing is created.

        Retention bound: the pin holds only while the opened version is
        within the indexer's ``retain_versions`` window — once
        ``retain_versions`` newer versions have published, ``gc()``
        deletes the unshared file groups of this snapshot and its lazy
        DataFrames will fail on next evaluation. A reader held across
        many publishes should re-open (or the stream should be run with
        a ``retain_versions`` ≥ the maximum reader age in versions).
        """
        from alix_spark import streaming
        from alix_spark.index import segments as seg_mod

        # the one pointer read: everything below comes from its manifest
        snap = streaming.read_manifest(index_dir, streaming.read_version(index_dir))
        docs, segments, norms = streaming.snapshot_tables(spark, index_dir, snap)
        self = cls.from_tables(
            spark,
            segments,
            norms,
            docs=docs,
            n_buckets=int(snap.get("n_buckets", seg_mod.DEFAULT_BUCKETS)),
        )
        self.index_dir = index_dir
        self.meta = {
            "version": snap["version"],
            "seg_size_final": int(snap.get("seg_size", seg_mod.DEFAULT_SEG_SIZE)),
        }
        return self

    # -- posting access -------------------------------------------------
    def dfs_for(self, terms: list[str]) -> dict[str, int]:
        uniq = sorted(set(terms))
        return {
            r["term"]: int(r["docs"])
            for r in self.forms.filter(F.col("term").isin(uniq))
            .select("term", "docs")
            .collect()
        }

    def decoded_postings(self, terms: list[str]) -> DataFrame:
        """(doc_id, term, tf) for the given terms, decoded from the
        compressed segments. The scan is bucket+term pruned (pushed to
        parquet); the varbyte decode runs per docId-range segment in an
        Arrow kernel — the same distribution shape as the segment scorer,
        so a Zipf-head term never concentrates on one task."""
        from alix_spark.index import segments as seg_mod
        from alix_spark.index.xxhash import term_bucket

        uniq = sorted(set(terms))
        if not uniq:
            return self.spark.createDataFrame([], POSTINGS_SCHEMA)
        buckets = sorted({term_bucket(t, self.n_buckets) for t in uniq})
        pruned = self.segments.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(uniq)
        )

        def kernel(key, pdf):
            out = []
            for term, rows in pdf.groupby("term", sort=False):
                ids, tfs = seg_mod.decode_blocks(rows)
                out.append(
                    pd.DataFrame(
                        {
                            "doc_id": ids.astype("int64"),
                            "term": term,
                            "tf": tfs.astype("int32"),
                        }
                    )
                )
            if not out:
                return pd.DataFrame(
                    {"doc_id": [], "term": [], "tf": []}
                ).astype({"doc_id": "int64", "term": "str", "tf": "int32"})
            return pd.concat(out, ignore_index=True)

        return pruned.groupBy("seg_id").applyInPandas(
            kernel, POSTINGS_SCHEMA
        )

    def doc_lens(self) -> DataFrame:
        """(doc_id, dl) with the Lucene-visible (quantized) lengths,
        decoded from the stored norms."""
        from alix_spark.search.phrase import doc_lens_from_norms

        return doc_lens_from_norms(self.norms)

    def phrase(self, terms: list[str]) -> DataFrame:
        """Exact-phrase matching → (doc_id, freq) off the positional
        segments (requires an index built with positions — the default;
        the reference's PhraseQuery path, ``Alix.java:154-165``)."""
        from alix_spark.search.phrase import phrase_search

        return phrase_search(self.segments, terms, n_buckets=self.n_buckets)

    def _parse_expanded(
        self, q: str, with_dfs: bool = False
    ) -> tuple[ParsedQuery, dict[str, int]]:
        """Parse ``q`` and expand its wildcards (sorted) into SHOULD
        clauses against the persisted vocabulary; with ``with_dfs`` also
        return the corpus-wide df of every clause term. Both come from
        ONE pruned scan of the forms table, and none is made when there
        is nothing to look up. ``parsed.had_wildcards`` records that
        expansion happened (a no-match expansion is an empty
        BooleanQuery, not a malformed query)."""
        parsed = parse(q)
        terms = sorted(set(parsed.all_terms())) if with_dfs else []
        if not terms and not parsed.wildcards:
            return parsed, {}
        cond = _term_filter(terms, parsed.wildcards)
        dfs = {
            r["term"]: int(r["docs"])
            for r in self.forms.filter(cond).select("term", "docs").collect()
        }
        parsed.should.extend(_by_prefix(sorted(dfs), parsed.wildcards))
        parsed.wildcards = []
        return parsed, dfs

    def boolean_docs(self, q: str) -> DataFrame:
        """ALL doc ids matching the boolean semantics of ``q`` (no
        ranking, no k-cut) → (doc_id), served from decoded segment
        postings — the reference's BooleanQuery match set
        (``Alix.java:714-754``)."""
        from alix_spark.search.boolean import matching_docs

        parsed, _ = self._parse_expanded(q)
        decoded = self.decoded_postings(parsed.all_terms())
        return matching_docs(
            decoded, parsed, all_docs=self.doc_lens()
        ).select("doc_id")

    # -- the query surface ----------------------------------------------
    def search(self, q: str, k: int = 10) -> DataFrame:
        """Top-k retrieval for the full +/-/* query grammar →
        (doc_id, score), served entirely from the persisted index.

        Planning is one pruned scan of the forms table: ``prefix*``
        expands into SHOULD clauses and every clause term gets its
        corpus-wide df. Every query then runs through the one vectorized
        segment scorer (:func:`alix_spark.search.wand.wand_topk`): SHOULD
        and MUST terms score, MUST restricts to docs holding every MUST
        term, MUST_NOT clears docs (``Alix.java:714-754`` semantics), and
        a pure-negative query returns all docs minus the exclusions at
        score 0, in doc order.
        """
        from alix_spark.search import wand as wand_mod

        parsed, dfs = self._parse_expanded(q, with_dfs=True)
        terms = parsed.must + parsed.should
        if not terms and not parsed.must_not:
            if parsed.had_wildcards:
                # a wildcard that expanded to nothing matches nothing —
                # not a malformed query
                return self.spark.createDataFrame([], wand_mod.TOPK_SCHEMA)
            raise ValueError(f"empty query: {q!r}")
        return wand_mod.wand_topk(
            self.segments,
            self.norms,
            terms,
            dfs,
            self.n_docs,
            self.avgdl,
            k=k,
            n_buckets=self.n_buckets,
            must=parsed.must,
            must_not=parsed.must_not,
        )
