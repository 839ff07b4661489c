"""Corpus — the engine facade: one document collection + its index tables.

Plays the role of the reference's ``Alix`` class
(``/root/reference/java/alix/lucene/Alix.java:135-247``): owns the
document collection, lazily builds and caches the derived structures
(postings / forms / doc_lens — the FieldText analogue,
``/root/reference/java/alix/lucene/search/FieldText.java:118-239``), and
exposes search + statistics entry points.

Caching model: each derived DataFrame is built once per Corpus instance and
``.cache()``d — the Spark analogue of Alix's per-reader-generation
SoftReference cache (``Alix.java:190,446-462``). For persistent indexes use
:mod:`alix_spark.index.store` to write/read the tables as parquet.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alix_spark.analysis import simple
from alix_spark.index import build as ib
from alix_spark.search import bm25 as bm25mod
from alix_spark.search import boolean as boolmod
from alix_spark.search import parser as parsermod


class Corpus:
    def __init__(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        cache: bool = True,
        analyzer: str = "simple",
    ):
        """``analyzer``: 'simple' (JVM-side, source code / plain text) or
        'french' (the full Alix chain via the Arrow kernel). Queries are
        analyzed by the same chain — the reference's "same analyzer"
        principle (``Alix.java:698``)."""
        self.docs = docs
        self.id_col = id_col
        self.text_col = text_col
        self._cache = cache
        if analyzer not in ("simple", "french"):
            raise ValueError(f"unknown analyzer {analyzer!r}")
        self.analyzer = analyzer

    def _maybe_cache(self, df: DataFrame) -> DataFrame:
        return df.cache() if self._cache else df

    @cached_property
    def token_table(self) -> DataFrame:
        """French chain only: the full 4-channel token table incl. holes."""
        from alix_spark.analysis.pipeline import analyze_documents

        return self._maybe_cache(
            analyze_documents(self.docs, self.id_col, self.text_col)
        )

    @cached_property
    def tokens(self) -> DataFrame:
        """(doc_id, pos, term) for the index builders (no holes)."""
        if self.analyzer == "french":
            from alix_spark.analysis.pipeline import fr_tokens_for_index

            return fr_tokens_for_index(self.token_table)
        # deliberately NOT cached: regenerating the explode from the
        # (cached) docs is measurably cheaper than scanning a
        # materialized token InMemoryRelation (r7 A/B: sf1 cooc_window
        # warm 2.0s uncached vs 3.5s cached)
        return simple.tokenize(self.docs, self.id_col, self.text_col)

    @cached_property
    def rail_tokens(self) -> DataFrame:
        """(doc_id, pos, term) WITH punctuation holes (term "") — the
        ``build_rails`` input contract. Every emitted position occupies
        a rail slot, so windows and ngram adjacency never collapse
        across a hole (``FieldText.java:191`` keeps the empty
        pseudo-form as formId 0 for exactly this reason). The simple
        chain emits no holes, so there this is just :attr:`tokens`;
        hole-FILTERED french tokens must never feed rails — the
        position gaps would be read as adjacency."""
        if self.analyzer == "french":
            return self.token_table.select("doc_id", "pos", "term")
        return self.tokens

    def analyze_query_terms(
        self, raw_terms: list[str], as_sequence: bool = False
    ) -> list[str]:
        """Run query words through the corpus analysis chain (T9).

        ``as_sequence=True`` analyzes the words as ONE string so that
        multi-word locutions fold to a single indexed term, exactly as
        they did at index time ("same analyzer", ``Alix.java:698``;
        SEARCH-mode locution folding ``FrAnalyzer.java:57-66``).
        """
        if self.analyzer == "french":
            from alix_spark.analysis.french import analyze

            if as_sequence:
                return [
                    t.indexed
                    for t in analyze(" ".join(raw_terms))
                    if t.indexed
                ]
            out = []
            for w in raw_terms:
                out.extend(t.indexed for t in analyze(w) if t.indexed)
            return out
        return raw_terms

    @cached_property
    def postings(self) -> DataFrame:
        if self.analyzer == "simple":
            # map-side build: a posting row depends only on its own
            # document, so the (term, doc_id) Exchange of the exploded
            # token stream is pure overhead (guide §2.4)
            return self._maybe_cache(
                ib.build_postings_from_docs(
                    self.docs, self.id_col, self.text_col
                )
            )
        return self._maybe_cache(ib.build_postings(self.tokens))

    @cached_property
    def orth_postings(self) -> DataFrame:
        """T7 — the ``_orth`` twin postings: exact-spelling forms, no
        lemma folding (``FrAnalyzer.java:56,67``,
        ``SAXIndexer.java:429-431``). French chain only."""
        if self.analyzer != "french":
            raise ValueError("_orth channel exists only for the french analyzer")
        from alix_spark.analysis.pipeline import fr_orth_tokens_for_index

        return self._maybe_cache(
            ib.build_postings(fr_orth_tokens_for_index(self.token_table))
        )

    def search_orth(self, q: str, k: int = 10) -> DataFrame:
        """Exact-spelling BM25 search over the ``_orth`` twin field: an
        inflected query form matches only its exact spelling, never the
        lemma class. Doc lengths are shared with the lemma channel (both
        channels hole out exactly the punctuation positions)."""
        from alix_spark.analysis.french import analyze

        parsed = parsermod.parse(q)
        terms = [
            t.indexed_orth
            for w in parsed.positive_terms
            for t in analyze(w)
            if t.indexed_orth
        ]
        if not terms:
            raise ValueError(f"empty orth query: {q!r}")
        n, avgdl = self._stats
        return bm25mod.bm25_topk(
            self.orth_postings, self.doc_lens, terms, k=k,
            n_docs=n, avgdl=avgdl,
        )

    @cached_property
    def doc_lens(self) -> DataFrame:
        if self.analyzer == "simple":
            # dl = size of the token array: map-only, codegen, no shuffle
            return self._maybe_cache(
                ib.build_doc_lens_from_docs(
                    self.docs, self.id_col, self.text_col
                )
            )
        return self._maybe_cache(ib.build_doc_lens(self.tokens))

    @cached_property
    def forms(self) -> DataFrame:
        return self._maybe_cache(ib.build_forms(self.postings))

    @cached_property
    def _stats(self) -> tuple[int, float]:
        return bm25mod.corpus_stats(self.doc_lens)

    @property
    def n_docs(self) -> int:
        return self._stats[0]

    @property
    def avgdl(self) -> float:
        return self._stats[1]

    # ------------------------------------------------------------------ #
    # search
    # ------------------------------------------------------------------ #
    def parse(self, q: str) -> parsermod.ParsedQuery:
        parsed = parsermod.parse(q)
        if self.analyzer == "french":
            parsed.must = self.analyze_query_terms(parsed.must)
            parsed.must_not = self.analyze_query_terms(parsed.must_not)
            # SHOULD words analyze as a sequence: adjacent words that form
            # a locution fold to the single indexed term
            parsed.should = self.analyze_query_terms(
                parsed.should, as_sequence=True
            )
        if parsed.wildcards:
            from alix_spark.index.reader import expand_prefixes

            # one pruned scan of the forms table for any number of
            # wildcards; each prefix's matches stay in scan order
            parsed.should.extend(
                expand_prefixes(self.forms, parsed.wildcards)
            )
            parsed.wildcards = []
        return parsed

    def search(self, q: str, k: int = 10, lucene: bool = False) -> DataFrame:
        """BM25 top-k for a +/- query string → (doc_id, score).

        MUST/MUST_NOT restrict the candidate set; all positive terms score.
        Mirrors the reference lifecycle in SURVEY.md §3.2.
        """
        parsed = self.parse(q)
        terms = parsed.positive_terms
        n, avgdl = self._stats
        if not terms and not parsed.must_not:
            if parsed.had_wildcards:
                # a wildcard that expanded to nothing matches nothing
                # (an empty BooleanQuery in the reference), it is not a
                # malformed query
                return (
                    self.doc_lens.select("doc_id")
                    .withColumn("score", F.lit(0.0))
                    .limit(0)
                )
            raise ValueError(f"empty query: {q!r}")
        dfs = None
        if parsed.must or parsed.must_not:
            candidates = boolmod.matching_docs(
                self.postings, parsed, all_docs=self.doc_lens
            )
            postings = self.postings.join(candidates, "doc_id", "left_semi")
            # idf stays corpus-wide even when candidates are restricted
            dfs = self.forms.select("term", F.col("docs").alias("df"))
        else:
            postings = self.postings
        if not terms:
            # pure-negative: every surviving doc, unscored (score 0)
            return (
                postings.select("doc_id")
                .distinct()
                .withColumn("score", F.lit(0.0))
                .orderBy("doc_id")
                .limit(k)
            )
        return bm25mod.bm25_topk(
            postings,
            self.doc_lens,
            terms,
            k=k,
            lucene=lucene,
            n_docs=n,
            avgdl=avgdl,
            dfs=dfs,
        )

    def docs_sorted(
        self, by: str | None = None, desc: bool = False, k: int | None = None
    ) -> DataFrame:
        """Q5/K4 — the document list under one of the reference's sort
        options (``DocSort.java:41-54``: relevance handled by `search`;
        int field asc/desc, e.g. year; string id): a declarative
        ``orderBy`` + optional ``limit`` so Catalyst plans a bounded
        ``TakeOrderedAndProject`` when ``k`` is given — no global sort
        materialization for top-k pages."""
        col = F.col(by or self.id_col)
        out = self.docs.orderBy(col.desc() if desc else col.asc())
        return out.limit(k) if k is not None else out

    def doc_id_for(self, id_val, id_field: str) -> int | None:
        """Q6 — external id → internal doc_id (``Alix.getDocId``,
        ``Alix.java:414-424``: a TermQuery top-1). A pruned filter scan;
        None when absent (the reference returns -1)."""
        rows = (
            self.docs.filter(F.col(id_field) == id_val)
            .select(self.id_col)
            .limit(1)
            .collect()
        )
        return int(rows[0][0]) if rows else None

    def id_for(self, doc_id: int, id_field: str):
        """Q6 — internal doc_id → external id (``Alix.getId``,
        ``Alix.java:429-436``: stored-field read). None when absent."""
        rows = (
            self.docs.filter(F.col(self.id_col) == doc_id)
            .select(id_field)
            .limit(1)
            .collect()
        )
        return rows[0][0] if rows else None
