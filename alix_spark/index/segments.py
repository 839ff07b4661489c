"""Compressed posting segments + tree-structured merge.

One builder, :func:`build_single_pass_from_docs`, writes every segment:
one shuffle of raw documents by segment, a numpy kernel per segment that
tokenizes, counts and encodes postings, positions and norms. The
vocabulary (:func:`forms_from_segments`) and the corpus stats
(:func:`corpus_stats_from_norms`) are read back from its output, never
from a second pass over the corpus.

Design (Lucene-shaped, Spark-native — see SURVEY.md §4.3/§7):

* A **segment** covers a contiguous docId range: ``seg_id = doc_id //
  seg_size``. This is the Spark analogue of Lucene's insertion-order
  segments (``/root/reference/java/alix/lucene/XMLIndexer.java:334-335``)
  and simultaneously the skew defense: a hot term ("the", "{") contributes
  at most ``seg_size`` postings to any (seg, term) group, so no reducer
  ever sees a full Zipf-head posting list. The (seg_id, term) shuffle IS
  the salted repartition-by-term of the north rule, with the salt chosen
  to be the doc range so that segments stay directly concatenable.
* Within a (segment, term): doc ids are delta-gap + varbyte encoded in
  blocks of ``BLOCK`` docs with per-block metadata (first/last doc,
  max_tf, min_dl). A block-max impact bound can be derived at query
  time as ``idf · tf_w(max_tf, min_dl, avgdl)`` — a valid upper bound
  because the BM25 tf-weight is increasing in tf and decreasing in dl.
  Storing (max_tf, min_dl) instead of a precomputed weight keeps the
  encoder free of any corpus-global statistic, which is what makes the
  single-pass build possible.
* **Norms**: one byte per doc per segment (Lucene's norm layout), the
  SmallFloat byte4 of the doc length.
* **Merge**: segments with disjoint, ordered doc ranges merge by decode +
  concat + re-encode per term — associative, so a tree of pairwise merge
  rounds (mirroring Lucene's background merges) yields bit-identical
  output to a direct build at the coarser segmentation. Property-tested
  in tests/test_segments_wand.py. No global stats are needed to merge.

Schema of the postings-segment table (one row per term-block):

    bucket: int        -- hash(term) % n_buckets: file-level pruning key
    seg_id: long       -- docId-range segment
    term:   string
    block_id: int
    n:      int        -- postings in this block (<= BLOCK)
    doc_gaps: binary   -- varbyte(delta(doc_ids))
    tfs:    binary     -- varbyte(tfs)
    first_doc, last_doc: long
    max_tf: int        -- query-time impact bound input
    min_dl: long       -- query-time impact bound input (quantized len)
    sum_tf: long       -- block tf total (forms table derives from this)
    positions: binary  -- varbyte(per-doc delta(positions)), tf values per
                          posting; b"" only in positions-free segments
                          written by older builds (decode and merge
                          still recognise them)

Positions (the reference's DOCS_AND_FREQS_AND_POSITIONS,
``/root/reference/java/alix/lucene/Alix.java:154-165``): each posting's
position list is delta-encoded *per document* (first position absolute,
then gaps), all lists of a block concatenated and varbyte'd together; the
block's ``tfs`` array gives the per-doc list lengths. Per-doc
self-containment means merged segments concatenate position streams
without re-encoding deltas.

Norms table: (seg_id, first_doc, n_docs, sum_dl, norm_bytes: binary).
``sum_dl`` lets query open compute corpus avgdl without a doc_lens scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from alix_spark.index import codec
from alix_spark.index.xxhash import term_bucket
from alix_spark.search.bm25 import B, K1

BLOCK = 128
DEFAULT_SEG_SIZE = 8192
DEFAULT_BUCKETS = 32

# reserved pseudo-term for norm rows in the single-pass unioned output;
# the tokenizers never emit an empty-string term into postings
NORM_MARKER = ""

SEGMENT_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("seg_id", LongType()),
        StructField("term", StringType()),
        StructField("block_id", IntegerType()),
        StructField("n", IntegerType()),
        StructField("doc_gaps", BinaryType()),
        StructField("tfs", BinaryType()),
        StructField("first_doc", LongType()),
        StructField("last_doc", LongType()),
        StructField("max_tf", IntegerType()),
        StructField("min_dl", LongType()),
        StructField("sum_tf", LongType()),
        StructField("positions", BinaryType()),
    ]
)

NORMS_SCHEMA = StructType(
    [
        StructField("seg_id", LongType()),
        StructField("first_doc", LongType()),
        StructField("n_docs", IntegerType()),
        StructField("sum_dl", LongType()),
        StructField("norm_bytes", BinaryType()),
    ]
)


def tf_weight(tf, dl_q, avgdl: float):
    """Lucene-8 BM25 tf weight (no (k1+1) numerator) — works on numpy
    arrays or python floats."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl_q, dtype=np.float64)
    return tf / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _encode_term_blocks(
    term: str,
    bucket: int,
    seg_id: int,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dl_q: np.ndarray,
    pos_deltas: np.ndarray | None = None,
) -> list[tuple]:
    """One term's postings (sorted by doc) → block rows.

    ``pos_deltas``: occurrence-aligned per-doc delta-encoded positions
    (length == tfs.sum()); None re-encodes a positions-free segment (the
    merge of segments written without positions).
    """
    rows = []
    occ_bounds = None
    if pos_deltas is not None:
        occ_bounds = np.concatenate(
            ([0], np.cumsum(np.asarray(tfs, dtype=np.int64)))
        ).astype(np.int64)
    for b0 in range(0, doc_ids.size, BLOCK):
        d = doc_ids[b0 : b0 + BLOCK]
        t = tfs[b0 : b0 + BLOCK]
        dl = dl_q[b0 : b0 + BLOCK]
        if pos_deltas is None:
            pos_buf = b""
        else:
            lo, hi = occ_bounds[b0], occ_bounds[min(b0 + BLOCK, doc_ids.size)]
            pos_buf = codec.varbyte_encode(pos_deltas[lo:hi])
        rows.append(
            (
                bucket,
                seg_id,
                term,
                b0 // BLOCK,
                int(d.size),
                codec.varbyte_encode(codec.delta_encode(d)),
                codec.varbyte_encode(t),
                int(d[0]),
                int(d[-1]),
                int(t.max()),
                int(dl.min()),
                int(t.sum()),
                pos_buf,
            )
        )
    return rows


def _encode_segment_tokens(
    seg_id: int,
    doc_ids: np.ndarray,
    terms: np.ndarray,
    pos: np.ndarray,
    n_buckets: int,
    seg_size: int,
) -> list[tuple]:
    """Segment kernel: one segment's token occurrences (aligned doc_id /
    term / pos arrays) → its block rows plus one norm marker row.
    Computes per-doc lengths locally (a doc lives in exactly one
    segment, so the group sees all its tokens).

    Pure numpy (factorize + lexsort + run-length) instead of pandas
    groupby: ~2× less memory traffic, which matters both for absolute
    throughput and for multi-core scaling (the kernel is bandwidth-bound
    before it is CPU-bound).
    """
    first = seg_id * seg_size
    codes, uniques = pd.factorize(terms, sort=True)

    # per-doc exact lengths -> norm bytes -> quantized lengths
    dl_counts = np.bincount(doc_ids - first)
    present = dl_counts > 0
    arr = np.zeros(dl_counts.size, dtype=np.uint8)
    arr[present] = codec.int_to_byte4(dl_counts[present])
    dl_all = codec.byte4_to_int(arr)
    # norm rows live in bucket -1 (own partition dir): norm bytes in
    # doc_gaps, n_docs in n, sum_dl in min_dl
    rows = [
        (-1, seg_id, NORM_MARKER, 0, int(arr.size), arr.tobytes(), b"",
         first, first + int(arr.size) - 1, 0, int(dl_counts.sum()), 0, b"")
    ]
    if codes.size == 0:
        return rows

    # (term, doc) run-length counts over the lexsorted triples; positions
    # sort last so each run's occurrences come out position-ordered
    order = np.lexsort((pos, doc_ids, codes))
    c = codes[order]
    d = doc_ids[order]
    is_new = np.empty(c.size, dtype=bool)
    is_new[0] = True
    is_new[1:] = (c[1:] != c[:-1]) | (d[1:] != d[:-1])
    starts_rl = np.flatnonzero(is_new)
    tfs = np.diff(np.append(starts_rl, c.size)).astype(np.int64)
    gc = c[starts_rl]
    gd = d[starts_rl].astype(np.uint64)
    dl_q = dl_all[(gd.astype(np.int64) - first)]

    # per-run delta encoding: first position absolute, then gaps — one
    # vectorized diff with the run starts reset to absolutes
    p = pos[order]
    deltas = np.empty_like(p)
    deltas[0] = p[0]
    deltas[1:] = p[1:] - p[:-1]
    deltas[starts_rl] = p[starts_rl]
    pos_deltas = deltas.astype(np.uint64)
    occ_bounds = np.concatenate(([0], np.cumsum(tfs)))

    change = np.flatnonzero(gc[1:] != gc[:-1]) + 1
    t_starts = np.concatenate(([0], change))
    t_ends = np.concatenate((change, [gc.size]))
    for s, e in zip(t_starts, t_ends):
        term = uniques[gc[s]]
        rows.extend(
            _encode_term_blocks(
                term,
                term_bucket(term, n_buckets),
                seg_id,
                gd[s:e],
                tfs[s:e],
                dl_q[s:e],
                pos_deltas[occ_bounds[s] : occ_bounds[e]],
            )
        )
    return rows


def build_single_pass_from_docs(
    docs: DataFrame,
    text_col: str = "content",
    seg_size: int = DEFAULT_SEG_SIZE,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """The index build: ONE shuffle of raw ``(doc_id, text)`` rows,
    grouped by segment. Each kernel tokenizes its documents inside the
    Arrow batch (the simple chain's regex, C-speed per document; never
    an exploded token table, which would be ~4× the corpus bytes),
    computes tf + doc lengths + norms locally and emits the block rows
    PLUS one norm marker row (term == NORM_MARKER, bucket -1, norm bytes
    in ``doc_gaps``, sum_dl in ``min_dl``, n_docs in ``n``).

    Split the output with :func:`split_single_pass`; derive the forms
    table with :func:`forms_from_segments` and corpus stats with
    :func:`corpus_stats_from_norms`. No corpus-global statistic is read
    or written by the kernel, so everything after the one shuffle is
    embarrassingly parallel. A segment whose documents have no tokens
    still emits its (empty) norm row.
    """
    import re as _re

    t = docs.select(
        F.col("doc_id"), F.col(text_col).alias("_text")
    ).withColumn("seg_id", (F.col("doc_id") / seg_size).cast("long"))
    tok_re = _re.compile(r"[a-z0-9]+")

    def encode_seg(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = [f.name for f in SEGMENT_SCHEMA.fields]
        if pdf.empty:
            return pd.DataFrame({c: pd.Series(dtype=object) for c in cols})
        terms, lens = [], []
        for text in pdf["_text"]:
            toks = tok_re.findall((text or "").lower())
            terms.extend(toks)
            lens.append(len(toks))
        lens = np.asarray(lens, dtype=np.int64)
        doc_starts = np.cumsum(lens) - lens
        rows = _encode_segment_tokens(
            int(pdf["seg_id"].iloc[0]),
            np.repeat(pdf["doc_id"].to_numpy(np.int64), lens),
            np.asarray(terms, dtype=object),
            np.arange(int(lens.sum()), dtype=np.int64)
            - np.repeat(doc_starts, lens),
            n_buckets,
            seg_size,
        )
        return pd.DataFrame(rows, columns=cols)

    return t.groupBy("seg_id").applyInPandas(encode_seg, SEGMENT_SCHEMA)


def split_single_pass(unioned: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Single-pass output → (segments, norms) with the standard schemas."""
    segments = unioned.filter(F.col("term") != NORM_MARKER)
    norms = unioned.filter(F.col("term") == NORM_MARKER).select(
        F.col("seg_id"),
        F.col("first_doc"),
        F.col("n").alias("n_docs"),
        F.col("min_dl").alias("sum_dl"),
        F.col("doc_gaps").alias("norm_bytes"),
    )
    return segments, norms


def corpus_stats_from_norms(norms: DataFrame) -> tuple[int, float]:
    """(n_docs_with_tokens, avgdl) from norm metadata — no corpus scan.

    Fully distributive: an Arrow-batched kernel reduces each norm row to
    two longs (nonzero-byte count = docs with tokens in the segment's
    doc-id range, and the stored sum_dl), then a global ``agg(sum)``
    brings exactly two numbers to the driver. No ``norm_bytes`` payload
    (seg_size bytes per row → O(n_docs) bytes total) ever leaves the
    executors, so the path is flat in corpus size.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def nonzero_bytes(b: pd.Series) -> pd.Series:
        return b.map(
            lambda x: int((np.frombuffer(x, dtype=np.uint8) != 0).sum())
        )

    row = (
        norms.select(
            nonzero_bytes(F.col("norm_bytes")).alias("n_nonzero"),
            F.col("sum_dl"),
        )
        .agg(
            F.coalesce(F.sum("n_nonzero"), F.lit(0)).alias("docs"),
            F.coalesce(F.sum("sum_dl"), F.lit(0)).alias("dl"),
        )
        .collect()[0]
    )
    total_docs, total_dl = int(row["docs"]), int(row["dl"])
    return total_docs, (total_dl / total_docs if total_docs else 0.0)


def forms_from_segments(segments: DataFrame) -> DataFrame:
    """Vocabulary stats straight from block metadata — no second pass
    over the corpus: occs = Σ sum_tf, docs = Σ n per term."""
    return segments.groupBy("term").agg(
        F.sum("sum_tf").cast("long").alias("occs"),
        F.sum("n").cast("long").alias("docs"),
    )


# ---------------------------------------------------------------------- #
# decode + merge
# ---------------------------------------------------------------------- #


def decode_blocks(rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Block rows of ONE (seg, term) — sorted by block_id — → (doc_ids, tfs)."""
    ids, tfs, _ = decode_blocks_pos(rows)
    return ids, tfs


def decode_blocks_pos(
    rows: pd.DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Like :func:`decode_blocks` but also returns the occurrence-aligned
    per-doc position deltas (None if the segment was built without
    positions)."""
    ids = []
    tfs = []
    pos = []
    has_pos = True
    for r in rows.sort_values("block_id").itertuples(index=False):
        ids.append(codec.delta_decode(codec.varbyte_decode(r.doc_gaps, r.n)))
        t = codec.varbyte_decode(r.tfs, r.n)
        tfs.append(t)
        buf = getattr(r, "positions", b"") or b""
        if len(buf) == 0 and int(t.sum()) > 0:
            has_pos = False
        elif has_pos:
            pos.append(codec.varbyte_decode(bytes(buf), int(t.sum())))
    if not ids:
        empty = np.array([], dtype=np.uint64)
        return empty, empty.copy(), empty.copy()
    return (
        np.concatenate(ids),
        np.concatenate(tfs),
        np.concatenate(pos) if has_pos and pos else (None if not has_pos else np.array([], dtype=np.uint64)),
    )


def positions_per_doc(
    tfs: np.ndarray, pos_deltas: np.ndarray
) -> list[np.ndarray]:
    """Occurrence-aligned per-doc deltas → list of absolute position
    arrays, one per posting (cumsum within each doc's slice)."""
    bounds = np.concatenate(([0], np.cumsum(tfs.astype(np.int64)))).astype(
        np.int64
    )
    return [
        np.cumsum(pos_deltas[bounds[i] : bounds[i + 1]], dtype=np.uint64)
        for i in range(tfs.size)
    ]


def merge_segments(
    segments: DataFrame,
    norms: DataFrame,
    group: int = 2,
) -> DataFrame:
    """One tree-merge round: coalesce ``group`` adjacent segments.

    Needs NO global statistics: per-block min_dl/max_tf/sum_tf merge by
    re-encode over the concatenated postings; quantized lengths come from
    the norm bytes (cogrouped per new segment). Returns (merged_segments,
    merged_norms).
    """
    new_seg = (F.col("seg_id") / group).cast("long")
    src = segments.withColumn("_new_seg", new_seg)
    # alias every norm column to a FRESH name: when segments and norms
    # come from the same parent plan (split_single_pass), the cogroup's
    # attribute dedup silently drops right-side columns whose expression
    # ids also appear on the left (seg_id, first_doc) — fresh aliases
    # force new expression ids on every column.
    n_src = norms.select(
        new_seg.alias("_new_seg"),
        F.col("first_doc").alias("_first_doc"),
        F.col("n_docs").alias("_n_docs"),
        F.col("sum_dl").alias("_sum_dl"),
        F.col("norm_bytes").alias("_norm_bytes"),
    )

    def merge_group(key, pdfs: pd.DataFrame, npdf: pd.DataFrame) -> pd.DataFrame:
        cols = [f.name for f in SEGMENT_SCHEMA.fields]
        if pdfs.empty or npdf.empty:
            return pd.DataFrame({c: pd.Series(dtype=object) for c in cols})
        (new_seg_id,) = key
        first = int(npdf["_first_doc"].min())
        norm_parts = npdf.sort_values("_first_doc")
        total = int(
            (norm_parts["_first_doc"] + norm_parts["_n_docs"]).max() - first
        )
        norm_arr = np.zeros(total, dtype=np.uint8)
        for fd, nd, nb in zip(
            norm_parts["_first_doc"],
            norm_parts["_n_docs"],
            norm_parts["_norm_bytes"],
        ):
            off = int(fd) - first
            norm_arr[off : off + int(nd)] = np.frombuffer(nb, dtype=np.uint8)
        dl_all = codec.byte4_to_int(norm_arr)

        out = []
        for (term, bucket), rows in pdfs.groupby(["term", "bucket"], sort=False):
            parts = [
                decode_blocks_pos(seg_rows)
                for _, seg_rows in sorted(
                    rows.groupby("seg_id", sort=True), key=lambda kv: kv[0]
                )
            ]
            doc_ids = np.concatenate([p[0] for p in parts])
            tfs = np.concatenate([p[1] for p in parts])
            # per-doc deltas are self-contained (first position absolute),
            # so merged position streams concatenate without re-encoding
            has_pos = [p[2] is not None for p in parts]
            if all(has_pos):
                pos_deltas = np.concatenate([p[2] for p in parts])
            elif not any(has_pos):
                pos_deltas = None
            else:
                # a silent degrade here would drop positions from the
                # merged stream and phrase queries would fail much later
                # with no hint of which merge lost them — fail loudly at
                # the merge instead
                raise ValueError(
                    f"merge_segments: term {term!r} in merged seg "
                    f"{new_seg_id} mixes positional and positions-free "
                    "source segments; rebuild the positions-free segment "
                    "with a 'pos' column before merging"
                )
            dl_q = dl_all[(doc_ids.astype(np.int64) - first)]
            out.extend(
                _encode_term_blocks(
                    term,
                    int(bucket),
                    int(new_seg_id),
                    doc_ids,
                    tfs,
                    dl_q,
                    pos_deltas,
                )
            )
        return pd.DataFrame(out, columns=cols) if out else pd.DataFrame(
            {c: pd.Series(dtype=object) for c in cols}
        )

    def merge_norms(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["_new_seg"].iloc[0])
        parts = pdf.sort_values("_first_doc")
        first = int(parts["_first_doc"].min())
        total = int((parts["_first_doc"] + parts["_n_docs"]).max() - first)
        arr = np.zeros(total, dtype=np.uint8)
        for fd, nd, nb in zip(
            parts["_first_doc"], parts["_n_docs"], parts["_norm_bytes"]
        ):
            off = int(fd) - first
            arr[off : off + int(nd)] = np.frombuffer(nb, dtype=np.uint8)
        return pd.DataFrame(
            [(seg, first, total, int(parts["_sum_dl"].sum()), arr.tobytes())],
            columns=[f.name for f in NORMS_SCHEMA.fields],
        )

    merged = (
        src.groupby("_new_seg")
        .cogroup(n_src.groupby("_new_seg"))
        .applyInPandas(merge_group, SEGMENT_SCHEMA)
    )
    new_norms = n_src.groupBy("_new_seg").applyInPandas(merge_norms, NORMS_SCHEMA)
    return merged, new_norms
