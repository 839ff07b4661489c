"""Python XXH64 == Spark xxhash64 (seed 42), across length regimes and
non-ASCII; plus the single-pass segment build ≡ the declarative groupBy
postings, doc lengths and forms."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from alix_spark.index.xxhash import term_bucket, xxh64_signed


def test_xxh64_matches_spark(spark):
    terms = [
        "", "a", "ab", "abc", "abcd", "fast", "tok1234", "l'homme", "é",
        "über", "x" * 7, "y" * 8, "z" * 31, "w" * 32, "v" * 33, "u" * 100,
        "parce que", "漢字",
    ]
    df = spark.createDataFrame([(t,) for t in terms], "t string")
    rows = df.select(
        "t",
        F.xxhash64("t").alias("h"),
        F.pmod(F.xxhash64("t"), F.lit(32)).cast("int").alias("b"),
    ).collect()
    for r in rows:
        assert xxh64_signed(r["t"].encode()) == r["h"], r["t"]
        assert term_bucket(r["t"], 32) == r["b"], r["t"]


def _decode_postings(segs_pdf) -> dict:
    """{(term, doc_id): (tf, [absolute positions])} decoded from
    segment rows."""
    from alix_spark.index import segments as seg_mod

    out = {}
    for (term, _), rows in segs_pdf.groupby(["term", "seg_id"]):
        ids, tfs, deltas = seg_mod.decode_blocks_pos(rows)
        assert deltas is not None, term
        for d, t, p in zip(
            ids.tolist(), tfs.tolist(), seg_mod.positions_per_doc(tfs, deltas)
        ):
            out[(term, d)] = (t, [int(x) for x in p])
    return out


def _expected_blocks(postings, doc_lens, seg_size: int):
    """Block rows (metadata + doc/tf streams) derived from the
    declarative groupBy postings and doc lengths: postings split by
    segment, then into BLOCK-doc chunks; the bucket is Spark's own
    xxhash64."""
    import numpy as np
    import pandas as pd

    from alix_spark.index import codec
    from alix_spark.index.segments import BLOCK

    p = (
        postings.join(doc_lens, "doc_id")
        .select(
            "term",
            "doc_id",
            "tf",
            "dl",
            F.pmod(F.xxhash64("term"), F.lit(32)).cast("int").alias("bucket"),
        )
        .toPandas()
    )
    p["seg_id"] = p["doc_id"] // seg_size
    p["dl_q"] = codec.quantize_doc_len(p["dl"].to_numpy())
    rows = []
    for (term, seg_id), g in p.groupby(["term", "seg_id"]):
        g = g.sort_values("doc_id")
        for b0 in range(0, len(g), BLOCK):
            blk = g.iloc[b0 : b0 + BLOCK]
            d = blk["doc_id"].to_numpy(np.uint64)
            t = blk["tf"].to_numpy(np.int64)
            rows.append(
                {
                    "bucket": int(blk["bucket"].iloc[0]),
                    "term": term,
                    "seg_id": int(seg_id),
                    "block_id": b0 // BLOCK,
                    "n": int(d.size),
                    "first_doc": int(d[0]),
                    "last_doc": int(d[-1]),
                    "max_tf": int(t.max()),
                    "min_dl": int(blk["dl_q"].min()),
                    "sum_tf": int(t.sum()),
                    "doc_gaps": codec.varbyte_encode(codec.delta_encode(d)),
                    "tfs": codec.varbyte_encode(t),
                }
            )
    return pd.DataFrame(rows)


def test_direct_build_equals_two_stage(spark):
    """The single-pass build's blocks, norms, forms and corpus stats
    equal the ones derived from the declarative groupBy tables (the
    postings, doc lengths and forms of ``Corpus``)."""
    import numpy as np

    from alix_spark import Corpus
    from alix_spark.index import build as ib
    from alix_spark.index import codec
    from alix_spark.index import segments as seg_mod
    from alix_spark.search.bm25 import corpus_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    c = Corpus(docs)
    single, sp_norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(
            docs.select("doc_id", "text"), text_col="text", seg_size=128
        )
    )
    single = single.cache()
    key = ["term", "seg_id", "block_id"]
    a = (
        _expected_blocks(c.postings, c.doc_lens, 128)
        .sort_values(key)
        .reset_index(drop=True)
    )
    b = single.toPandas().sort_values(key).reset_index(drop=True)
    cols = ["bucket", "term", "seg_id", "block_id", "n", "first_doc",
            "last_doc", "max_tf", "min_dl", "sum_tf"]
    assert len(a) == len(b)
    for col in cols:
        assert a[col].tolist() == b[col].tolist(), col
    assert [bytes(x) for x in a["doc_gaps"]] == [
        bytes(x) for x in b["doc_gaps"]
    ]
    assert [bytes(x) for x in a["tfs"]] == [bytes(x) for x in b["tfs"]]
    # single-pass norm rows == byte4 norms of the groupBy doc lengths
    dl = ib.build_doc_lens(c.tokens).toPandas()
    dl["seg_id"] = dl["doc_id"] // 128
    nb = {}
    for seg_id, g in dl.groupby("seg_id"):
        first = int(seg_id) * 128
        arr = np.zeros(int(g["doc_id"].max()) - first + 1, dtype=np.uint8)
        arr[g["doc_id"].to_numpy() - first] = codec.int_to_byte4(
            g["dl"].to_numpy()
        )
        nb[int(seg_id)] = (first, arr.size, int(g["dl"].sum()), arr.tobytes())
    ns = {
        r["seg_id"]: (r["first_doc"], r["n_docs"], r["sum_dl"], bytes(r["norm_bytes"]))
        for r in sp_norms.collect()
    }
    assert nb == ns
    # forms derived from segment metadata == forms from postings
    derived = {
        (r["term"], r["occs"], r["docs"])
        for r in seg_mod.forms_from_segments(single).collect()
    }
    expected = {
        (r["term"], r["occs"], r["docs"])
        for r in c.forms.select("term", "occs", "docs").collect()
    }
    assert derived == expected
    # corpus stats from norm metadata == the doc-length scan (the CLI's
    # _meta relies on this)
    assert seg_mod.corpus_stats_from_norms(sp_norms) == corpus_stats(
        c.doc_lens
    )


def test_docs_shuffle_build_equals_token_build(spark):
    """build_single_pass_from_docs (raw-doc shuffle, tokenize-in-kernel)
    decodes to exactly the declarative groupBy postings over
    simple.tokenize: every term's doc ids, tfs and absolute positions,
    including null, empty, punctuation-only and repeated-term docs."""
    from alix_spark.analysis import simple
    from alix_spark.index import build as ib
    from alix_spark.index import segments as seg_mod
    from tests.test_mapside_build import _docs

    docs = _docs(spark)
    segs, _ = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(
            docs, text_col="text", seg_size=128
        )
    )
    got = _decode_postings(segs.toPandas())
    expected = {
        (r["term"], r["doc_id"]): (r["tf"], list(r["positions"]))
        for r in ib.build_postings(
            simple.tokenize(docs, "doc_id", "text")
        ).collect()
    }
    assert got == expected
    assert got[("a", 990004)] == (3, [0, 1, 2])
