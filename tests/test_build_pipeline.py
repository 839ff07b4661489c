"""End-to-end build pipeline: spark-submit entry, lineage-based resume,
sha256 ingest invariant, reader rank-identity on the persisted index."""

from __future__ import annotations

import json
import math
from pathlib import Path

import pytest

from alix_spark import build_index
from alix_spark.index.reader import IndexReader
from tests.conftest import SF_SMOKE

GOLDEN = json.loads(
    (Path(__file__).parent / "golden" / "lucene_topk_sf0.001.json").read_text()
)
OR_QUERIES = [
    g for g in GOLDEN if not any(t[0] in "+-" for t in g["q"].split())
]


@pytest.fixture(scope="module")
def built_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    rc = build_index.main(
        [
            "--input", f"{SF_SMOKE}/documents.parquet",
            "--text-col", "text",
            "--out", out,
            "--seg-size", "64",
            "--merge-rounds", "1",
        ]
    )
    assert rc == 0
    return out


def _lineage_ts(out: str) -> dict[str, str]:
    return {
        p.stem: json.loads(p.read_text())["ts"]
        for p in (Path(out) / "_lineage").glob("*.json")
    }


def test_resume_skips_completed_stages(spark, built_index):
    before = _lineage_ts(built_index)
    rc = build_index.main(
        [
            "--input", f"{SF_SMOKE}/documents.parquet",
            "--text-col", "text",
            "--out", built_index,
            "--seg-size", "64",
            "--merge-rounds", "1",
        ]
    )
    assert rc == 0
    assert _lineage_ts(built_index) == before  # nothing re-ran


def test_resume_after_partial_failure(spark, built_index):
    """Simulate a crash after segments0: wipe the merge-round outputs and
    lineage, re-run, and check only those stages re-execute."""
    out = Path(built_index)
    before = _lineage_ts(built_index)
    for stage in ["segments1", "norms1"]:
        (out / "_lineage" / f"{stage}.json").unlink()
    rc = build_index.main(
        [
            "--input", f"{SF_SMOKE}/documents.parquet",
            "--text-col", "text",
            "--out", built_index,
            "--seg-size", "64",
            "--merge-rounds", "1",
        ]
    )
    assert rc == 0
    after = _lineage_ts(built_index)
    for stage, ts in after.items():
        if stage in ("segments1", "norms1"):
            assert ts >= before[stage]
        else:
            assert ts == before[stage], f"stage {stage} unexpectedly re-ran"


def test_fingerprint_change_invalidates(spark, built_index, tmp_path):
    """A different input fingerprint must re-run stages, not reuse them."""
    from alix_spark.index.lineage import BuildContext

    ctx = BuildContext(spark, built_index)
    assert ctx.stage_done("docs", f"input:{SF_SMOKE}/documents.parquet")
    assert not ctx.stage_done("docs", "input:/some/other/table")


def test_sha256_invariant_enforced(spark, tmp_path):
    """A corrupted sha256 column fails the build."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    bad = docs.withColumn("content", F.col("text")).withColumn(
        "sha256",
        F.when(F.col("doc_id") == 3, F.lit("deadbeef")).otherwise(
            F.sha2(F.col("text"), 256)
        ),
    )
    src = str(tmp_path / "bad_docs")
    bad.write.parquet(src)
    with pytest.raises(RuntimeError, match="sha256 ingest invariant"):
        build_index.main(
            ["--input", src, "--out", str(tmp_path / "idx"), "--seg-size", "64"]
        )


def test_reader_rank_identity(spark, built_index):
    r = IndexReader(spark, built_index)
    for case in OR_QUERIES[:6]:
        got = [(x["doc_id"], x["score"]) for x in r.search(case["q"], 10).collect()]
        exp = [(int(d), float(s)) for d, s in case["topk"]]
        assert [d for d, _ in got] == [d for d, _ in exp], case["q"]
        for (gd, gs), (_, es) in zip(got, exp):
            assert math.isclose(gs, es, rel_tol=1e-5, abs_tol=1e-6)


def test_synth_corpus_deterministic(spark):
    from alix_spark import ingest

    a = ingest.synthesize_code_corpus(spark, 100).orderBy("repo", "path")
    b = ingest.synthesize_code_corpus(spark, 100).orderBy("repo", "path")
    ra, rb = a.collect(), b.collect()
    assert ra == rb
    assert all(r["sha256"] for r in ra)
    # docId derivation is stable
    da = ingest.assign_doc_ids(a).select("repo", "path", "doc_id").collect()
    db = ingest.assign_doc_ids(b).select("repo", "path", "doc_id").collect()
    assert sorted(map(tuple, da)) == sorted(map(tuple, db))


def test_build_shape_single_pass(spark, built_index):
    """The CLI reads the corpus for the index once: no postings or
    doc_lens stage; forms and the _meta corpus stats come from the
    segments and norms, and equal the declarative groupBy tables."""
    from alix_spark import Corpus
    from alix_spark.search.bm25 import corpus_stats

    out = Path(built_index)
    assert set(_lineage_ts(built_index)) == {
        "docs", "offsets", "segments0", "norms0", "forms", "segments1",
        "norms1",
    }
    c = Corpus(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
    cols = ["form_id", "term", "occs", "docs"]
    got = sorted(
        tuple(r) for r in spark.read.parquet(str(out / "forms"))
        .select(*cols).collect()
    )
    exp = sorted(tuple(r) for r in c.forms.select(*cols).collect())
    assert got == exp
    meta = spark.read.json(str(out / "_meta")).collect()[0]
    assert (meta["n_docs_with_tokens"], meta["avgdl"]) == corpus_stats(
        c.doc_lens
    )
