"""spark-submit entry point: build the full inverted index from a
document table, checkpoint-resumable per stage.

Usage:
    spark-submit --py-files alix_spark.zip alix_spark/build_index.py \
        --input /path/docs.parquet --out /path/index \
        [--seg-size 8192] [--buckets 32] [--merge-rounds 2] \
        [--text-col content] [--synth N]

Stages (each a parquet checkpoint + lineage record, skipped on resume):
    docs      — docId assignment (dense rank over (repo, path)) + sha256
                ingest-invariant check (build FAILS on violation)
    offsets   — (doc_id, pos, start, end, term) char offsets for render ops
    segments0 — compressed per-range posting segments (bucket-partitioned)
                from ONE raw-docs shuffle; norm rows ride in bucket -1
    norms0    — per-segment 1-byte norms (the bucket -1 partition)
    forms     — freq-ordered vocabulary (form_id, term, occs, docs), summed
                from segments0's block metadata
    segmentsK/normsK — tree-merge rounds (Lucene-style background merges)

``_meta`` takes n_docs_with_tokens and avgdl from norms0. The corpus is
read twice: once for the index (segments0) and once for offsets.

The final segment/norm tables + forms are everything the ranked query path
needs (see alix_spark.search.wand / alix_spark.index.reader).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

# allow `spark-submit alix_spark/build_index.py` / direct script execution
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    from alix_spark.index import segments as seg_mod

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of the docs table")
    ap.add_argument("--synth", type=int, help="synthesize N docs instead")
    ap.add_argument("--out", required=True, help="index output directory")
    ap.add_argument("--text-col", default="content")
    ap.add_argument("--seg-size", type=int, default=seg_mod.DEFAULT_SEG_SIZE)
    ap.add_argument("--buckets", type=int, default=seg_mod.DEFAULT_BUCKETS)
    ap.add_argument("--merge-rounds", type=int, default=2)
    ap.add_argument("--merge-group", type=int, default=2)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from alix_spark import get_spark, ingest
    from alix_spark.analysis import simple
    from alix_spark.index import build as ib
    from alix_spark.index.lineage import BuildContext

    spark = get_spark(app_name="alix-build-index", master=args.master)
    t_start = time.time()
    ctx = BuildContext(spark, args.out)

    if args.synth:
        src = ingest.synthesize_code_corpus(spark, args.synth)
        fp = f"synth:{args.synth}"
    else:
        src = spark.read.parquet(args.input)
        fp = f"input:{args.input}"

    # ---- stage: docs (id assignment + sha256 invariant) ----
    def build_docs():
        if "doc_id" in src.columns:
            docs = src.withColumn("doc_id", F.col("doc_id").cast("long"))
        else:
            docs = ingest.assign_doc_ids(src)
        if "sha256" in src.columns:
            bad = ingest.sha256_violations(docs, args.text_col).count()
            if bad:
                raise RuntimeError(
                    f"sha256 ingest invariant violated for {bad} rows"
                )
        else:
            docs = ingest.add_sha256(docs, args.text_col)
        return docs

    docs = ctx.run_stage("docs", fp, build_docs)
    n_docs_total = docs.count()

    # offsets — term vectors with positions AND offsets, persisted so
    # render ops (KWIC/hilite/paint) never re-tokenize the corpus
    # (reference: Alix.java:154-165). Doc-id-sorted within files so a
    # doc-range read prunes on parquet stats.
    ctx.run_stage(
        "offsets",
        fp,
        lambda: simple.token_offsets(docs, "doc_id", args.text_col)
        .repartitionByRange(args.buckets, F.col("doc_id"))
        .sortWithinPartitions("doc_id", "pos"),
    )

    # segments0 is the SINGLE-PASS build shuffling raw documents (the
    # kernel tokenizes, counts, encodes postings+positions AND emits the
    # norm rows in bucket -1): one corpus-sized exchange, nothing else.
    # one file per bucket dir (not shuffle-partitions × buckets): the
    # file-commit count is a serial cost and query-side open cost
    unioned = ctx.run_stage(
        "segments0",
        fp,
        lambda: seg_mod.build_single_pass_from_docs(
            docs.select("doc_id", args.text_col),
            text_col=args.text_col,
            seg_size=args.seg_size,
            n_buckets=args.buckets,
        ).repartition(args.buckets + 1, F.col("bucket")),
        partition_by=["bucket"],
    )
    segs, norms_view = seg_mod.split_single_pass(unioned)
    # norms0 reads ONLY the bucket=-1 partition dir (partition pruning)
    norms = ctx.run_stage("norms0", fp, lambda: norms_view)
    # vocabulary and corpus stats read back from the index itself
    # (occs = Σ sum_tf, docs = Σ n; avgdl from the norms' sum_dl and
    # nonzero norm bytes), never from another pass over the corpus
    ctx.run_stage(
        "forms", fp, lambda: ib.rank_forms(seg_mod.forms_from_segments(segs))
    )
    n_docs, avgdl = seg_mod.corpus_stats_from_norms(norms)

    seg_size = args.seg_size
    for r in range(1, args.merge_rounds + 1):
        m_df, n_df = seg_mod.merge_segments(
            segs, norms, group=args.merge_group
        )
        segs = ctx.run_stage(
            f"segments{r}",
            fp,
            lambda m=m_df: m.repartition(args.buckets, F.col("bucket")),
            partition_by=["bucket"],
        )
        norms = ctx.run_stage(f"norms{r}", fp, lambda n=n_df: n)
        seg_size *= args.merge_group

    # meta + consolidated lineage/metrics
    spark.createDataFrame(
        [
            {
                "n_docs": n_docs_total,
                "n_docs_with_tokens": n_docs,
                "avgdl": avgdl,
                "seg_size_final": seg_size,
                "buckets": args.buckets,
                "final_segments": f"segments{args.merge_rounds}",
                "final_norms": f"norms{args.merge_rounds}",
            }
        ]
    ).coalesce(1).write.mode("overwrite").json(f"{args.out}/_meta")
    ctx.write_tables()

    wall = time.time() - t_start
    print(
        f"INDEX BUILT: {n_docs_total} docs in {wall:.1f}s "
        f"({n_docs_total / wall:.1f} docs/sec) -> {args.out}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
