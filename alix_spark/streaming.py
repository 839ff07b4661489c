"""Structured Streaming ingest: micro-batch MERGE into the live index.

The reference is batch-only with an atomic directory swap at the end of
each load (the reference's ``cli/Load.java:157-165``) and
delete-then-reinsert per source file (``lucene/SAXIndexer.java:133-137``).
This module is the streaming generalization a 100 TB pipeline needs: a
``readStream`` of changed documents drives ``foreachBatch``, each
micro-batch MERGEs by (repo, path) through
:func:`alix_spark.index.update.incremental_update` (only touched
docId-range segments re-encoded), and the new index version is published
with the same atomic pointer-swap discipline — readers always see a
complete, consistent version.

Scale discipline (the Iceberg-snapshot idea): a version is a MANIFEST,
not a copy. Table data lives in per-segment file groups written once and
shared by reference across versions, and the manifest is itself a
manifest-list of per-seg-range shard files::

    <index_dir>/data/gen=<G>/<table>/seg=<id>/    # immutable file groups
    <index_dir>/mdata/shard-<table>-<i>-v<N>.json # seg_id -> file group,
                                                  # SEGS_PER_SHARD segs each
    <index_dir>/v<N>.json    # manifest: seg_size, n_buckets, shard list
    <index_dir>/CURRENT      # pointer file (atomic rename)

``process_batch`` writes ONLY the affected segments' file groups (one
``partitionBy`` job per table) and ONLY the shard files whose range
holds an affected segment; every untouched file group and shard is
re-referenced — so a 50-doc micro-batch into a 100 TB index costs
O(touched segments) of write IO, matching the O(touched) compute of
``incremental_update``. Superseded versions are garbage-collected after
publish (retain-last-K), deleting only file groups and shards no
retained manifest references — a reader of any retained version is
never broken mid-GC.

Every operation reads ``CURRENT`` once and resolves the manifest it
names into one *snapshot* dict (``version``, ``seg_size``,
``n_buckets``, ``tables``: table -> {seg_id(str) -> file-group path}),
so a publish landing mid-operation cannot mix two versions.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alix_spark.index import segments as seg_mod
from alix_spark.index.update import incremental_update, seg_range_pred

DOCS_SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, sha256 string, doc_id long"
)

TABLES = ("docs", "segments", "norms")
SCHEMAS = {
    "docs": DOCS_SCHEMA,
    "segments": seg_mod.SEGMENT_SCHEMA,
    "norms": seg_mod.NORMS_SCHEMA,
}

# Segments per manifest shard. Recorded in every manifest: a shard file
# is carried by reference only while the recorded span equals this one,
# so shard boundaries agree across versions.
SEGS_PER_SHARD = 256


def _manifest_path(index_dir: str, version: int) -> Path:
    return Path(index_dir) / f"v{version}.json"


def read_version(index_dir: str) -> int:
    """The version ``CURRENT`` points at. Raises FileNotFoundError when
    the directory holds no published version."""
    p = Path(index_dir) / "CURRENT"
    if not p.exists():
        raise FileNotFoundError(f"no streaming index at {index_dir}: {p} is missing")
    return int(json.loads(p.read_text())["version"])


def read_manifest(index_dir: str, version: int) -> dict:
    """Version ``version``'s manifest with ``tables`` resolved. Inline
    manifests written by older releases carry ``tables`` themselves;
    manifest-lists are resolved from their shard files."""
    man = json.loads(_manifest_path(index_dir, version).read_text())
    if "shards" in man:
        tables: dict = {t: {} for t in TABLES}
        for t, shard_map in man["shards"].items():
            for rel in shard_map.values():
                tables[t].update(json.loads((Path(index_dir) / rel).read_text()))
        man["tables"] = tables
    return man


def snapshot_tables(
    spark: SparkSession, index_dir: str, snap: dict
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(docs, segments, norms) of ``snap``; empty frames with the right
    schemas for an empty table. Each table is a single multi-path
    parquet scan over exactly the file groups its manifest references —
    no version-copy is ever materialized."""
    out = []
    for t in TABLES:
        paths = [f"{index_dir}/{rel}" for rel in snap["tables"][t].values()]
        if paths:
            out.append(spark.read.parquet(*paths))
        else:
            out.append(spark.createDataFrame([], SCHEMAS[t]))
    return tuple(out)


class StreamingIndexer:
    """foreachBatch sink maintaining a versioned, atomically-published
    inverted index with sharded-manifest (O(touched-segments))
    persistence. The id assignment of a batch persists its
    range-shuffled partitions; they are dead weight once the version is
    published, so each publish clears the session cache."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        seg_size: int = seg_mod.DEFAULT_SEG_SIZE,
        n_buckets: int = seg_mod.DEFAULT_BUCKETS,
        text_col: str = "content",
        retain_versions: int = 3,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.seg_size = seg_size
        self.n_buckets = n_buckets
        self.text_col = text_col
        self.retain_versions = retain_versions
        Path(index_dir).mkdir(parents=True, exist_ok=True)

    # -- version pointer (the Load.java atomic-swap analogue) ----------
    def current_version(self) -> int:
        try:
            return read_version(self.index_dir)
        except FileNotFoundError:  # nothing published yet
            return 0

    def _publish(self, version: int) -> None:
        p = Path(self.index_dir) / "CURRENT"
        tmp = p.with_suffix(".tmp")
        tmp.write_text(json.dumps({"version": version}))
        os.replace(tmp, p)  # atomic on POSIX

    # -- manifests -------------------------------------------------------
    def _read_raw(self, version: int) -> dict:
        """Version ``version``'s manifest as stored (shards unresolved)."""
        return json.loads(_manifest_path(self.index_dir, version).read_text())

    def read_manifest(self, version: int | None = None) -> dict:
        """The resolved manifest of ``version`` (default CURRENT)."""
        if version is None:
            return self.snapshot()
        return read_manifest(self.index_dir, version)

    def snapshot(self) -> dict:
        """The CURRENT snapshot; before the first publish, version 0 with
        empty tables and the constructor's layout. The constructor's
        layout also fills in what manifests of older releases lack."""
        v = self.current_version()
        snap = {
            "version": 0,
            "seg_size": self.seg_size,
            "n_buckets": self.n_buckets,
            "tables": {t: {} for t in TABLES},
        }
        return {**snap, **read_manifest(self.index_dir, v)} if v else snap

    def current_seg_size(self) -> int:
        """The CURRENT version's segment granularity — compaction doubles
        it, so it is version metadata, not indexer construction state."""
        return int(self.snapshot()["seg_size"])

    def load_tables(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(docs, segments, norms) of the CURRENT version."""
        return snapshot_tables(self.spark, self.index_dir, self.snapshot())

    # -- the foreachBatch callback --------------------------------------
    def _write_affected(
        self,
        df: DataFrame,
        table: str,
        seg_col,
        gen: int,
        affected: list[int],
        pre_filter=None,
    ) -> dict[str, str]:
        """Write ONLY the affected segments' rows of one logical table as
        per-segment file groups under data/gen=<gen>/<table>/ and return
        {seg_id: relative path} for the groups that materialized (a
        deleted-empty segment writes nothing and drops out).

        ``pre_filter`` is a pushdown-friendly predicate applied BEFORE
        deriving the partition column, so the scan of the carried-over
        file groups prunes on parquet stats instead of evaluating an
        arithmetic expression over the whole table."""
        rel = f"data/gen={gen}/{table}"
        out_dir = f"{self.index_dir}/{rel}"
        if pre_filter is not None:
            df = df.filter(pre_filter)
        (
            df.withColumn("seg", seg_col)
            .filter(F.col("seg").isin(affected))
            .write.partitionBy("seg")
            .mode("overwrite")
            .parquet(out_dir)
        )
        written = {}
        for d in Path(out_dir).iterdir():
            if d.is_dir() and d.name.startswith("seg="):
                written[d.name.split("=", 1)[1]] = f"{rel}/{d.name}"
        return written

    def _write_manifest(
        self, prev: dict, seg_size: int, tables: dict, affected: list[int] | None
    ) -> None:
        """Write the manifest of version ``prev["version"] + 1``: its
        entries split into per-seg-range shard files, and ONLY the shards
        whose range holds an ``affected`` segment are rewritten. Every
        other shard is carried from ``prev`` by reference, unless
        ``prev`` recorded another span (or none: an older inline or
        sharded manifest) — then the full shard set is rewritten, as it
        is for ``affected=None`` (compaction)."""
        v = prev["version"] + 1
        span = SEGS_PER_SHARD
        carry = affected is not None and prev.get("segs_per_shard") == span
        prev_shards = prev["shards"] if carry else {}
        dirty = {int(s) // span for s in affected or ()}
        (Path(self.index_dir) / "mdata").mkdir(exist_ok=True)
        shards: dict = {}
        for t in TABLES:
            by_idx: dict[int, dict] = {}
            for s, p in tables[t].items():
                by_idx.setdefault(int(s) // span, {})[s] = p
            prev_t = prev_shards.get(t, {})
            tmap: dict[str, str] = {}
            for idx, entries in by_idx.items():
                key = str(idx)
                if key in prev_t and idx not in dirty:
                    tmap[key] = prev_t[key]  # untouched: by reference
                else:
                    rel = f"mdata/shard-{t}-{idx}-v{v}.json"
                    (Path(self.index_dir) / rel).write_text(json.dumps(entries))
                    tmap[key] = rel
            shards[t] = tmap
        man = {
            "version": v,
            "seg_size": seg_size,
            "n_buckets": prev["n_buckets"],
            "segs_per_shard": span,
            "shards": shards,
        }
        _manifest_path(self.index_dir, v).write_text(json.dumps(man))

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        snap = self.snapshot()
        seg_size = snap["seg_size"]
        docs, segs, norms = snapshot_tables(self.spark, self.index_dir, snap)
        docs_new, segs_new, norms_new, affected = incremental_update(
            docs,
            segs,
            norms,
            batch_df,
            seg_size=seg_size,
            n_buckets=snap["n_buckets"],
            text_col=self.text_col,
        )
        if not affected:  # nothing to write, nothing to publish
            return
        v = snap["version"] + 1
        doc_seg = (F.col("doc_id") / seg_size).cast("long")
        doc_pred = seg_range_pred(affected, seg_size)
        seg_pred = F.col("seg_id").isin(affected)
        new_tables = {}
        for table, df, seg_col, pre in (
            ("docs", docs_new, doc_seg, doc_pred),
            ("segments", segs_new, F.col("seg_id"), seg_pred),
            ("norms", norms_new, F.col("seg_id"), seg_pred),
        ):
            written = self._write_affected(
                df, table, seg_col, v, affected, pre_filter=pre
            )
            carried = {
                s: p
                for s, p in snap["tables"][table].items()
                if int(s) not in set(affected)
            }
            carried.update(written)
            new_tables[table] = carried
        self._write_manifest(snap, seg_size, new_tables, affected)
        # publish only after every file group committed (_SUCCESS
        # markers): a crash mid-batch leaves CURRENT on the previous good
        # version, whose file groups GC never touches
        self._publish(v)
        self.gc()
        self.spark.catalog.clearCache()

    # -- compaction (Lucene background merges, S6 in the streaming path) -
    def compact(self, group: int = 2) -> int:
        """One tree-merge round over the live index: coalesce ``group``
        adjacent segments (``segments.merge_segments`` — bit-identical
        to a direct build at the coarser granularity), DOUBLING the
        version's seg_size so subsequent micro-batches keep their
        O(touched) arithmetic at the new granularity.

        Like Lucene's background merges (``Alix.java:352-386`` writer
        config) and Iceberg's rewrite_data_files, compaction is a rare,
        full-rewrite maintenance action: every table (docs included —
        their file groups re-key to the new seg ids) is written as a
        fresh version; readers swap atomically and GC reclaims the old
        generations. Returns the new version number.
        """
        snap = self.snapshot()
        docs, segs, norms = snapshot_tables(self.spark, self.index_dir, snap)
        m_segs, m_norms = seg_mod.merge_segments(segs, norms, group=group)
        new_size = snap["seg_size"] * group
        v = snap["version"] + 1
        doc_seg = (F.col("doc_id") / new_size).cast("long")
        # cover BOTH sources of seg ids: a doc range with documents but
        # no postings (all-empty texts) has no merged segment row, yet
        # its docs must stay in the manifest
        all_segs = sorted(
            {
                int(r["s"])
                for r in m_segs.select(F.col("seg_id").alias("s"))
                .distinct()
                .collect()
            }
            | {
                int(r["s"])
                for r in docs.select(doc_seg.alias("s")).distinct().collect()
            }
        )
        new_tables = {}
        for table, df, seg_col in (
            ("docs", docs, doc_seg),
            ("segments", m_segs, F.col("seg_id")),
            ("norms", m_norms, F.col("seg_id")),
        ):
            new_tables[table] = self._write_affected(
                df, table, seg_col, v, all_segs
            )
        self._write_manifest(snap, new_size, new_tables, None)
        self._publish(v)
        self.gc()
        return v

    # -- retention -------------------------------------------------------
    def gc(self) -> list[str]:
        """Delete manifests older than the last ``retain_versions`` and
        every shard file and file group no retained manifest references.
        Returns the relative paths removed. Safe for concurrent readers
        of retained versions: referenced files are never touched."""
        cur = self.current_version()
        if cur == 0:
            return []
        low = max(1, cur - self.retain_versions + 1)
        referenced: set[str] = set()
        referenced_shards: set[str] = set()
        for v in range(low, cur + 1):
            if not _manifest_path(self.index_dir, v).exists():
                continue
            man = read_manifest(self.index_dir, v)
            for shard_map in man.get("shards", {}).values():
                referenced_shards.update(shard_map.values())
            for t in TABLES:
                referenced.update(man["tables"][t].values())
        removed = []
        for v in range(1, low):
            mp = _manifest_path(self.index_dir, v)
            if mp.exists():
                mp.unlink()
                removed.append(mp.name)
        mdata = Path(self.index_dir) / "mdata"
        if mdata.exists():
            for shard in sorted(mdata.iterdir()):
                rel = str(shard.relative_to(Path(self.index_dir)))
                if rel not in referenced_shards:
                    shard.unlink()
                    removed.append(rel)
        data = Path(self.index_dir) / "data"
        if data.exists():
            for gen_dir in sorted(data.iterdir()):
                for table_dir in sorted(p for p in gen_dir.iterdir() if p.is_dir()):
                    for seg_dir in sorted(p for p in table_dir.iterdir() if p.is_dir()):
                        rel = seg_dir.relative_to(Path(self.index_dir))
                        if str(rel) not in referenced:
                            shutil.rmtree(seg_dir)
                            removed.append(str(rel))
                    if not any(p.is_dir() for p in table_dir.iterdir()):
                        shutil.rmtree(table_dir)
                if not any(gen_dir.iterdir()):
                    gen_dir.rmdir()
        return removed

    def start(
        self,
        stream_df: DataFrame,
        checkpoint: str,
        available_now: bool = True,
    ):
        """Attach to a streaming docs source and run. ``available_now``
        drains what exists and stops (the testable mode); False runs
        continuously with the default trigger."""
        w = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()


def windowed_event_counts(
    events: DataFrame,
    window_dur: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream →
    (window, event_type, n, sum_value). Late events older than the
    watermark are dropped — the standard Structured Streaming late-data
    discipline for the A7-style chronology curves when the corpus arrives
    as a stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_dur), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("sum_value"),
        )
    )


def docs_file_stream(
    spark: SparkSession, src_dir: str, with_sha: bool = True
) -> DataFrame:
    """readStream over a directory of parquet doc files (the canonical
    landing zone of a crawl: new files appear, each holding changed
    (repo, path, commit, lang, content) rows)."""
    schema = (
        "repo string, path string, commit string, lang string, "
        "content string" + (", sha256 string" if with_sha else "")
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .parquet(src_dir)
    )
