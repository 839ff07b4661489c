"""The benchmark's workloads: ``serve`` and ``stream``.

Both are closed loops with one client on one Spark session, sending
rounds of read requests to an index built in set-up:

* ``serve`` reads an index built by the CLI (``build_index.main``);
* ``stream`` reads a ``StreamingIndexer`` index (bootstrap plus one
  commit in set-up) through ``IndexReader.open_streaming``, i.e. the
  unmerged, manifest-versioned layout.

Each returns the same end-to-end metric names and, on a traced run, the
same per-layer metric names; the full per-label breakdown goes to the
trace file.
"""

from __future__ import annotations

import contextlib
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

import gen
import oracle as oracle_mod
import stats
from spans import Tracer

N_DOCS = 500  # corpus size of both workloads
K = 10  # top-k of every ranked request
BATCH = 64  # queries per wand_topk_batch call
COMMIT_CHANGED, COMMIT_NEW = 100, 10  # files per update commit
MIN_ROUNDS = 1  # rounds measured at least, whatever --seconds says
# the CLI's merge rounds only re-encode the single 8192-doc segment at
# this corpus size, so untraced serve set-up skips them; the traced run
# keeps the CLI default so the merge layer is measured
SETUP_BUILD_ARGS = ["--merge-rounds", "0"]
WARM_THREADS = 4
STOP_AFTER_S = 120.0  # stop starting units of work past this run age

# the requests of one round, per workload: every class plus a batch on
# the CLI index; on the streaming index only the classes whose plans
# depend on the index layout (kwic and cooc read the docs table alone)
ROUND = {
    "serve": (*gen.CLASSES, "batch"),
    "stream": ("or_head", "or_tail", "bool", "wild", "phrase", "batch"),
}


@dataclass
class Run:
    spark: object
    tracer: Tracer
    work: Path
    seed: int
    seconds: float
    traced: bool
    t_start: float  # perf_counter at process start: set-up begins here
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)  # label -> {counter: value}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def more(self, t0: float, done: int) -> bool:
        """Start another round? Until ``--seconds`` have passed and
        MIN_ROUNDS are done, unless the run is getting too old."""
        now = time.perf_counter()
        if now - self.t_start >= STOP_AFTER_S:
            return False
        return done < MIN_ROUNDS or now - t0 < self.seconds


def _attempt(run: Run, what: str, fn):
    """Run one unit of work; an exception counts as a failed operation."""
    run.attempted += 1
    try:
        return fn()
    except Exception:  # the benchmark must report, not die, on a failed op
        run.fail(f"{what}: {traceback.format_exc(limit=3)}")
        return None


def _warm(calls) -> None:
    """Run warm-up calls concurrently (set-up only: nothing here is
    timed); any failure fails the run."""
    with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
        for f in [pool.submit(c) for c in calls]:
            f.result()


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def end_to_end(
    setup_s: float,
    index_bytes_per_input_byte: float,
    op_ms: list[float],
    fresh_ms: list[float],
) -> dict:
    """The end-to-end metrics, name -> (value, unit), the same names on
    every workload."""
    return {
        "setup_s": (setup_s, "s"),
        "index_bytes_per_input_byte": (index_bytes_per_input_byte, "ratio"),
        "op_p50_ms": (stats.median(op_ms), "ms"),
        "fresh_p50_ms": (stats.median(fresh_ms), "ms"),
    }


def _write_corpus(run: Run) -> tuple[pd.DataFrame, Path]:
    df = gen.corpus(run.seed, N_DOCS)
    path = run.work / "docs.parquet"
    df.to_parquet(path, index=False)
    return df, path


# -- the workloads --------------------------------------------------------------


def serve(run: Run) -> dict:
    from alix_spark import Corpus, build_index
    from alix_spark.index.reader import IndexReader

    spark = run.spark
    docs_pdf, parquet = _write_corpus(run)
    idx = run.work / "index"
    args = ["--input", str(parquet), "--out", str(idx)]
    if not run.traced:
        args += SETUP_BUILD_ARGS
    with _traced_build(run), run.tracer.span("index") as sp_index:
        build_index.main(args)
    reader = IndexReader(spark, str(idx))
    ops = _Ops(
        "serve", reader,
        open_reader=lambda: IndexReader(spark, str(idx)),
        offsets=spark.read.parquet(str(idx / "offsets")),
        corpus=Corpus(reader.docs, text_col="content"),
    )
    docs = gen.doc_order(docs_pdf)
    run.attempted += 1
    if int(reader.meta["n_docs"]) != len(docs):
        run.fail(f"_meta.n_docs {reader.meta['n_docs']} != {len(docs)} input rows")
    print(f"serve: index build {sp_index.ms / 1000:.1f} s", flush=True)
    ratio = _dir_bytes(idx) / parquet.stat().st_size
    return _rounds(run, ops, docs, ratio, check_s=0.0)


def stream(run: Run) -> dict:
    from alix_spark.index.reader import IndexReader
    from alix_spark.streaming import StreamingIndexer

    spark, tr = run.spark, run.tracer
    docs_pdf, parquet = _write_corpus(run)
    sidx = run.work / "stream_index"
    ix = StreamingIndexer(spark, str(sidx))
    with tr.span("index") as sp_index:
        ix.process_batch(spark.read.parquet(str(parquet)), 0)
    index_bytes = _dir_bytes(sidx)
    docs = gen.doc_order(docs_pdf)
    commit = gen.commits(run.seed, docs, 1, COMMIT_CHANGED, COMMIT_NEW)[0]
    cdf = spark.createDataFrame(commit.rows)
    with _traced_update(run), tr.span("update.commit") as sp_commit:
        ix.process_batch(cdf, 1)
    with tr.span("update.fresh"):
        with tr.span("update.open"):
            reader = IndexReader.open_streaming(spark, str(sidx))
        with tr.span("update.query"):
            hits = reader.search(commit.token, 10 * (COMMIT_CHANGED + COMMIT_NEW)).collect()

    t_check = time.perf_counter()
    run.attempted += 1
    _check_commit(run, reader, commit, [r["doc_id"] for r in hits])
    docs_after = _apply_commit(docs, commit.rows)
    if reader.docs.count() != len(docs_after):
        run.fail("docs table after the commit does not hold every document")
    check_s = time.perf_counter() - t_check

    ops = _Ops(
        "stream", reader,
        open_reader=lambda: IndexReader.open_streaming(spark, str(sidx)),
    )
    print(
        f"stream: bootstrap {sp_index.ms / 1000:.1f} s, commit of "
        f"{len(commit.rows)} files {sp_commit.ms / 1000:.1f} s",
        flush=True,
    )
    written = _dir_bytes(sidx) - index_bytes
    ratio = index_bytes / parquet.stat().st_size
    metrics = _rounds(run, ops, docs_after, ratio, check_s)
    if run.traced:
        changed = int(commit.rows["content"].str.len().sum())
        run.layers["update.commit"]["written_bytes_per_changed_byte"] = written / changed
    return metrics


def _rounds(
    run: Run, ops: "_Ops", docs: pd.DataFrame, index_ratio: float, check_s: float
) -> dict:
    """Warm up, then send rounds of requests and two open+query each, and
    check every answer; returns the end-to-end metrics. ``docs`` is the
    docs table the index should hold, in docId order; ``check_s`` is the
    time set-up spent on output checks, which ``setup_s`` leaves out."""
    tr, name = run.tracer, ops.name
    classes = ROUND[name]
    per_round = len(gen.CLASSES)
    reqs = gen.requests(run.seed, docs, n_rounds=8)
    batches = gen.batch_queries(run.seed, n_batches=8, size=BATCH)
    # warm one request of every class, the open path and the batch on
    # requests the timed loop never sends
    _warm(
        [lambda r=r: ops.request(r) for r in reqs[:per_round] if r.cls in classes]
        + [lambda: ops.fresh(reqs[0].query), lambda: ops.batch(batches[0])]
    )
    setup_s = time.perf_counter() - run.t_start - check_s
    print(f"{name}: set-up {setup_s:.1f} s", flush=True)
    tr.collect()
    orc = oracle_mod.Oracle(docs["content"].tolist())

    lat, fresh_ms, results = [], [], []
    t0 = time.perf_counter()
    for rnd in range(1, 8):
        round_reqs = reqs[rnd * per_round : (rnd + 1) * per_round]
        for r in round_reqs:
            if r.cls not in classes:
                continue
            with tr.span(f"{name}.{r.cls}") as sp:
                rows = _attempt(run, r.cls, lambda r=r: ops.request(r, tr))
            if rows is not None:
                lat.append(sp.ms)
                sp.result_rows = len(rows)
                results.append((r, rows))
            tr.collect()
        b = batches[rnd]
        with tr.span(f"{name}.batch") as sp:
            rows = _attempt(run, "batch", lambda b=b: ops.batch(b, tr))
        if rows is not None:
            lat.append(sp.ms)
            sp.result_rows = len(rows)
            _check_batch(run, orc, b, rows)
        tr.collect()
        # two open+query per round: one sample spreads too much
        for cls in ("or_head", "or_tail"):
            q = next(r for r in round_reqs if r.cls == cls)
            with tr.span(f"{name}.fresh") as sp:
                rows = _attempt(run, "fresh", lambda q=q: ops.fresh(q.query))
            if rows is not None:
                fresh_ms.append(sp.ms)
                results.append((q, rows))
            tr.collect()
        if not run.more(t0, rnd):
            break
    for r, rows in results:
        if not _check_request(orc, r, rows):
            run.fail(f"wrong answer: {r}")
    _summarize(run, name, lat)
    if run.traced:
        _record_layers(run, name)
    return end_to_end(setup_s, index_ratio, lat, fresh_ms)


class _Ops:
    """One request of each kind on one index, each returning the
    collected rows; the ``.plan`` span covers the call that returns the
    DataFrame (including its eager driver collects), the ``.exec`` span
    the final collect."""

    def __init__(self, name, reader, open_reader, offsets=None, corpus=None):
        self.name, self.reader, self.open_reader = name, reader, open_reader
        self.offsets, self.corpus = offsets, corpus

    def _plan(self, r: gen.Request):
        from alix_spark.cooc.window import cooc_window
        from alix_spark.render.kwic import kwic

        if r.cls in ("or_head", "or_tail", "bool", "wild"):
            return self.reader.search(r.query, K)
        if r.cls == "phrase":
            return self.reader.phrase(list(r.terms))
        if r.cls == "kwic":
            return kwic(self.reader.docs, self.offsets, list(r.terms), text_col="content")
        if r.cls == "cooc":
            return cooc_window(self.corpus.tokens, r.terms[0])
        raise ValueError(r.cls)

    def request(self, r: gen.Request, tr: Tracer | None = None) -> list:
        tr = tr or Tracer()
        with tr.span(f"{self.name}.{r.cls}.plan"):
            df = self._plan(r)
        with tr.span(f"{self.name}.{r.cls}.exec"):
            return [tuple(x) for x in df.collect()]

    def fresh(self, query: str) -> list:
        return [tuple(x) for x in self.open_reader().search(query, K).collect()]

    def batch(self, queries: dict[int, list[str]], tr: Tracer | None = None) -> list:
        from alix_spark.search.wand import wand_topk_batch

        tr = tr or Tracer()
        reader = self.reader
        with tr.span(f"{self.name}.batch.plan"):
            terms = sorted({t for ts in queries.values() for t in ts})
            df = wand_topk_batch(
                reader.segments, reader.norms, queries, reader.dfs_for(terms),
                reader.n_docs, reader.avgdl, k=K, n_buckets=reader.n_buckets,
            )
        with tr.span(f"{self.name}.batch.exec"):
            return [tuple(x) for x in df.collect()]


# -- output checks ----------------------------------------------------------------


def _check_request(orc: oracle_mod.Oracle, r: gen.Request, rows: list) -> bool:
    if r.cls in ("or_head", "or_tail"):
        return oracle_mod.same_topk(rows, orc.scores(list(r.terms)), K)
    if r.cls == "wild":
        return oracle_mod.same_topk(rows, orc.scores(orc.expand(r.terms[0])), K)
    if r.cls == "bool":
        a, b, c = r.terms
        return oracle_mod.same_topk(rows, orc.scores([a, b], orc.matching([a, b], [c])), K)
    if r.cls == "phrase":
        return dict(rows) == orc.phrase(*r.terms)
    if r.cls == "kwic":
        return sorted(rows) == sorted(orc.kwic(r.terms[0]))
    if r.cls == "cooc":
        return {t: (f, h) for t, f, h in rows} == orc.cooc(r.terms[0])
    raise ValueError(r.cls)


def _check_batch(run: Run, orc: oracle_mod.Oracle, queries: dict, rows: list) -> None:
    by_q: dict[int, list] = {}
    for qid, doc, score, rank in sorted(rows, key=lambda x: (x[0], x[3])):
        by_q.setdefault(qid, []).append((doc, score))
    for qid, terms in queries.items():
        if not oracle_mod.same_topk(by_q.get(qid, []), orc.scores(terms), K):
            run.fail(f"wrong batch answer: q{qid} {terms}")


def _check_commit(run: Run, reader, c: gen.Commit, ids: list[int]) -> None:
    """Read-after-write: the commit's token returns exactly its docs."""
    from pyspark.sql import functions as F

    got = {
        (r["repo"], r["path"])
        for r in reader.docs.filter(F.col("doc_id").isin(ids)).select("repo", "path").collect()
    }
    want = set(zip(c.rows["repo"], c.rows["path"]))
    if len(ids) != len(want) or got != want:
        run.fail(f"read-after-write: {c.token} returned {len(ids)} docs, want {len(want)}")


def _apply_commit(docs: pd.DataFrame, rows: pd.DataFrame) -> pd.DataFrame:
    """The docs table (docId order) after a commit, by the documented
    rules: an updated file keeps its docId, new files take the next ids
    in (repo, path) order."""
    key = ["repo", "path"]
    merged = docs.set_index(key)
    rows = rows.set_index(key)
    known = rows.index.isin(merged.index)
    merged.loc[rows.index[known], rows.columns] = rows[known]
    new = rows[~known].sort_index()
    return pd.concat([merged, new]).reset_index()


# -- tracing hooks (traced runs only) -------------------------------------------

# CLI build stage -> the engine layer it exercises; segmentsK/normsK for
# K >= 1 are the merge rounds of index.segments
BUILD_LAYER = {
    "docs": "ingest",
    "postings": "index.build",
    "doc_lens": "index.build",
    "forms": "index.build",
    "offsets": "analysis.simple",
    "segments0": "index.segments",
    "norms0": "index.segments",
}


def _stage_label(stage: str) -> str:
    if stage in BUILD_LAYER:
        return f"build.{stage}"
    return f"build.merge.{stage}"  # segmentsK / normsK, K >= 1


@contextlib.contextmanager
def _patched(obj, name: str, wrapper):
    orig = getattr(obj, name)
    setattr(obj, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


@contextlib.contextmanager
def _traced_build(run: Run):
    """Wrap ``BuildContext.run_stage``/``write_tables`` in spans."""
    if not run.traced:
        yield
        return
    from alix_spark.index.lineage import BuildContext

    tr = run.tracer

    def wrap_stage(orig):
        def run_stage(self, stage, *a, **kw):
            with tr.span(_stage_label(stage)):
                return orig(self, stage, *a, **kw)
        return run_stage

    def wrap_tables(orig):
        def write_tables(self):
            with tr.span("build.write_tables"):
                return orig(self)
        return write_tables

    with _patched(BuildContext, "run_stage", wrap_stage), _patched(
        BuildContext, "write_tables", wrap_tables
    ):
        yield


@contextlib.contextmanager
def _traced_update(run: Run):
    """Wrap the parts of ``process_batch`` in spans: the incremental
    update plan, the file-group writes and the version GC."""
    if not run.traced:
        yield
        return
    import alix_spark.streaming as streaming

    tr = run.tracer

    def wrap(label):
        def wrapper(orig):
            def f(*a, **kw):
                with tr.span(label):
                    return orig(*a, **kw)
            return f
        return wrapper

    with _patched(streaming, "incremental_update", wrap("update.plan")), _patched(
        streaming.StreamingIndexer, "_write_affected", wrap("update.write")
    ), _patched(streaming.StreamingIndexer, "gc", wrap("update.version_gc")):
        yield


# -- per-layer reporting --------------------------------------------------------


def _layer(spans) -> dict:
    """Median over ``spans`` of wall ms and of every counter."""
    if not spans:
        return {}
    out = {"n": len(spans), "ms": stats.median([s.ms for s in spans])}
    for key in spans[0].counters:
        out[key] = stats.median([s.counters[key] for s in spans])
    rows = [s.counters["input_rows"] / s.result_rows for s in spans if s.result_rows]
    if rows:
        out["input_rows_per_result"] = stats.median(rows)
    return out


def _record_layers(run: Run, name: str) -> None:
    """Every span label, plus the generic layers the per-layer metrics
    read: ``op`` (the round's requests), ``op.plan``, ``op.exec`` and
    ``fresh``."""
    spans = run.tracer.spans
    for lb in sorted({s.label for s in spans}):
        run.layers[lb] = _layer(run.tracer.by_label(lb))
    generic = {
        "op": {f"{name}.{c}" for c in ROUND[name]},
        "op.plan": {f"{name}.{c}.plan" for c in ROUND[name]},
        "op.exec": {f"{name}.{c}.exec" for c in ROUND[name]},
        "fresh": {f"{name}.fresh"},
    }
    for layer, labels in generic.items():
        run.layers[layer] = _layer([s for s in spans if s.label in labels])
    run.layers["_build_stage_layer"] = BUILD_LAYER


def _summarize(run: Run, name: str, lat: list[float]) -> None:
    by_cls: dict[str, list[float]] = {}
    for s in run.tracer.spans:
        cls = s.label[len(name) + 1 :]
        if s.label.startswith(name + ".") and cls in ROUND[name]:
            by_cls.setdefault(cls, []).append(s.ms)
    parts = [f"{c}={stats.median(v):.1f}ms(n={len(v)})" for c, v in sorted(by_cls.items())]
    p = stats.tail_percentile(len(lat))
    tail = f" p{p:g}={stats.percentile(lat, p):.1f}ms" if p else ""
    print(f"{name}: {len(lat)} requests{tail}; p50 by class: " + " ".join(parts), flush=True)
