"""The benchmark's workloads: ``pipeline`` and ``registry``.

Each workload is one closed-loop client (the next operation starts
when the previous one has returned) driving the engine's public
functions. It sets up its inputs ``SETUP_REPS`` times from the seed
(the median goes into ``setup_s``), warms up, then runs cycles of
operations until the measured time is spent, checking every result
against ground truth computed without Spark. A traced run does the
same with spans and job groups on, then reads Spark's counters for the
per-layer metrics.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from . import corpus, tables
from .trace import SparkCounters, Tracer, median, metric_value

SETUP_REPS = 3
# cycles measured at least, whatever --seconds says, so that each
# median has three samples
MIN_CYCLES = {"pipeline": 3, "registry": 3}

PIPELINE_DOCS = 200
UPLOAD_DOCS_PER_ROUND = 4
READ_OPS = ("get_documents", "get_document_info", "get_document_chunks",
            "get_document_charts", "get_chart_with_image")
CHART_OPS = ("get_document_charts", "get_chart_with_image")
# The per-cycle mix (one upload round, one call of each read) and the
# Zipf exponent of the read ids are assumptions sized to a run's time
# budget, not taken from measured or published traffic.
ZIPF_A = 1.2

# The registry subset: parse and doc-store queries, an exchange-reuse
# pair, and the TPC-H/event classics. README.md lists the queries left
# out to fit a run's time budget.
REGISTRY_SUBSET = (
    "doc_chunk", "ner_entities", "q_document_detail", "q_chunk_range",
    "q_bm25_scores", "q_unigram_logprob", "q1_pricing_summary",
    "q3_shipping_priority", "q_events_sessionize",
)
Q1_CUTOFF_US = (dt.date(1998, 9, 2) - dt.date(1970, 1, 1)).days * tables.DAY_US


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    cpu: Callable[[], float]  # CPU seconds used so far by the client and the JVM


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    setup_s: list = field(default_factory=list)
    ops: list = field(default_factory=list)  # (kind, wall ms, CPU ms) per measured operation
    cycles: list = field(default_factory=list)  # (wall s, CPU s) of each cycle's operations
    layers: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)

    def check(self, why: str) -> None:
        """One checked operation; ``why`` says how it failed, or is ""."""
        self.attempted += 1
        if why:
            self.failed += 1
            self.notes.append(why)

    def record(self, kind: str, ms: float, cpu_ms: float, why: str) -> None:
        """One timed, checked operation."""
        self.check(why)
        self.ops.append((kind, ms, cpu_ms))

    def end_cycle(self, first: int) -> None:
        """Close the cycle made of the operations recorded since the
        ``first``-th."""
        ops = self.ops[first:]
        self.cycles.append((sum(o[1] for o in ops) / 1000.0,
                            sum(o[2] for o in ops) / 1000.0))

    def medians(self, col: int) -> dict[str, float]:
        """Median wall (``col`` 1) or CPU (``col`` 2) ms of each kind."""
        by: dict[str, list] = {}
        for op in self.ops:
            by.setdefault(op[0], []).append(op[col])
        return {k: median(v) for k, v in by.items()}


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _files_under(root: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(root))


def _doc_schema():
    from document_parsing_etl_pipeline_spark.streaming.watcher import DOC_SCHEMA
    return DOC_SCHEMA


def _blob_rows(seed: int, truth: dict) -> list[tuple[str, bytes, str]]:
    return [(p, corpus.blob_bytes(seed, p), "image/png")
            for e in truth.values() for p in e["chart_paths"]]


def _ingest_once(ctx: Ctx, jsonl: str, root: str, blobs: list):
    """The paper's main path: JSONL → process_documents → blobs."""
    from document_parsing_etl_pipeline_spark.processor import DocumentProcessor
    from document_parsing_etl_pipeline_spark.sources import files, objectstore
    tr = ctx.tracer
    with tr.span("files.read_jsonl_documents"):
        docs = files.read_jsonl_documents(ctx.spark, jsonl, schema=_doc_schema())
    proc = DocumentProcessor(ctx.spark, root)
    with tr.span("processor.process_documents"):
        proc.process_documents(docs)
    with tr.span("objectstore.write_blobs"):
        objectstore.write_blobs(objectstore.put_images(ctx.spark, blobs), root)
    return proc


def _check_store(proc, truth: dict, sample: list[int]) -> str:
    """Compare the store's rows for ``sample`` doc ids with the
    ground truth; returns "" when they match, else what differs."""
    from pyspark.sql import functions as F
    t = proc.tables
    ids = F.col("doc_id").isin(sample)
    docs = {r.doc_id: (r.total_chunks, r.total_tokens) for r in
            t["documents"].where(ids).select(
                "doc_id", "total_chunks", "total_tokens").collect()}
    ents = {r.doc_id: r for r in t["chunks"].where(ids).groupBy("doc_id").agg(
        *[F.sum(f"n_{k}").alias(k) for k, _ in corpus.ENTITY_RES]).collect()}
    charts: dict[int, list] = {}
    for r in t["charts"].where(ids).select("doc_id", "image_path").collect():
        charts.setdefault(r.doc_id, []).append(r.image_path)
    for d in sample:
        e = truth[d]
        if docs.get(d) != (e["total_chunks"], e["total_tokens"]):
            return f"doc {d}: chunks/tokens {docs.get(d)}"
        got = {k: ents[d][k] for k, _ in corpus.ENTITY_RES} if d in ents else None
        if got != e["entities"]:
            return f"doc {d}: entities {got} != {e['entities']}"
        if sorted(charts.get(d, [])) != e["chart_paths"]:
            return f"doc {d}: charts"
    return ""


# ----------------------------------------------------------- pipeline

def pipeline(ctx: Ctx) -> Result:
    """The paper's application path as one client session. Set-up is
    the batch ingest of the seeded corpus (read_jsonl_documents →
    process_documents with a store root → write_blobs), which builds
    the store the reads hit. Each cycle then runs, in order: an upload
    round (land docs, one availableNow watcher micro-batch, read the
    last doc back through a processor over the streaming store) and
    one call of each API read, in seeded order with Zipf-skewed doc
    ids, against the set-up store."""
    from document_parsing_etl_pipeline_spark.sources import docstore, objectstore
    res = Result()
    tr = ctx.tracer
    if tr.enabled:
        for name in ("build_docstore", "write_docstore", "read_docstore"):
            _wrap(tr, docstore, name, f"docstore.{name}")
        _wrap(tr, objectstore, "read_blob", "objectstore.read_blob")
    base = _fresh(os.path.join(ctx.work, "pipeline"))
    jsonl = os.path.join(base, "corpus.jsonl")
    stream = _Stream(ctx, os.path.join(base, "stream"))
    # ids that fill every bucket of the store, as a large store does
    doc_ids = corpus.covering_ids(PIPELINE_DOCS)
    rng = np.random.default_rng([ctx.seed, 2])
    ranks = 1.0 / np.arange(1, PIPELINE_DOCS + 1) ** ZIPF_A
    perm = rng.permutation(PIPELINE_DOCS)
    returned = {op: 0 for op in READ_OPS}
    requests = itertools.count()
    upload_ids = itertools.count(2 * 10**9, UPLOAD_DOCS_PER_ROUND)

    # the ingest client's corpus on disk, its ground truth and its
    # chart blobs, made before any timer starts
    docs = corpus.make_documents(ctx.seed, PIPELINE_DOCS, ids=doc_ids)
    corpus.write_jsonl(docs, jsonl)
    truth = {d["doc_id"]: corpus.expected(d) for d in docs}
    blobs = _blob_rows(ctx.seed, truth)

    def sample() -> list[int]:
        return sorted(doc_ids[x] for x in rng.choice(PIPELINE_DOCS, 24, replace=False))

    def step(kind: str, measured: bool, run, check):
        """Run one operation, then check its output. A measured one is
        timed and traced, the check left out; a warm-up one is only
        checked."""
        request = next(requests) if measured else None
        name = "op.upload" if kind == "upload" else f"processor.{kind}"
        t0, u0 = time.perf_counter(), ctx.cpu()
        try:
            with tr.span(name, request=request):
                out = run()
        except Exception as exc:  # a failing operation is a failed op
            out, why = None, f"{kind}: {type(exc).__name__}: {exc}"
        else:
            why = None
        t1, u1 = time.perf_counter(), ctx.cpu()
        if why is None:
            try:
                why = check(out)
            except Exception as exc:
                why = f"{kind} check: {type(exc).__name__}: {exc}"
        if measured:
            res.record(kind, (t1 - t0) * 1000.0, (u1 - u0) * 1000.0, why)
        else:
            res.check(why)
        return out

    def serve(reader, measured: bool) -> None:
        """An upload round, then one call of each read on ``reader``."""
        new = corpus.make_documents(ctx.seed, UPLOAD_DOCS_PER_ROUND,
                                    first_id=next(upload_ids))
        step("upload", measured, lambda: stream.round(new),
             lambda info: _check_upload(info, new[-1]))
        for op in rng.permutation(READ_OPS):
            rank = int(rng.choice(PIPELINE_DOCS, p=ranks / ranks.sum()))
            if op in CHART_OPS:  # the next doc by popularity that has charts
                rank = next(r for r in range(rank, rank + PIPELINE_DOCS)
                            if truth[doc_ids[perm[r % PIPELINE_DOCS]]]["chart_paths"])
            doc_id = doc_ids[perm[rank % PIPELINE_DOCS]]
            out = step(op, measured,
                       lambda: _read_op(reader, op, doc_id, truth, ctx.seed),
                       lambda got: _check_read(op, doc_id, got, truth, ctx.seed))
            if measured:
                returned[op] += _rows_returned(op, out)

    # set-up, repeated: the batch ingest builds the store the reads
    # hit into a fresh root and leaves the processor holding the store
    # as read back. The first build runs cold; the traced run counts
    # the warm ones as measured ingests.
    store = None
    for rep in range(SETUP_REPS):
        if store:
            shutil.rmtree(store, ignore_errors=True)
        store = os.path.join(base, f"store{rep}")
        t0 = time.perf_counter()
        with tr.span("op.ingest", request=next(requests) if rep else None):
            proc = _ingest_once(ctx, jsonl, store, blobs)
        res.setup_s.append(time.perf_counter() - t0)
        res.check(_check_store(proc, truth, sample()))
    # warm-up: JIT of the read path, the streaming query's first
    # micro-batch. Two cycles, because the JVM still compiles through
    # the second: its CPU time reads about a tenth above the third's
    # and varies twice as much between runs.
    t0 = time.perf_counter()
    for _ in range(2):
        serve(proc, False)
    res.layers["setup.warmup_s"] = time.perf_counter() - t0
    stream.progress.clear()
    stream.start_ms.clear()

    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline or len(res.cycles) < MIN_CYCLES["pipeline"]:
        first = len(res.ops)
        serve(proc, True)
        res.end_cycle(first)
    res.layers["docstore.files_total_end"] = _files_under(stream.root)
    if tr.enabled:
        res.layers.update(_lookup_layers(ctx, returned, stream))
        res.layers.update(_ingest_layers(
            ctx, jsonl, sum(d["n_chars"] for d in docs)))
    return res


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _ingest_layers(ctx: Ctx, jsonl: str, text_bytes: int) -> dict:
    """Parse-stage self times by cumulative prefixes (read; read +
    chunk; read + chunk + entities; read + charts), each materialized
    with a noop write, then the store-write counters of the loop."""
    from document_parsing_etl_pipeline_spark.operators import charts, chunking, entities
    from document_parsing_etl_pipeline_spark.sources import files
    tr, spark = ctx.tracer, ctx.spark

    def read():
        return files.read_jsonl_documents(spark, jsonl, schema=_doc_schema())
    prefixes = {
        "prefix.read": read,
        "prefix.chunk": lambda: chunking.chunk_documents(read()),
        "prefix.entities": lambda: entities.extract_entities(
            chunking.chunk_documents(read()), text_col="text_content"),
        "prefix.charts": lambda: charts.chart_inventory(read()),
    }
    spans = {}
    for name, build in prefixes.items():
        with tr.span(name) as sp:
            _noop(build())
        spans[name] = sp
    c = SparkCounters(spark)

    def busy(a, b=None):
        return spans[a].ms / 1000.0 - (spans[b].ms / 1000.0 if b else 0.0)

    def cpu(a, b=None):
        return c.totals([spans[a].group])["cpu_s"] - (
            c.totals([spans[b].group])["cpu_s"] if b else 0.0)

    def rows_out(name):
        outs = [n["number of output rows"] for n in
                c.nodes([spans[name].group], "") if "number of output rows" in n]
        return outs[-1] if outs else 0.0

    groups = _groups_by_name(tr)
    writes = groups.get("docstore.write_docstore", [])
    ops = len(groups.get("op.ingest", [])) or 1
    wt = c.totals(writes)
    ins = c.nodes(writes, "Execute InsertIntoHadoopFsRelationCommand")
    blob_w = groups.get("objectstore.write_blobs", [])
    blob_ins = c.nodes(blob_w, "Execute InsertIntoHadoopFsRelationCommand")
    bytes_written = sum(n.get("written output", 0) for n in ins) / ops
    return {
        "files.read_jsonl_s": busy("prefix.read"),
        "chunking.busy_s": busy("prefix.chunk", "prefix.read"),
        "chunking.cpu_s": cpu("prefix.chunk", "prefix.read"),
        "chunking.rows_out": rows_out("prefix.chunk"),
        "chunking.task_skew": c.task_skew([spans["prefix.chunk"].group]),
        "entities.busy_s": busy("prefix.entities", "prefix.chunk"),
        "entities.cpu_s": cpu("prefix.entities", "prefix.chunk"),
        "charts.busy_s": busy("prefix.charts", "prefix.read"),
        "charts.rows_out": rows_out("prefix.charts"),
        "docstore.build_s": _span_median(tr, "docstore.build_docstore") / 1000.0,
        "docstore.write_s": _span_median(tr, "docstore.write_docstore") / 1000.0,
        "docstore.write_cpu_s": wt["cpu_s"] / ops,
        "docstore.write_jobs": c.jobs(writes) / ops,
        "docstore.shuffle_write_bytes": wt["shuffle_write_bytes"] / ops,
        "docstore.files_written": sum(n.get("number of written files", 0)
                                      for n in ins) / ops,
        "docstore.bytes_written": bytes_written,
        "docstore.write_amplification": bytes_written / text_bytes,
        "objectstore.write_s": _span_median(tr, "objectstore.write_blobs") / 1000.0,
        "objectstore.files_written": sum(n.get("number of written files", 0)
                                         for n in blob_ins) / max(1, len(blob_w)),
        "processor.process_documents_s":
            _span_median(tr, "processor.process_documents") / 1000.0,
        "ingest.docs_per_s": PIPELINE_DOCS * 1000.0 / _span_median(tr, "op.ingest"),
    }


def _groups_by_name(tr: Tracer) -> dict[str, list[str]]:
    """Job groups of the spans opened by measured operations (set-up
    spans carry no request id), by span name."""
    out: dict[str, list[str]] = {}
    for sp in tr.spans:
        if sp.request is not None:
            out.setdefault(sp.name, []).append(sp.group)
    return out


def _span_median(tr: Tracer, name: str) -> float:
    return median([sp.ms for sp in tr.spans
                   if sp.name == name and sp.request is not None])


def _wrap(tr: Tracer, module, name: str, span_name: str) -> None:
    fn = getattr(module, name)

    def traced(*a, **kw):
        with tr.span(span_name):
            return fn(*a, **kw)
    setattr(module, name, traced)


def _read_op(proc, op: str, doc_id: int, truth: dict, seed: int):
    """One API read, materialized to Python values as a client gets them."""
    e = truth[doc_id]
    if op == "get_documents":
        return [r.doc_id for r in proc.get_documents(after_id=doc_id - 1,
                                                     limit=20).collect()]
    if op == "get_document_info":
        return proc.get_document_info(doc_id)
    if op == "get_document_chunks":
        n = e["total_chunks"]
        lo = doc_id % n
        return (lo, min(n - 1, lo + 4),
                proc.get_document_chunks(doc_id, lo, lo + 4).collect())
    if op == "get_document_charts":
        return proc.get_document_charts(doc_id).collect()
    paths = e["chart_paths"]
    if not paths:
        return None
    path = paths[doc_id % len(paths)]
    chart_id = int(path.rsplit("/", 1)[1][:-4])
    return path, proc.get_chart_with_image(doc_id, chart_id)


def _check_read(op: str, doc_id: int, out, truth: dict, seed: int) -> str:
    e = truth[doc_id]
    if op == "get_documents":
        want = sorted(d for d in truth if d >= doc_id)[:20]
        return "" if out == want else f"get_documents({doc_id})"
    if op == "get_document_info":
        ok = (out is not None and out["total_chunks"] == e["total_chunks"]
              and len(out["chunks"]) == e["total_chunks"]
              and sorted(c["image_path"] for c in out["charts"]) == e["chart_paths"])
        return "" if ok else f"get_document_info({doc_id})"
    if op == "get_document_chunks":
        lo, hi, rows = out
        ok = [r.chunk_index for r in rows] == list(range(lo, hi + 1))
        return "" if ok else f"get_document_chunks({doc_id})"
    if op == "get_document_charts":
        ok = sorted(r.image_path for r in out) == e["chart_paths"]
        return "" if ok else f"get_document_charts({doc_id})"
    if out is None:
        return "" if not e["chart_paths"] else f"get_chart_with_image({doc_id})"
    path, got = out
    ok = (got is not None and got["image_path"] == path
          and got.get("image_data") == corpus.blob_bytes(seed, path))
    return "" if ok else f"get_chart_with_image({doc_id})"


def _rows_returned(op: str, out) -> int:
    if out is None:
        return 0
    if op == "get_documents":
        return len(out)
    if op == "get_document_info":
        return 1 + len(out["chunks"]) + len(out["charts"])
    if op == "get_document_chunks":
        return len(out[2])
    if op == "get_document_charts":
        return len(out)
    return 1


class _Stream:
    """An upload target: a watch directory, the streaming store the
    full watcher pipeline writes, and its checkpoint."""

    def __init__(self, ctx: Ctx, root: str):
        self.ctx = ctx
        self.root = root
        self.watch = os.path.join(root, "watch")
        self.store = os.path.join(root, "store")
        self.ckpt = os.path.join(root, "ckpt")
        self.progress: list[dict] = []
        self.start_ms: list[float] = []

    def round(self, docs: list[dict]):
        """Upload ``docs``, run one availableNow micro-batch, then read
        the last doc back; returns its ``get_document_info``."""
        from document_parsing_etl_pipeline_spark.processor import DocumentProcessor
        from document_parsing_etl_pipeline_spark.streaming import watcher
        tr, spark = self.ctx.tracer, self.ctx.spark
        proc = DocumentProcessor(spark, self.store)
        for d in docs:
            with tr.span("processor.upload_document"):
                proc.upload_document(d["doc_id"], d["text"], self.watch,
                                     lang=d["lang"], source=d["source"])
        t0 = time.perf_counter()
        with tr.span("watcher.start_full_pipeline"):
            q = watcher.start_full_pipeline(spark, self.watch, self.store,
                                            self.ckpt, available_now=True)
        self.start_ms.append((time.perf_counter() - t0) * 1000.0)
        with tr.span("watcher.await"):
            q.awaitTermination()
        self.progress.extend(p for p in q.recentProgress
                             if p.get("numInputRows", 0) > 0)
        with tr.span("processor.readback"):
            return DocumentProcessor(spark, self.store).get_document_info(
                docs[-1]["doc_id"])


def _check_upload(info, doc: dict) -> str:
    """The uploaded doc must be visible with all its chunks."""
    want = corpus.expected(doc)["total_chunks"]
    if info is None or info["total_chunks"] != want or len(info["chunks"]) != want:
        return f"upload {doc['doc_id']} not visible"
    return ""


def _lookup_layers(ctx: Ctx, returned: dict, stream: _Stream) -> dict:
    tr = ctx.tracer
    c = SparkCounters(ctx.spark)
    groups = _groups_by_name(tr)
    out: dict[str, float] = {}
    scans, blob_exec = [], []
    for op in READ_OPS:
        gs = groups.get(f"processor.{op}", [])
        t = c.totals(gs)
        n = max(1, len(gs))
        wall = _span_median(tr, f"processor.{op}")
        out[f"processor.{op}.p50_ms"] = wall
        out[f"processor.{op}.jobs"] = c.jobs(gs) / n
        out[f"processor.{op}.stages"] = t["stages"] / n
        out[f"processor.{op}.tasks"] = t["tasks"] / n
        out[f"processor.{op}.driver_ms"] = max(0.0, wall - t["job_ms"] / n)
        for g in gs:
            execs = sorted(c.executions([g]), key=lambda e: e["id"])
            if op == "get_chart_with_image" and len(execs) == 2:
                blob_exec.append(execs.pop())
            scans.extend(execs)
    docstore_scans = [
        {m["name"]: metric_value(m["value"]) for m in n["metrics"]}
        for e in scans for n in e["nodes"] if n["nodeName"] == "Scan parquet"]
    n_lookups = max(1, sum(len(groups.get(f"processor.{op}", [])) for op in READ_OPS))
    out["docstore.read_s"] = median([e["duration"] / 1000.0 for e in scans])
    out["docstore.files_read_per_lookup"] = sum(
        s.get("number of files read", 0) for s in docstore_scans) / n_lookups
    out["docstore.partitions_read_per_lookup"] = median(
        [s.get("number of partitions read", 0) for s in docstore_scans])
    out["docstore.bytes_read_per_lookup"] = sum(
        s.get("size of files read", 0) for s in docstore_scans) / n_lookups
    out["docstore.rows_scanned_per_row_returned"] = sum(
        s.get("number of output rows", 0) for s in docstore_scans) / max(
        1, sum(returned.values()))
    info_scans = [
        {m["name"]: metric_value(m["value"]) for m in n["metrics"]}
        for g in groups.get("processor.get_document_info", [])
        for e in c.executions([g]) for n in e["nodes"]
        if n["nodeName"] == "Scan parquet"]
    out["docstore.partitions_read_per_info"] = median(
        [s.get("number of partitions read", 0) for s in info_scans])
    out["docstore.max_partitions_read_per_info"] = max(
        [s.get("number of partitions read", 0) for s in info_scans], default=0)
    out["objectstore.read_blob_ms"] = median([e["duration"] for e in blob_exec])
    out["objectstore.files_read_per_get"] = median([
        metric_value(m["value"]) for e in blob_exec for n in e["nodes"]
        if n["nodeName"] == "Scan parquet" for m in n["metrics"]
        if m["name"] == "number of files read"])
    dur = [p.get("durationMs", {}) for p in stream.progress]
    for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                      ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
                      ("queryPlanning", "query_planning_ms"),
                      ("latestOffset", "latest_offset_ms")):
        out[f"watcher.{name}"] = median([d.get(key, 0) for d in dur])
    out["watcher.start_ms"] = median(stream.start_ms)
    out["processor.upload_document_ms"] = _span_median(tr, "processor.upload_document")
    out["upload.visible_p50_ms"] = _span_median(tr, "op.upload")
    out["upload.readback_ms"] = _span_median(tr, "processor.readback")
    return out


# ----------------------------------------------------------- registry

def registry(ctx: Ctx) -> Result:
    """Passes over a fixed subset of the query registry against seeded
    tables, in a seeded order; build (``QUERIES[name](spark, sf)``) and
    execute (a noop write) are timed apart."""
    from document_parsing_etl_pipeline_spark import catalog
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES
    tr, spark = ctx.tracer, ctx.spark
    res = Result()
    cold, warm = [], []
    tabs = tables.make_tables(ctx.seed)
    # set-up, repeated: the engine opens every table of a freshly
    # written directory (the tables are written before the timer)
    for rep in range(SETUP_REPS):
        sf = _fresh(os.path.join(ctx.work, f"sf{rep}"))
        tables.write_tables(tabs, sf)
        t0 = time.perf_counter()
        for name in catalog.TABLES:
            t1 = time.perf_counter()
            catalog.load_table(spark, sf, name)
            cold.append((time.perf_counter() - t1) * 1000.0)
        res.setup_s.append(time.perf_counter() - t0)
    for name in catalog.TABLES:
        t1 = time.perf_counter()
        catalog.load_table(spark, sf, name)
        warm.append((time.perf_counter() - t1) * 1000.0)
    truth = _registry_truth(tabs)
    # the cold first pass (JIT, first scans) is warm-up, checked for
    # correctness and reported apart
    t0 = time.perf_counter()
    for q in REGISTRY_SUBSET:
        with tr.span("plans.cold"):
            df = QUERIES[q](spark, sf)
            _noop(df)
            res.check(_check_query(q, df, truth))
    cold_pass_s = time.perf_counter() - t0
    order = list(REGISTRY_SUBSET)
    np.random.default_rng([ctx.seed, 3]).shuffle(order)
    build_s, exec_s = [], []
    deadline = time.perf_counter() + ctx.seconds
    p = 0
    while time.perf_counter() < deadline or len(res.cycles) < MIN_CYCLES["registry"]:
        first = len(res.ops)
        b = e = 0.0
        with tr.span("op.pass", request=p):
            for q in order:
                t1, u1 = time.perf_counter(), ctx.cpu()
                try:
                    with tr.span(f"plans.build.{q}"):
                        df = QUERIES[q](spark, sf)
                    t2 = time.perf_counter()
                    with tr.span(f"plans.exec.{q}"):
                        _noop(df)
                    why = ""
                except Exception as exc:  # a failing query is a failed op
                    t2, why = time.perf_counter(), f"{q}: {type(exc).__name__}"
                t3, u3 = time.perf_counter(), ctx.cpu()
                b += t2 - t1
                e += t3 - t2
                res.record(q, (t3 - t1) * 1000.0, (u3 - u1) * 1000.0, why)
        res.end_cycle(first)
        build_s.append(b)
        exec_s.append(e)
        p += 1
    if tr.enabled:
        res.layers.update(_registry_layers(ctx, build_s, exec_s))
    res.layers.update({
        "catalog.load_table_cold_ms": median(cold),
        "catalog.load_table_warm_ms": median(warm),
        "plans.cold_pass_s": cold_pass_s,
    })
    return res


def _registry_truth(tabs: dict) -> dict:
    docs = tabs["documents"].to_pylist()
    exp = [corpus.expected(d) for d in docs]
    li = tabs["lineitem"]
    ship = li.column("l_shipdate").cast("int64").to_numpy()
    return {
        "doc_chunk": sum(e["total_chunks"] for e in exp),
        "ner_entities": {k: sum(e["entities"][k] for e in exp)
                         for k, _ in corpus.ENTITY_RES},
        "q1_pricing_summary": int((ship <= Q1_CUTOFF_US).sum()),
    }


def _check_query(q: str, df, truth: dict) -> str:
    """Exact checks where the answer is known without Spark; for the
    rest, the query must return rows."""
    from pyspark.sql import functions as F
    if q == "doc_chunk":
        got = df.count()
        return "" if got == truth[q] else f"doc_chunk rows {got}"
    if q == "ner_entities":
        row = df.agg(*[F.sum(f"n_{k}").alias(k) for k in truth[q]]).collect()[0]
        return "" if row.asDict() == truth[q] else f"ner_entities {row}"
    if q == "q1_pricing_summary":
        got = df.agg(F.sum("count_order")).collect()[0][0]
        return "" if got == truth[q] else f"q1 count_order {got}"
    return "" if df.count() > 0 else f"{q}: no rows"


def _registry_layers(ctx: Ctx, build_s: list, exec_s: list) -> dict:
    tr = ctx.tracer
    c = SparkCounters(ctx.spark)
    builds = [sp.group for sp in tr.spans if sp.name.startswith("plans.build.")]
    execs = [sp.group for sp in tr.spans if sp.name.startswith("plans.exec.")]
    passes = max(1, len(build_s))
    names = c.node_names(execs)
    et = c.totals(execs)
    return {
        "plans.build_s": median(build_s),
        "plans.build_jobs": c.jobs(builds) / passes,
        "plans.exec_s": median(exec_s),
        "plans.exec_cpu_s": et["cpu_s"] / passes,
        "plans.shuffle_write_bytes": et["shuffle_write_bytes"] / passes,
        "plans.final_scans": sum(n.startswith("Scan") for n in names) / passes,
        "plans.final_exchanges": names.count("Exchange") / passes,
        "plans.final_reused_exchanges": names.count("ReusedExchange") / passes,
    }


WORKLOADS = {"pipeline": pipeline, "registry": registry}
