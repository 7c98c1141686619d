"""Facade parity tests: the reference's processor/API call sequence
(demo.py + api.py flows) against DocumentProcessor."""

import os
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from document_parsing_etl_pipeline_spark.processor import DocumentProcessor
from document_parsing_etl_pipeline_spark.sources import docstore, objectstore


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([
        Row(doc_id=1, text="table data vector spark customer " * 10,
            lang="en", source="s1", n_chars=330),
        Row(doc_id=2, text="short one", lang="en", source="s2", n_chars=9),
    ])


@pytest.fixture(scope="module")
def proc(spark, docs, tmp_path_factory):
    p = DocumentProcessor(
        spark, store_root=str(tmp_path_factory.mktemp("store"))
    )
    p.process_documents(docs)
    paths = [r.image_path for r in p.tables["charts"].collect()]
    objectstore.write_blobs(
        objectstore.put_images(
            spark, [(path, path.encode(), "image/png") for path in paths]
        ),
        p.store_root,
    )
    return p


def test_list_documents(proc):
    rows = proc.get_documents().collect()
    assert [r.doc_id for r in rows] == [1, 2]
    assert rows[0].total_chunks > 1


def test_document_info_roundtrip(proc):
    info = proc.get_document_info(1)
    assert info["filename"] == "doc_1.txt"
    assert len(info["chunks"]) == info["total_chunks"]
    assert all(c["doc_id"] == 1 for c in info["chunks"])
    assert len(info["charts"]) > 0  # 'table'/'vector' markers
    assert proc.get_document_info(999) is None


def test_chunk_range(proc):
    rows = proc.get_document_chunks(1, start_chunk=0, end_chunk=1).collect()
    assert [r.chunk_index for r in rows] == [0, 1]


def test_update_and_delete(proc):
    proc.update_document(2, {"lang": "de"})
    assert proc.get_document_info(2)["lang"] == "de"
    proc.delete_document(2)
    assert proc.get_document_info(2) is None
    assert proc.get_document_chunks(2).count() == 0
    assert proc.get_document_info(1) is not None


def test_upload_document_lands_for_watcher(tmp_path, spark):
    """upload_document drops a file the streaming watcher ingests on
    its next micro-batch — POST /documents/upload parity end to end."""
    from document_parsing_etl_pipeline_spark.processor import (
        DocumentProcessor,
    )
    from document_parsing_etl_pipeline_spark.streaming import watcher

    proc = DocumentProcessor(spark)
    watch = str(tmp_path / "drops")
    path = proc.upload_document(
        7, "uploaded text body with several words", watch
    )
    assert path.endswith("upload_doc_7.json")
    q = watcher.start_pipeline(
        spark, watch, str(tmp_path / "out"), str(tmp_path / "cp"),
        available_now=True,
    )
    q.awaitTermination(120)
    chunks = spark.read.parquet(str(tmp_path / "out"))
    assert chunks.where(chunks.doc_id == 7).count() >= 1
    # re-upload overwrites the same drop file (idempotent landing)
    assert proc.upload_document(7, "new body", watch) == path


# ------------------------------------------------- bucket-pruned lookups

STORE_TABLES = ("documents", "chunks", "charts")
_SCAN = re.compile(r"FileScan parquet .*Location: \w+\(\d+ paths\)\[(.*?)\]")
_BUCKET = re.compile(r"PartitionFilters: \[[^\]]*\(bucket#\d+ = (\d+)\)")


def _store_scans(monkeypatch, frame_cls, call):
    """Run ``call``; return its result and, for every doc-store scan in
    the executed plans of the frames it collected, the table scanned
    and the ``bucket`` value of the scan's partition filter (None when
    it has none)."""
    plans = []
    collect = frame_cls.collect

    def recording_collect(self):
        rows = collect(self)
        plan = self._jdf.queryExecution().executedPlan().toString()
        # an adaptive plan prints its final plan, then its initial one
        plans.append(plan.split("== Initial Plan ==")[0])
        return rows

    with monkeypatch.context() as m:
        m.setattr(frame_cls, "collect", recording_collect)
        out = call()
    scans = []
    for line in "\n".join(plans).splitlines():
        scan = _SCAN.search(line)
        table = scan and os.path.basename(scan.group(1))
        if table in STORE_TABLES:
            bucket = _BUCKET.search(line)
            scans.append((table, bucket and int(bucket.group(1))))
    return out, scans


def _stored_bucket(spark, root, doc_id):
    """``pmod(xxhash64(doc_id), N_BUCKETS)`` as Spark computes it on the
    stored ``doc_id`` column, checked against the partition value the
    writer gave the row."""
    (row,) = (
        spark.read.parquet(os.path.join(root, "documents"))
        .where(F.col("doc_id") == doc_id)
        .select(
            F.pmod(F.xxhash64("doc_id"), F.lit(docstore.N_BUCKETS))
            .alias("hashed"),
            "bucket",
        )
        .collect()
    )
    assert row.hashed == row.bucket
    return row.hashed


def _chart_id(image_path):
    return int(image_path.rsplit("/", 1)[1][:-len(".png")])


def _assert_reads_pruned(monkeypatch, spark, q, doc_id):
    frame_cls = type(q.tables["documents"])
    want = _stored_bucket(spark, q.store_root, doc_id)
    chart = q.get_document_charts(doc_id).first()
    chart_id = _chart_id(chart.image_path) if chart else 1
    reads = {
        "get_document_info": (
            lambda: q.get_document_info(doc_id), STORE_TABLES),
        "get_document_chunks": (
            lambda: q.get_document_chunks(doc_id, 0, 1).collect(),
            ("chunks",)),
        "get_document_charts": (
            lambda: q.get_document_charts(doc_id).collect(), ("charts",)),
        "get_chart_with_image": (
            lambda: q.get_chart_with_image(doc_id, chart_id), ("charts",)),
        "chunk_range": (
            lambda: docstore.chunk_range(
                q.tables["chunks"], doc_id, 0, 1).collect(),
            ("chunks",)),
    }
    for name, (call, tables) in reads.items():
        _, scans = _store_scans(monkeypatch, frame_cls, call)
        assert sorted(t for t, _ in scans) == sorted(tables), (name, scans)
        assert all(b == want for _, b in scans), (name, want, scans)


def test_lookups_prune_to_the_doc_bucket(monkeypatch, spark, proc):
    """Every doc-scoped read over the written store scans only the
    doc's bucket directory: its scans carry a ``bucket`` partition
    filter equal to the bucket Spark computes from the stored id, also
    after an update and a delete have wrapped the store's frames."""
    q = DocumentProcessor(spark, proc.store_root)
    for doc_id in (1, 2):
        _assert_reads_pruned(monkeypatch, spark, q, doc_id)
    q.update_document(1, {"lang": "de"})
    q.delete_document(2)
    _assert_reads_pruned(monkeypatch, spark, q, 1)
    out, scans = _store_scans(
        monkeypatch, type(q.tables["documents"]),
        lambda: q.get_document_info(2),
    )
    assert out is None
    assert scans == [
        ("documents", _stored_bucket(spark, proc.store_root, 2))
    ]


def _rows(df, *order):
    return [r.asDict() for r in df.orderBy(*order).collect()]


def test_pruned_lookups_match_plain_doc_id_filter(spark, proc):
    """Pruned reads return exactly the rows of a plain ``doc_id``
    filter over the same tables, for every stored doc and a missing
    one."""
    q = DocumentProcessor(spark, proc.store_root)
    t = docstore.read_docstore(spark, proc.store_root)
    for doc_id in (1, 2, 999):
        def plain(name):
            return t[name].where(F.col("doc_id") == doc_id)

        chunks = _rows(plain("chunks"), "chunk_index")
        charts = _rows(plain("charts"), "image_path")
        docs = plain("documents").collect()
        info = q.get_document_info(doc_id)
        if doc_id == 999:
            assert not docs and info is None and not chunks
        else:
            info["charts"].sort(key=lambda c: c["image_path"])
            assert info == dict(docs[0].asDict(), chunks=chunks,
                                charts=charts)
        assert _rows(q.get_document_chunks(doc_id), "chunk_index") == chunks
        assert _rows(q.get_document_chunks(doc_id, 0, 1), "chunk_index") \
            == [c for c in chunks if c["chunk_index"] <= 1]
        assert _rows(docstore.chunk_range(q.tables["chunks"], doc_id, 0, 1),
                     "chunk_index") == _rows(
            plain("chunks").where(F.col("chunk_index").between(0, 1))
            .select("doc_id", "chunk_index", "text_content", "token_count"),
            "chunk_index")
        assert _rows(q.get_document_charts(doc_id), "image_path") == charts
        for chart in charts[:1] + charts[-1:]:
            got = q.get_chart_with_image(doc_id,
                                         _chart_id(chart["image_path"]))
            assert got.pop("image_data") == chart["image_path"].encode()
            assert got.pop("content_type") == "image/png"
            assert got == chart


def test_lookups_hash_the_stored_id_type(spark, docs, tmp_path):
    """A store whose ``doc_id`` is an int: the bucket literal must be
    hashed as an int, as the writer hashed the column. Doc 5 lands in
    different buckets as an int and as a long, so hashing the wrong
    type would find nothing."""
    as_int, as_long = spark.range(1).select(*(
        F.pmod(F.xxhash64(F.lit(5).cast(t)), F.lit(docstore.N_BUCKETS))
        for t in ("int", "long")
    )).first()
    assert as_int != as_long
    q = DocumentProcessor(spark, str(tmp_path / "store"))
    q.process_documents(
        docs.where(F.col("doc_id") == 1)
        .withColumn("doc_id", F.lit(5).cast("int"))
    )
    assert isinstance(q.tables["documents"].schema["doc_id"].dataType,
                      IntegerType)
    info = q.get_document_info(5)
    assert info is not None and info["total_chunks"] > 1
    assert len(info["chunks"]) == info["total_chunks"]
    assert q.get_document_chunks(5).count() == info["total_chunks"]
    assert q.get_document_charts(5).count() == len(info["charts"]) > 0
    # an id outside the int range is an empty lookup, not a cast error
    assert q.get_document_info(2**40) is None


def test_lookups_over_streaming_store(spark, proc, tmp_path):
    """The streaming sink's store has ``batch_id=`` partitions and no
    ``bucket`` column; lookups there keep the plain ``doc_id`` filter
    and still find every chunk."""
    from document_parsing_etl_pipeline_spark.streaming import watcher

    watch, store = str(tmp_path / "drops"), str(tmp_path / "store")
    proc.upload_document(11, "table data vector spark customer " * 10, watch)
    query = watcher.start_full_pipeline(spark, watch, store,
                                        str(tmp_path / "cp"))
    assert query.awaitTermination(120)
    reader = DocumentProcessor(spark, store)
    assert "bucket" not in reader.tables["chunks"].columns
    info = reader.get_document_info(11)
    assert info is not None and info["total_chunks"] > 1
    assert len(info["chunks"]) == info["total_chunks"]
