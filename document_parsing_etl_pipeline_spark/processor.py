"""Engine facade: the reference's IntegratedDocumentProcessor /
repository API surface, 1:1 method names, backed by the Spark engine.

Reference parity map (services/parser/src/engine/pdf_parser.py:32-274,
src/database/base.py, api.py):
    process_document(s)      → parse→chunk→NER→charts → doc store
    upload_document          → POST /documents/upload (api.py:71 —
                               land a file for the watcher pipeline)
    get_documents            → GET /documents (key pagination)
    get_document_info        → GET /documents/{id} (doc ⋈ chunks ⋈ charts)
    get_document_chunks      → GET /documents/{id}/chunks?start&end
    get_document_charts      → GET /documents/{id}/charts
    get_chart_with_image     → GET /documents/{id}/charts/{chart_id}
    update_document / delete_document → BaseRepository.update/delete

A reference user switches by constructing DocumentProcessor over a
SparkSession instead of POSTing to the API; every method returns
DataFrames (lazily) or plain dicts for point lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources import docstore, objectstore


class DocumentProcessor:
    def __init__(self, spark: SparkSession, store_root: str | None = None):
        self.spark = spark
        self.store_root = store_root
        self._tables: dict[str, DataFrame] | None = None

    # ------------------------------------------------------ ingest

    def process_documents(self, docs: DataFrame) -> dict[str, DataFrame]:
        """Run the full parse pipeline; persists if store_root set."""
        self._tables = docstore.build_docstore(docs)
        if self.store_root:
            docstore.write_docstore(self._tables, self.store_root)
            self._tables = docstore.read_docstore(self.spark, self.store_root)
        return self._tables

    def upload_document(self, doc_id: int, text: str, watch_dir: str,
                        lang: str = "en", source: str = "upload") -> str:
        """POST /documents/upload parity (reference api.py:71-90): land
        one document as a JSON-lines drop file in the watcher's input
        directory. The streaming watcher (streaming/watcher.py,
        `maxFilesPerTrigger`-batched file source) discovers it on its
        next micro-batch and runs the same parse→chunk→store pipeline
        the reference's upload endpoint hands to its background worker.
        Returns the path of the landed drop file; the filename carries
        the doc_id so re-uploads overwrite idempotently (primary-key
        INSERT parity — the stream_dedup stateful operator additionally
        guards exactly-once per doc_id across batches)."""
        import json
        import os

        os.makedirs(watch_dir, exist_ok=True)
        path = os.path.join(watch_dir, f"upload_doc_{doc_id}.json")
        rec = {
            "doc_id": doc_id, "text": text, "lang": lang,
            "source": source, "n_chars": len(text),
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps(rec) + "\n")
        # atomic rename: the file source must never see a half-written
        # drop (the reference moves uploads into place the same way)
        os.replace(tmp, path)
        return path

    @property
    def tables(self) -> dict[str, DataFrame]:
        if self._tables is None:
            if not self.store_root:
                raise RuntimeError("no documents processed and no store_root")
            self._tables = docstore.read_docstore(self.spark, self.store_root)
        return self._tables

    # ------------------------------------------------------ queries

    def get_documents(self, after_id: int = -1, limit: int = 100) -> DataFrame:
        """Key-set pagination (the scale-correct get_multi).
        ``after_id`` is exclusive: pass the last doc_id of the previous
        page and that row is not repeated."""
        return (
            self.tables["documents"]
            .where(F.col("doc_id") > after_id)
            .orderBy("doc_id")
            .limit(limit)
        )

    def get_document_info(self, doc_id: int) -> dict | None:
        row = docstore.where_doc(self.tables["documents"], doc_id).collect()
        if not row:
            return None
        info = row[0].asDict()
        info["chunks"] = [
            r.asDict()
            for r in self.get_document_chunks(doc_id).collect()
        ]
        info["charts"] = [
            r.asDict()
            for r in self.get_document_charts(doc_id).collect()
        ]
        return info

    def get_document_chunks(self, doc_id: int,
                            start_chunk: int | None = None,
                            end_chunk: int | None = None) -> DataFrame:
        ch = docstore.where_doc(self.tables["chunks"], doc_id)
        if start_chunk is not None:
            ch = ch.where(F.col("chunk_index") >= start_chunk)
        if end_chunk is not None:
            ch = ch.where(F.col("chunk_index") <= end_chunk)
        return ch.orderBy("chunk_index")

    def get_document_charts(self, doc_id: int) -> DataFrame:
        return docstore.where_doc(self.tables["charts"], doc_id)

    def get_chart_with_image(self, doc_id: int, chart_id: int) -> dict | None:
        chart = (
            docstore.where_doc(self.tables["charts"], doc_id)
            .where(F.col("image_path")
                   == objectstore.object_path(doc_id, chart_id))
            .collect()
        )
        if not chart:
            return None
        out = chart[0].asDict()
        if self.store_root:
            blob = objectstore.read_blob(
                self.spark, self.store_root, doc_id, chart_id
            ).collect()
            if blob:
                out["image_data"] = bytes(blob[0].content)
                out["content_type"] = blob[0].content_type
        return out

    # ------------------------------------------------------ mutation

    def update_document(self, doc_id: int, updates: dict) -> None:
        self._tables = dict(self.tables)
        self._tables["documents"] = docstore.update_document_meta(
            self._tables["documents"], doc_id, updates
        )

    def delete_document(self, doc_id: int) -> None:
        self._tables = docstore.delete_document(self.tables, doc_id)
