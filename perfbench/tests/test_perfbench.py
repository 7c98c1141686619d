"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The last four tests run every workload once untraced and once traced
with a one-second measuring window, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import corpus, tables, trace  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _jsonl(seed: int, tmp_path) -> bytes:
    path = tmp_path / f"c{seed}.jsonl"
    corpus.write_jsonl(corpus.make_documents(seed, 40), str(path))
    return path.read_bytes()


def _table_bytes(seed: int, tmp_path) -> dict[str, bytes]:
    d = tmp_path / f"sf{seed}"
    tables.write_tables(tables.make_tables(seed), str(d))
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_same_seed_same_inputs(tmp_path):
    assert _jsonl(5, tmp_path) == _jsonl(5, tmp_path / "..")
    assert _table_bytes(5, tmp_path) == _table_bytes(5, tmp_path / "..")
    assert corpus.blob_bytes(5, "documents/1/charts/1.png") == \
        corpus.blob_bytes(5, "documents/1/charts/1.png")


def test_other_seed_other_inputs(tmp_path):
    assert _jsonl(5, tmp_path) != _jsonl(6, tmp_path)
    a, b = _table_bytes(5, tmp_path), _table_bytes(6, tmp_path)
    assert a.keys() == b.keys()
    assert a["lineitem.parquet"] != b["lineitem.parquet"]
    assert a["documents.parquet"] != b["documents.parquet"]
    assert corpus.blob_bytes(5, "documents/1/charts/1.png") != \
        corpus.blob_bytes(6, "documents/1/charts/1.png")


def test_corpus_has_every_entity_kind_and_a_tail():
    docs = corpus.make_documents(3, 300)
    exp = [corpus.expected(d) for d in docs]
    for kind, _ in corpus.ENTITY_RES:
        assert sum(e["entities"][kind] for e in exp) > 0, kind
    assert sum(len(e["chart_paths"]) for e in exp) > 0
    lens = sorted(d["n_chars"] for d in docs)
    assert lens[-1] > 4 * lens[len(lens) // 2]


def test_ground_truth_chunking():
    text = "x" * 250
    assert [len(c) for c in corpus.chunks_of(text)] == [120, 120]
    assert corpus.chunks_of("short") == ["short"]
    assert corpus.chart_paths(7, "a table b vector table") == [
        "documents/7/charts/1.png", "documents/7/charts/2.png",
        "documents/7/charts/1000001.png"]


def test_store_bucket_matches_spark_and_ids_cover_every_bucket():
    # pmod(xxhash64(id), 64) as Spark computed it for these ids
    spark_says = {0: 44, 1: 50, 2: 13, 3: 11, -5: 28, 123456789: 63,
                  2_000_000_000: 29, 1_000_000_007: 58}
    assert {i: corpus.store_bucket(i) for i in spark_says} == spark_says
    ids = corpus.covering_ids(200)
    assert len(set(ids)) == 200
    assert {corpus.store_bucket(i) for i in ids} == set(range(64))


def test_metric_value_parses_rest_formats():
    assert trace.metric_value("64") == 64
    assert trace.metric_value("634.0 KiB") == 634 * 1024
    assert trace.metric_value("2 ms") == 2
    assert trace.metric_value(
        "total (min, med, max (stageId: taskId))\n2.1 s (991 ms, 1.1 s)") == 2100


def test_metric_names_and_units():
    for kind in ("end_to_end", "per_layer"):
        names = [m["name"] for m in SPEC[kind]]
        assert len(names) == len(set(names))
        for m in SPEC[kind]:
            assert NAME.fullmatch(m["name"]), m["name"]
            assert m["better"] in ("higher", "lower")
            assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
    assert "setup_s" in [m["name"] for m in SPEC["end_to_end"]]


def _run(workload: str, traced: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(traced)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    res = _run(workload, 1)
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if workload == "pipeline":
        # the doc-store lookups scan every bucket of the store today
        assert m["docstore.max_partitions_read_per_info"] == 64
        assert m["chunking.rows_out"] > 0 and m["docstore.files_written"] > 0
        assert m["watcher.trigger_ms"] > 0
    else:
        assert m["plans.build_s"] > 0 and m["plans.final_scans"] > 0
        assert m["catalog.load_table_cold_ms"] > 0
