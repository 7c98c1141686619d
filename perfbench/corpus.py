"""Seeded document corpus and its pure-Python ground truth.

Every input the benchmark feeds the engine comes from here, as a pure
function of the seed: documents with log-normal lengths (a heavy tail,
so one slow task shows), person names, dates, numbers, gazetteer terms
and chart markers at seeded densities, and the chart image bytes.

The ground-truth functions recompute what the engine's parse stage
should produce (chunk count, entity counts, chart paths) with Python's
``re`` and string slicing, independent of Spark. They mirror the
operator parameters of ``operators.chunking``, ``operators.entities``
and ``operators.charts``; the patterns only use syntax that means the
same in Java regex and Python ``re``.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import re

import numpy as np
from document_parsing_etl_pipeline_spark.sources.docstore import N_BUCKETS

CHUNK_SIZE = 120
MIN_CHUNK = 20

RE_PERSON = re.compile(r"[A-Z][a-z]+ [A-Z][a-z]+")
RE_DATE = re.compile(
    r"[0-9]{4}-[0-9]{2}-[0-9]{2}|[0-9]{1,2}/[0-9]{1,2}/[0-9]{2,4}")
RE_NUMBER = re.compile(r"[0-9]+")
RE_ORG = re.compile(r"\b(customer|supplier|spark)\b")
RE_LOC = re.compile(r"\b(region|nation|jakarta|york|london)\b")
RE_TABLE = re.compile(r"\btable\b")
RE_FIGURE = re.compile(r"\bvector\b")
ENTITY_RES = (("persons", RE_PERSON), ("organizations", RE_ORG),
              ("dates", RE_DATE), ("locations", RE_LOC),
              ("misc", RE_NUMBER))

FILLER = (
    "join hash row batch scan column filter small slow merge order line "
    "data agg value key stream window a part group big sort query fast "
    "the of to in report index page model score layer cache token"
).split()
GAZETTEER = ("customer", "supplier", "spark", "region", "nation",
             "jakarta", "york", "london")
FIRST = ("Ada", "Budi", "Chen", "Dewi", "Emil", "Farah", "Gita", "Hana",
         "Ivan", "Joko", "Kara", "Lina", "Maya", "Nadia", "Omar", "Putri")
LAST = ("Lovelace", "Santoso", "Wijaya", "Hartono", "Novak", "Tanaka",
        "Rahman", "Lestari", "Moreau", "Kusuma", "Okafor", "Silva")
LANGS = ("en", "id", "es", "de", "fr")
MAX_CHARS = 40_000


def _token_pool(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` tokens: mostly lowercase filler, with entities and chart
    markers mixed in at a per-document density drawn from the seed."""
    dens = rng.dirichlet((70, 2, 1, 3, 3, 0.3, 0.3))
    kinds = rng.choice(7, size=n, p=dens)
    toks = np.array(FILLER, dtype=object)[rng.integers(len(FILLER), size=n)]
    at = [np.flatnonzero(kinds == k) for k in range(7)]
    toks[at[1]] = [f"{FIRST[a]} {LAST[b]}" for a, b in zip(
        rng.integers(len(FIRST), size=len(at[1])),
        rng.integers(len(LAST), size=len(at[1])))]
    ymd = zip(rng.integers(1990, 2030, size=len(at[2])),
              rng.integers(1, 13, size=len(at[2])),
              rng.integers(1, 29, size=len(at[2])),
              rng.random(len(at[2])))
    toks[at[2]] = [f"{y}-{m:02d}-{d:02d}" if iso < 0.6 else f"{m}/{d}/{y}"
                   for y, m, d, iso in ymd]
    toks[at[3]] = [str(v) for v in rng.integers(0, 100_000, size=len(at[3]))]
    toks[at[4]] = np.array(GAZETTEER, dtype=object)[
        rng.integers(len(GAZETTEER), size=len(at[4]))]
    toks[at[5]] = "table"
    toks[at[6]] = "vector"
    return toks.tolist()


def make_documents(seed: int, n_docs: int, first_id: int = 0,
                   median_chars: int = 1500, sigma: float = 1.0,
                   ids: list[int] | None = None) -> list[dict]:
    """``n_docs`` documents in the engine's input schema (doc_id, text,
    lang, source, n_chars). Lengths are log-normal around
    ``median_chars``, capped at ``MAX_CHARS``, and scaled so that their
    total is the log-normal mean times ``n_docs`` for every seed: the
    seed moves the shape of the tail, not the amount of work. Doc ids
    are ``first_id`` onwards, or ``ids`` when given."""
    rng = np.random.default_rng([seed, first_id, n_docs])
    lens = rng.lognormal(np.log(median_chars), sigma, n_docs)
    lens *= n_docs * median_chars * np.exp(sigma ** 2 / 2) / lens.sum()
    lens = np.minimum(lens, MAX_CHARS).astype(int) + 1
    docs = []
    for i, target in enumerate(lens):
        # about 7.5 characters per token including the separator
        toks = _token_pool(rng, max(1, int(target) // 7))
        text = " ".join(toks)
        doc_id = ids[i] if ids else first_id + i
        docs.append({
            "doc_id": doc_id, "text": text,
            "lang": LANGS[int(rng.integers(len(LANGS)))],
            "source": f"src{doc_id % 20}", "n_chars": len(text),
        })
    return docs


def write_jsonl(docs: list[dict], path: str) -> int:
    """Write one JSON document per line; returns the bytes written."""
    data = "".join(json.dumps(d) + "\n" for d in docs).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def chunks_of(text: str) -> list[str]:
    """Chunk texts as ``operators.chunking.chunk_documents`` cuts them
    (fixed windows, no overlap, short trailing chunks dropped unless
    they are the only chunk)."""
    last = max(len(text) - 1, 0) // CHUNK_SIZE
    out = []
    for i in range(last + 1):
        c = text[i * CHUNK_SIZE:(i + 1) * CHUNK_SIZE]
        if len(c) >= MIN_CHUNK or i == 0:
            out.append(c)
    return out


def chart_paths(doc_id: int, text: str) -> list[str]:
    """Object-store paths ``operators.charts.chart_inventory`` assigns:
    tables 1..n, then figures offset by one million."""
    n_tab = len(RE_TABLE.findall(text))
    n_fig = len(RE_FIGURE.findall(text))
    ids = list(range(1, n_tab + 1)) + [1_000_000 + i for i in range(1, n_fig + 1)]
    return [f"documents/{doc_id}/charts/{c}.png" for c in ids]


def expected(doc: dict) -> dict:
    """Ground truth for one document: chunk count, per-type entity
    totals over its chunks, token total and sorted chart paths."""
    chunks = chunks_of(doc["text"])
    ents = {name: sum(len(rx.findall(c)) for c in chunks)
            for name, rx in ENTITY_RES}
    return {
        "total_chunks": len(chunks),
        "total_tokens": sum(len(c.split()) for c in chunks),
        "entities": ents,
        "chart_paths": sorted(chart_paths(doc["doc_id"], doc["text"])),
    }


def blob_bytes(seed: int, image_path: str) -> bytes:
    """Deterministic stand-in PNG bytes for one chart: a PNG signature
    and 256-2303 seeded bytes."""
    h = hashlib.sha256(f"{seed}:{image_path}".encode()).digest()
    rng = np.random.default_rng(list(h[:8]))
    n = 256 + int(rng.integers(0, 2048))
    return b"\x89PNG\r\n\x1a\n" + rng.bytes(n)


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def store_bucket(doc_id: int) -> int:
    """The doc store's bucket of a doc id, ``pmod(xxhash64(doc_id),
    N_BUCKETS)`` as Spark computes it (XXH64 of one long, seed 42)."""
    h = (42 + _P5 + 8) & _M64
    h ^= (_rotl((doc_id * _P2) & _M64, 31) * _P1) & _M64
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    signed = h - (1 << 64) if h >> 63 else h
    return signed % N_BUCKETS


def covering_ids(n: int) -> list[int]:
    """``n`` small doc ids that put a document in every one of the doc
    store's buckets (for ``n >= N_BUCKETS``): the first id of each
    bucket, then the smallest others. A small store then has every
    bucket directory, as a large one does."""
    first: dict[int, int] = {}
    i = 0
    while len(first) < N_BUCKETS:
        first.setdefault(store_bucket(i), i)
        i += 1
    cover = set(first.values())
    rest = (j for j in itertools.count() if j not in cover)
    return sorted(cover | set(itertools.islice(rest, n - len(cover))))
