"""Seeded input generator for the benchmark.

Every input the program sees is written here from ``--seed``: the same
seed gives byte-identical tables. The star schema, ``events``,
``documents`` and ``embeddings`` follow the column layout of the repo's
synthetic test data (see FIXTURES.md); the high-entropy BPE corpus
follows the ``scripts/make_bpedata.py`` recipe with a seeded rng and a
smaller vocabulary. Row order inside every table is a seeded shuffle, so
a result that depends on input order shows up as a mismatch against the
oracles rather than passing by luck.

The ``events`` changelog is additionally split into part files at
seeded cut points for the streaming workload. Each part covers a
contiguous event-time range (the merge sink's invariant) and part ``i``
gets modification time ``base + i``, so a file-stream source with
``maxFilesPerTrigger=1`` folds them in order, one epoch per file.
"""

from __future__ import annotations

import datetime as dt
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: table sizes: those of the repository's sf0.001 test data. At these
#: sizes a pass costs what its Spark jobs and tasks cost, not what its rows
#: cost, so a larger scale lengthens a pass without reaching other code.
SIZES = dict(customer=150, supplier=10, part=200, orders=1500, lineitem=6000,
             users=50, events=1000, documents=500, embeddings=200,
             bpe_vocab=2000, bpe_docs=300)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "en", "de", "es", "fr", "zh")
EMBED_DIM = 64

#: part files of the split ``events`` changelog: one streaming epoch each
CHANGELOG_PARTS = 4

#: BPE corpus shape (scripts/make_bpedata.py recipe, smaller vocabulary)
BPE_FILES = 16
BPE_WORDS_PER_DOC = (60, 180)
BPE_WORD_LEN = (3, 12)


def _shuffled(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _star(rng: np.random.Generator, s: dict) -> dict[str, pa.Table]:
    nc, ns, npart, no, nl = (s[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": list(REGIONS)})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION_{k}" for k in range(25)],
                       "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    retail = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)
    part = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })
    orders = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", no), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    partkey = rng.integers(0, npart, nl)
    quantity = rng.integers(1, 51, nl).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * retail[partkey] * rng.uniform(0.9, 1.1, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", nl), pa.timestamp("us")),
    })
    return dict(region=region, nation=nation, customer=customer, supplier=supplier,
                part=part, orders=orders, lineitem=lineitem)


def _events(rng: np.random.Generator, s: dict) -> pa.Table:
    n = s["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    # strictly increasing event time: no two changelog rows share a ts
    gaps = rng.integers(1, 2 * (30 * 86400 * 10**6) // n, n)
    ts = start + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["users"], n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, s: dict) -> pa.Table:
    n = s["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and rng.random() < 0.02:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, s: dict) -> pa.Table:
    n = s["embeddings"]
    centers = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    vec = 0.3 * centers[label] + rng.normal(size=(n, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _bpe_documents(rng: np.random.Generator, s: dict) -> pa.Table:
    """High-entropy corpus: Zipf-weighted random ``[a-z]+`` words with a
    mildly skewed letter distribution (scripts/make_bpedata.py)."""
    vocab_n, n = s["bpe_vocab"], s["bpe_docs"]
    letters = np.array(list(string.ascii_lowercase))
    w = np.array([1.0 / (1 + 0.15 * i) for i in range(26)])
    w /= w.sum()
    seen: set[str] = set()
    vocab: list[str] = []
    while len(vocab) < vocab_n:
        word = "".join(rng.choice(letters, size=int(rng.integers(BPE_WORD_LEN[0], BPE_WORD_LEN[1] + 1)), p=w))
        if word not in seen:
            seen.add(word)
            vocab.append(word)
    freq = 1.0 / (np.arange(vocab_n) + 1) ** 0.9
    freq /= freq.sum()
    texts = [" ".join(vocab[i] for i in rng.choice(vocab_n, size=int(rng.integers(*BPE_WORDS_PER_DOC)) + 1, p=freq))
             for _ in range(n)]
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{k}" for k in rng.integers(0, 4, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _write(table: pa.Table, path: str, parts: int = 1) -> dict:
    """Write ``table`` as one file (``parts == 1``) or a directory of
    ``parts`` contiguous slices; return its rows/bytes/files record."""
    if parts == 1:
        pq.write_table(table, path)
        return {"rows": table.num_rows, "bytes": os.path.getsize(path), "files": 1}
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    size = 0
    for i in range(parts):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), f)
        size += os.path.getsize(f)
    return {"rows": table.num_rows, "bytes": size, "files": parts}


def _split_changelog(rng: np.random.Generator, events: pa.Table, out_dir: str, k: int) -> dict:
    """``k`` event-time-contiguous part files, seeded cut points and seeded
    row order inside each, mtimes ascending in event-time order."""
    os.makedirs(out_dir)
    ordered = events.sort_by("ts")
    n = ordered.num_rows
    cuts = np.sort(rng.choice(np.arange(1, n), size=k - 1, replace=False))
    bounds = [0, *cuts.tolist(), n]
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    size = 0
    for i in range(k):
        part = _shuffled(rng, ordered.slice(bounds[i], bounds[i + 1] - bounds[i]))
        f = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(part, f)
        os.utime(f, (base + i, base + i))
        size += os.path.getsize(f)
    return {"rows": n, "bytes": size, "files": k}


def generate(seed: int, out_dir: str) -> dict:
    """Write every input under ``out_dir`` and return a manifest
    ``{input: {"rows", "bytes", "files"}}``.

    Layout: ``star/`` holds the ten tables as ``<name>.parquet`` (what the
    plans and pipelines read), ``changelog/`` the split ``events`` and
    ``bpe/documents.parquet`` the high-entropy corpus."""
    rng = np.random.default_rng(seed)
    star_dir = os.path.join(out_dir, "star")
    os.makedirs(star_dir)
    tables = _star(rng, SIZES)
    tables["events"] = _events(rng, SIZES)
    tables["documents"] = _documents(rng, SIZES)
    tables["embeddings"] = _embeddings(rng, SIZES)
    manifest = {}
    for name, table in tables.items():
        manifest[name] = _write(_shuffled(rng, table), os.path.join(star_dir, f"{name}.parquet"))
    manifest["changelog"] = _split_changelog(
        rng, tables["events"], os.path.join(out_dir, "changelog"), CHANGELOG_PARTS)
    bpe_dir = os.path.join(out_dir, "bpe")
    os.makedirs(bpe_dir)
    manifest["bpe_documents"] = _write(
        _shuffled(rng, _bpe_documents(rng, SIZES)), os.path.join(bpe_dir, "documents.parquet"), BPE_FILES)
    return manifest
