"""Seeded input generator for the benchmark.

Builds every input a workload reads from the seed alone, in the shapes of
the engine's TPC-H-like test tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents): the same column names, types
and value domains, so the roster queries and their DuckDB oracles run on
them unchanged. Nothing is downloaded and nothing outside the output
directory is read.

  tables(out, seed, scale, names)  parquet tables; scale=1.0 is the sf0.1 size
  mr_corpus(out, seed, mbytes)  8 whole text files dealt from document text
  curation_docs(out, seed, ...) documents.parquet with seeded near-duplicates
  permutation(seed, names, k)   the op order of pass k

Every function returns a small record (bytes, rows, content hash) that the
benchmark copies into its result, so a run says exactly what it measured.
"""
import hashlib
import random
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en"] * 41) + (["zh"] * 15) + (["de"] * 14) + (["fr"] * 15) + (["es"] * 15)
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

# sf0.1 cardinalities; `scale` multiplies the non-dimension tables
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000}


def _rng(seed, stream):
    """One independent generator per (seed, named stream): adding a table
    never changes the values of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start.date(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")
    return file_record(path, table.num_rows)


def file_record(path, rows):
    h = hashlib.sha256()
    size = 0
    for p in sorted(Path(path).rglob("*")) if Path(path).is_dir() else [Path(path)]:
        if p.is_file():
            data = p.read_bytes()
            size += len(data)
            h.update(p.name.encode())
            h.update(data)
    return {"bytes": size, "rows": int(rows), "sha256": h.hexdigest()[:16]}


def doc_texts(rng, n):
    """n documents of 10..100 words drawn from the sf0.1 vocabulary."""
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    return [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]


def documents_table(rng, n, dup_frac=0.05, near_dup_frac=0.0):
    """The documents table: like sf0.1, `dup_frac` of the docs are an
    earlier doc's text plus " dup". With `near_dup_frac` > 0 a further
    share are near-duplicates of an earlier doc (one word replaced, one
    dropped), so MinHash-LSH dedup has real clusters to resolve."""
    texts = doc_texts(rng, n)
    kinds = rng.uniform(0, 1, n)
    for i in range(1, n):
        if kinds[i] < dup_frac:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif kinds[i] < dup_frac + near_dup_frac:
            w = texts[int(rng.integers(0, i))].split(" ")
            if len(w) > 12:
                w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
                del w[int(rng.integers(0, len(w)))]
            texts[i] = " ".join(w)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(out, seed, scale, names):
    """Write the named TPC-H-like tables (and events) under `out`."""
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    n = {k: max(1, int(round(v * scale))) for k, v in SF01_ROWS.items()}
    rec = {}
    want = set(names)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    if "region" in want:
        rec["region"] = _write(pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS, s)}), out / "region.parquet")
    if "nation" in want:
        rec["nation"] = _write(pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
            out / "nation.parquet")
    if "customer" in want:
        r, k = _rng(seed, "customer"), n["customer"]
        rec["customer"] = _write(pa.table({
            "c_custkey": pa.array(np.arange(k), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], s),
            "c_nationkey": pa.array(r.integers(0, 25, k), i32),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, k), f64),
            "c_mktsegment": pa.array([SEGMENTS[j] for j in r.integers(0, 5, k)], s)}),
            out / "customer.parquet")
    if "supplier" in want:
        r, k = _rng(seed, "supplier"), n["supplier"]
        rec["supplier"] = _write(pa.table({
            "s_suppkey": pa.array(np.arange(k), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], s),
            "s_nationkey": pa.array(r.integers(0, 25, k), i32),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, k), f64)}),
            out / "supplier.parquet")
    if "part" in want:
        r, k = _rng(seed, "part"), n["part"]
        rec["part"] = _write(pa.table({
            "p_partkey": pa.array(np.arange(k), i64),
            "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                                zip(r.integers(0, 8, k), r.integers(0, 8, k))], s),
            "p_brand": pa.array([f"Brand#{j}" for j in r.integers(1, 26, k)], s),
            "p_type": pa.array([P_TYPES[j] for j in r.integers(0, 6, k)], s),
            "p_size": pa.array(r.integers(1, 51, k), i32),
            "p_retailprice": pa.array([900.0 + (i % 1000) / 10 for i in range(k)], f64)}),
            out / "part.parquet")
    if "orders" in want:
        r, k = _rng(seed, "orders"), n["orders"]
        rec["orders"] = _write(pa.table({
            "o_orderkey": pa.array(np.arange(k), i64),
            "o_custkey": pa.array(r.integers(0, n["customer"], k), i64),
            "o_orderstatus": pa.array([("O", "P", "F")[j] for j in r.integers(0, 3, k)], s),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, k), f64),
            "o_orderdate": pa.array(_days(r, datetime(1995, 1, 1), datetime(2001, 8, 1), k),
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array([PRIORITIES[j] for j in r.integers(0, 5, k)], s)}),
            out / "orders.parquet")
    if "lineitem" in want:
        r, k = _rng(seed, "lineitem"), n["lineitem"]
        rec["lineitem"] = _write(pa.table({
            "l_orderkey": pa.array(r.integers(0, n["orders"], k), i64),
            "l_partkey": pa.array(r.integers(0, n["part"], k), i64),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k), i64),
            "l_linenumber": pa.array(r.integers(1, 8, k), i32),
            "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, k), f64),
            "l_discount": pa.array(r.integers(0, 11, k) / 100.0, f64),
            "l_tax": pa.array(r.integers(0, 9, k) / 100.0, f64),
            "l_returnflag": pa.array([("A", "N", "R")[j] for j in r.integers(0, 3, k)], s),
            "l_linestatus": pa.array([("O", "F")[j] for j in r.integers(0, 2, k)], s),
            "l_shipdate": pa.array(_days(r, datetime(1995, 1, 2), datetime(2001, 11, 4), k),
                                   pa.timestamp("us"))}),
            out / "lineitem.parquet")
    if "events" in want:
        r, k = _rng(seed, "events"), n["events"]
        start = np.datetime64(datetime(2024, 1, 1), "us")
        offs = np.sort(r.integers(0, 30 * 86400 * 10**6, k))
        rec["events"] = _write(pa.table({
            "event_id": pa.array(np.arange(k), i64),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 1500, k), i64),
            "event_type": pa.array([EVENT_TYPES[j] for j in r.integers(0, 5, k)], s),
            "value": pa.array(np.round(r.gamma(2.0, 50.0, k), 2), f64),
            "props": pa.array([f'{{"k": {j}}}' for j in r.integers(0, 100, k)], s)}),
            out / "events.parquet")
    return rec


def mr_corpus(out, seed, mbytes, files=8):
    """The mapreduce corpus: seeded document text, shuffled and dealt into
    `files` whole text files (one document per line), about `mbytes` MB in
    all — the reference's one-map-task-per-file input shape."""
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    r = _rng(seed, "mr_corpus")
    target = int(mbytes * 1e6)
    texts, size = [], 0
    while size < target:
        for t in doc_texts(r, 2000):
            texts.append(t)
            size += len(t) + 1
    order = r.permutation(len(texts))
    for f in range(files):
        lines = [texts[j] for j in order[f::files]]
        (out / f"pg-{f}.txt").write_text("\n".join(lines) + "\n")
    return file_record(out, len(texts))


def curation_docs(out, seed, scale, near_dup_frac=0.08):
    """documents.parquet for the curation pipeline: the sf0.1 document
    shape plus seeded near-duplicate copies."""
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    r = _rng(seed, "curation")
    n = max(1, int(round(SF01_ROWS["documents"] * scale)))
    return _write(documents_table(r, n, near_dup_frac=near_dup_frac),
                  out / "documents.parquet")


def permutation(seed, names, k):
    """Op order of pass k: a seeded shuffle, fresh for every pass."""
    order = list(names)
    random.Random(f"{seed}:{k}").shuffle(order)
    return order
