"""Seeded input generator.

Writes the ten engine tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) plus the prime-sum
candidate list as parquet, from a seed alone. The distributions follow the
engine's reference corpus: a 30-word vocabulary shared by every language
label (41% en, 15% es/fr/zh, 14% de), 10 to 100 words per document, 5% of
documents planted as near-duplicates (an earlier document plus the token
`dup`) and a few exact copies, unit-norm 64-dimension embeddings with ten
labels, and TPC-H-shaped relational tables.

A corpus of `copies` > 1 is a replica: each copy is drawn from its own
random stream with the same distributions, so every copy keeps the base
corpus's language mix and stopword hit rates. Near-duplicates are planted
only inside a copy and keys never collide across copies, so the replica
is a larger corpus of the same workload rather than a pile of duplicates.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the output of any generator changes, so cached inputs rebuild.
VERSION = 2

VOCAB = ["merge", "window", "customer", "spark", "part", "group", "stream",
         "filter", "the", "sort", "scan", "vector", "join", "query", "big",
         "hash", "column", "data", "agg", "table", "line", "small", "slow",
         "key", "fast", "order", "row", "value", "a", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SOURCES = 20
DIM = 64
NEAR_DUP_RATE = 0.05
EXACT_DUP_RATE = 0.0015
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "green", "shiny"]
PART_NOUN = ["ring", "bolt", "widget", "gear", "nut", "pipe", "valve", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Rows per table at relational scale 1.0 (the reference corpus's sf1).
REL_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
            "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
# Every workload's relational tables are at this share of sf1.
REL_SCALE = 0.01
# Keys of copy k start at k * COPY_KEY_OFFSET.
COPY_KEY_OFFSET = 100_000_000

_STREAMS = {"documents": 1, "embeddings": 2, "customer": 3, "supplier": 4,
            "part": 5, "orders": 6, "lineitem": 7, "events": 8, "primes": 9}


def rng(seed, table, copy=0):
    """One independent stream per (seed, table, copy)."""
    return np.random.default_rng([seed, _STREAMS[table], copy])


def _dates(r, n, start, days):
    base = np.datetime64(start, "us")
    return base + r.integers(0, days + 1, n).astype("timedelta64[D]")


def _exact_counts(n, shares):
    """Category of each of `n` items, with counts as close to `shares` as
    whole numbers allow (largest remainders), in order."""
    raw = np.asarray(shares, float) * n
    counts = np.floor(raw).astype(int)
    counts[np.argsort(counts - raw)[:n - counts.sum()]] += 1
    return np.repeat(np.arange(len(shares)), counts)


def documents_copy(seed, copy, n):
    """Texts and languages of one copy of `n` documents.

    Lengths, languages and the number of planted duplicates are exact
    shares shuffled by the seed, so every seed does the same amount of
    work; the seed decides which document gets what."""
    r = rng(seed, "documents", copy)
    lengths = r.permutation(10 + np.arange(n) * 91 // n)
    words = r.integers(0, len(VOCAB), int(lengths.sum()))
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    kinds = np.concatenate(([0], r.permutation(_exact_counts(
        n - 1, [1 - NEAR_DUP_RATE - EXACT_DUP_RATE, NEAR_DUP_RATE, EXACT_DUP_RATE]))))
    picks = r.random(n)
    for i in range(1, n):
        j = int(picks[i] * i)
        if kinds[i] == 1:
            texts[i] = texts[j] + " dup"
        elif kinds[i] == 2:
            texts[i] = texts[j]
    langs = r.permutation(_exact_counts(n, LANG_P))
    return texts, [LANGS[x] for x in langs]


def documents_table(seed, copy, n):
    texts, langs = documents_copy(seed, copy, n)
    ids = np.arange(n, dtype=np.int64) + copy * COPY_KEY_OFFSET
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed, copy, n):
    r = rng(seed, "embeddings", copy)
    v = r.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    ids = np.arange(n, dtype=np.int64) + copy * COPY_KEY_OFFSET
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel(), pa.float32()), DIM)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def _money(r, n, lo, hi):
    return np.round(r.uniform(lo, hi, n), 2)


def relational_tables(seed):
    """The TPC-H-shaped tables and the event stream at REL_SCALE x sf1."""
    rows = {t: max(1, int(round(v * REL_SCALE))) for t, v in REL_ROWS.items()}
    nc, ns, npart, no = (rows["customer"], rows["supplier"], rows["part"],
                         rows["orders"])
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
    }
    r = rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(r.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, nc, -999.99, 9999.99)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in r.integers(0, 5, nc)])})
    r = rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(r.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, ns, -999.99, 9999.99))})
    r = rng(seed, "part")
    adj, noun = r.integers(0, 8, npart), r.integers(0, 8, npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, npart)]),
        "p_type": pa.array([PART_TYPES[i] for i in r.integers(0, 6, npart)]),
        "p_size": pa.array(r.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0)})
    r = rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array([["F", "O", "P"][i] for i in r.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(r, no, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_dates(r, no, "1995-01-01", 2403)),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in r.integers(0, 5, no)])})
    r = rng(seed, "lineitem")
    nl = rows["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, nl, 900.0, 105000.0)),
        "l_discount": pa.array(r.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][i] for i in r.integers(0, 3, nl)]),
        "l_linestatus": pa.array([["F", "O"][i] for i in r.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_dates(r, nl, "1995-01-02", 2498))})
    r = rng(seed, "events")
    ne = rows["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, ne)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(r.integers(0, max(1, ne // 67), ne).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in r.integers(0, 5, ne)]),
        "value": pa.array(np.round(r.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)])})
    return out


def prime_candidates(seed, n):
    """`n` consecutive integers from a seed-chosen offset above 1e9."""
    lo = 1_000_000_000 + int(rng(seed, "primes").integers(0, 1_000_000_000))
    return pa.table({"n": pa.array(np.arange(lo, lo + n, dtype=np.int64))})


def _write(tbl, path):
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))


def generate(out_dir, seed, docs, vectors, copies=1, primes=0):
    """Write one workload's inputs to `out_dir`; returns {table: (rows, bytes)}.

    `docs` and `vectors` are per copy. With copies > 1 the documents and
    embeddings tables are directories holding one file per copy."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in relational_tables(seed).items():
        _write(tbl, os.path.join(out_dir, f"{name}.parquet"))
    for name, make, n in (("documents", documents_table, docs),
                          ("embeddings", embeddings_table, vectors)):
        if copies == 1:
            _write(make(seed, 0, n), os.path.join(out_dir, f"{name}.parquet"))
        else:
            d = os.path.join(out_dir, f"{name}.parquet")
            os.makedirs(d, exist_ok=True)
            for k in range(copies):
                _write(make(seed, k, n), os.path.join(d, f"part-{k:05d}.parquet"))
    if primes:
        _write(prime_candidates(seed, primes), os.path.join(out_dir, "candidates.parquet"))
    return table_stats(out_dir)


def table_stats(out_dir):
    """{table: {"rows": n, "bytes": b}} for every parquet table in `out_dir`."""
    stats = {}
    for entry in sorted(os.listdir(out_dir)):
        if not entry.endswith(".parquet"):
            continue
        path = os.path.join(out_dir, entry)
        files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
                 if os.path.isdir(path) else [path])
        stats[entry[:-len(".parquet")]] = {
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(os.path.getsize(f) for f in files)}
    return stats


