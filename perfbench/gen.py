"""Seeded input generators for the benchmark's workloads.

Every table is a pure function of (seed, sizes): the same seed writes the
same rows. The engine only ever sees the parquet files written here.

Schemas follow the repository's test-data star schema (TESTDATA.md), so the
engine's own queries and oracle SQL run on them unchanged:
  documents(doc_id, text, lang, source, n_chars)
  events(event_id, ts, user_id, event_type, value, props)
  orders(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority)
  customer(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark line column order small sort fast value scan hash slow group agg "
    "filter query a big key window row part table stream merge data batch "
    "vector join customer the plan cache shuffle index token model score "
    "one s review store price").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SOURCES = 20
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def doc_texts(rng, n, min_words=8, max_words=104, dup_frac=0.01,
              near_frac=0.02):
    """n synthetic texts; a few exact duplicates and one-word-edit near
    duplicates of earlier texts so dedup and similarity operators have
    work to find."""
    lens = rng.integers(min_words, max_words + 1, n)
    ids = rng.integers(0, len(WORDS), int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(WORDS[i] for i in ids[bounds[k]:bounds[k + 1]])
             for k in range(n)]
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for k in range(1, n):
        if kind[k] < dup_frac:
            texts[k] = texts[src[k]]
        elif kind[k] < dup_frac + near_frac:
            w = texts[src[k]].split(" ")
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[k] = " ".join(w)
    return texts


def documents(seed, n, first_id=0, suffix=""):
    rng = _rng(seed, 1)
    texts = doc_texts(rng, n)
    if suffix:
        texts = [" ".join(w + suffix for w in t.split(" ")) for t in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in np.arange(n) % SOURCES],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(seed, n, users=1500):
    rng = _rng(seed, 2)
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n)) + T0_US
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.random(n) * 150, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def customer(seed, n, first_key=1):
    rng = _rng(seed, 3)
    keys = np.arange(first_key, first_key + n)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.random(n) * 10999 - 999, 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def orders(seed, n, n_cust, first_key=1, cust_base=1):
    """o_custkey spans 110% of the customer keys, so about one order in
    eleven finds no customer and the left join keeps it with nulls."""
    rng = _rng(seed, 4)
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n), pa.int64()),
        "o_custkey": pa.array(
            cust_base + rng.integers(0, n_cust * 11 // 10, n), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.random(n) * 500000 + 900, 2),
        "o_orderdate": pa.array(
            T0_US + rng.integers(0, 2400 * 86400, n) * 1_000_000,
            pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def describe(path):
    """rows, bytes and file count of a table (a file or a directory)."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if f.endswith(".parquet")] if os.path.isdir(path) else [path])
    return {"rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "files": len(files)}


def single_file_tables(seed, out, n_docs, n_events=0):
    """One file with one row group per table (the layout the engine's
    `spread` decision targets); no events table when n_events is 0."""
    tables = {"documents": documents(seed, n_docs)}
    if n_events:
        tables["events"] = events(seed, n_events)
    for t, table in tables.items():
        _write(table, f"{out}/{t}.parquet")
    return {t: describe(f"{out}/{t}.parquet") for t in tables}


def replicated_tables(seed, out, n_docs, n_cust, n_orders, replicas):
    """pipeline input: `replicas` content-unique copies of one seeded base,
    one file per copy (the sf1u layout): copy k shifts every key and
    suffixes every word with letter k, so no text repeats across copies."""
    for k in range(replicas):
        suf = "" if k == 0 else chr(97 + k)
        _write(documents(seed, n_docs, first_id=k * n_docs, suffix=suf),
               f"{out}/documents.parquet/part-{k:02d}.parquet")
        _write(customer(seed, n_cust, first_key=1 + k * n_cust),
               f"{out}/customer.parquet/part-{k:02d}.parquet")
        _write(orders(seed, n_orders, n_cust, first_key=1 + k * n_orders,
                      cust_base=1 + k * n_cust),
               f"{out}/orders.parquet/part-{k:02d}.parquet")
    return {t: describe(f"{out}/{t}.parquet")
            for t in ("documents", "customer", "orders")}


def stream_files(seed, out, n_files, docs_per_file):
    """Scoring-stream input: n_files small parquet files of (doc_id, text),
    doc ids unique across files; the seed chooses rows and their order."""
    rng = _rng(seed, 5)
    texts = doc_texts(rng, n_files * docs_per_file, dup_frac=0, near_frac=0)
    order = rng.permutation(len(texts))
    os.makedirs(out, exist_ok=True)
    for f in range(n_files):
        idx = order[f * docs_per_file:(f + 1) * docs_per_file]
        pq.write_table(pa.table({
            "doc_id": pa.array(idx, pa.int64()),
            "text": [texts[i] for i in idx],
        }), f"{out}/f{f:06d}.parquet")
    return {"rows": n_files * docs_per_file,
            "bytes": sum(os.path.getsize(f"{out}/{f}")
                         for f in os.listdir(out)),
            "files": n_files}
