"""Seeded input generator for the benchmark.

Writes the text corpus (documents) with the column names, types and value
distributions of the project's sf0.1 fixture, at the size the caller
gives. The distributions were measured on the fixture; README.md lists
them and how closely this generator reproduces them. The table is one
parquet file with one row group, as the fixtures are.

For `incremental_load` it writes the landing batches: batch 0 is the
bootstrap load of orders (with the distributions of the fixtures'
`orders`), every later batch mixes updates of keys landed earlier with
inserts of new keys; each batch carries a customer change feed for the
batch-grain SCD2 dimension. Cursor values are distinct within a batch and
rise strictly from batch to batch, so "latest row per key" is unambiguous.

The same seed gives byte-identical inputs.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

EPOCH = dt.datetime(1970, 1, 1)
US_PER_DAY = 86_400_000_000


def _us(d):
    return int((d - EPOCH).total_seconds() * 1_000_000)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def documents(rng, n_docs):
    """Bag-of-vocabulary documents of 10-99 uniform tokens; exactly 5% are an
    earlier document (itself possibly a duplicate) plus ' dup'."""
    dups = set(rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False).tolist())
    texts = []
    for i in range(n_docs):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_documents(out_dir, seed, n_docs):
    """The text corpus into `out_dir/documents.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    _write(documents(np.random.default_rng(seed), n_docs), os.path.join(out_dir, "documents.parquet"))


def landing_batches(out_dir, seed, n_bootstrap, n_batches, batch_rows, update_share, n_cust):
    """Order batches and customer change feeds, one directory pair per batch:
    `orders/batch_<k>.parquet` and `customers/batch_<k>.parquet`.

    Batch k's cursor (`updated_at`, UTC) lies in day k after 2024-01-01, so
    every batch is strictly newer than the one before. Returns per-batch row
    counts and max cursors (microseconds since the epoch)."""
    rng = np.random.default_rng(seed + 7919)
    base = _us(dt.datetime(2024, 1, 1))
    ts_type = pa.timestamp("us", tz="UTC")
    next_key = 0
    landed_keys = np.empty(0, np.int64)
    meta = []
    os.makedirs(os.path.join(out_dir, "orders"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "customers"), exist_ok=True)
    for k in range(n_batches + 1):
        if k == 0:
            keys = np.arange(n_bootstrap, dtype=np.int64)
        else:
            n_upd = int(round(batch_rows * update_share))
            upd = rng.choice(landed_keys, n_upd, replace=False)
            ins = np.arange(next_key, next_key + batch_rows - n_upd, dtype=np.int64)
            keys = np.concatenate([upd, ins])
        next_key = max(next_key, int(keys.max()) + 1)
        landed_keys = np.union1d(landed_keys, keys)
        n = len(keys)
        # distinct cursor per row inside the batch's day
        cursor = base + k * US_PER_DAY + np.sort(rng.choice(US_PER_DAY, n, replace=False))
        cursor = rng.permutation(cursor)
        orders = pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": pa.array(_us(dt.datetime(1995, 1, 1))
                                    + rng.integers(0, 2400, n) * US_PER_DAY, ts_type),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
            "updated_at": pa.array(cursor, ts_type)})
        _write(orders, os.path.join(out_dir, "orders", f"batch_{k}.parquet"))

        # customer change feed: every customer at bootstrap, then a tenth of
        # them (some twice inside the batch) plus the batch's new customers
        if k == 0:
            ckeys = np.arange(n_cust, dtype=np.int64)
        else:
            changed = rng.choice(n_cust, n_cust // 10, replace=False)
            twice = changed[: len(changed) // 4]
            ckeys = np.concatenate([changed, twice]).astype(np.int64)
        m = len(ckeys)
        cts = base + k * US_PER_DAY + np.sort(rng.choice(US_PER_DAY, m, replace=False))
        customers = pa.table({
            "c_custkey": pa.array(ckeys, pa.int64()),
            "c_nationkey": pa.array(rng.integers(0, 25, m), pa.int32()),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, m)],
            "change_ts": pa.array(cts, ts_type)})
        _write(customers, os.path.join(out_dir, "customers", f"batch_{k}.parquet"))
        meta.append({"rows": n, "max_cursor_us": int(cursor.max())})
    return meta
