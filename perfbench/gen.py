"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, scale): the same arguments
write byte-identical files, another seed writes different ones. The
engine under test only ever sees these files.

  fixture(out, seed, sf)       TPC-H-ish star schema + events/documents/
                               embeddings, the shapes of the engine's
                               fixture tables (one Parquet file per table)
  dml_ops(out, seed, ...)      an op log (ops.jsonl) of row-level
                               operations on lineitem plus one Parquet
                               source file per merge op
  stream_batches(out, seed, ...) time-ordered event batches
                               (batch_NNNNN.parquet)
  dbt_windows(out, passes)     the ship-date windows of the dbt job
                               (dbt.json)
  query_order(out, ...)        the query order of each pass
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
ORDER_FIRST = (dt.date(1995, 1, 1) - EPOCH).days
ORDER_DAYS = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
EVENT_T0_US = (dt.date(2024, 1, 1) - EPOCH).days * 86_400_000_000
MONTH_US = 30 * 86_400 * 1_000_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
NOUN = ["anvil", "bolt", "plate", "ring", "rod", "widget", "gear", "pipe"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the data spark window merge table column vector stream value small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()


def _rng(seed, stream):
    """An independent generator per (seed, stream name)."""
    return np.random.default_rng([seed, sum(ord(c) << (i % 24) for i, c in enumerate(stream))])


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _round2(x):
    return np.round(x, 2)


def _counts(sf):
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
        "users": max(15, int(15_000 * sf)),
    }


def lineitem_table(rng, keys, n_parts, n_supp, order_days):
    """One to seven lines per order key; (l_orderkey, l_linenumber) unique.
    `order_days` (days since 1970) places each order's ship dates."""
    keys = np.asarray(keys, dtype=np.int64)
    lines = rng.integers(1, 8, len(keys))
    okey = np.repeat(keys, lines)
    starts = np.cumsum(lines) - lines
    lnum = (np.arange(len(okey)) - np.repeat(starts, lines) + 1).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    part = rng.integers(0, n_parts, n, dtype=np.int64)
    price = _round2(qty * (900.0 + (part % 1000) / 10.0) + rng.integers(0, 100, n) / 100.0)
    ship_days = np.repeat(np.asarray(order_days, dtype=np.int64), lines) + rng.integers(1, 122, n)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": part,
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts_days(ship_days),
    })


def _ts_days(days):
    return pa.array((np.asarray(days, np.int64) * 86_400_000_000).astype("datetime64[us]"),
                    pa.timestamp("us"))


def _documents(rng, n):
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        k = int(rng.integers(10, 101))
        t = " ".join(words[rng.integers(0, len(words), k)])
        if rng.random() < 0.05:
            t += " dup"
        texts.append(t)
    # a few exact and near duplicates, so dedup has work to find
    for i in rng.choice(n, max(2, n // 200), replace=False):
        j = int(rng.integers(0, n))
        texts[i] = texts[j] if rng.random() < 0.5 else texts[j].replace(" a ", " the ", 1)
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _order_days(seed, n, span_days):
    """Order dates rise with the order key (keys are handed out in time
    order), from 1995-01-01 over `span_days`."""
    return ORDER_FIRST + np.sort(_rng(seed, "orderdate").integers(0, span_days, n))


def fixture(out, seed, sf, tables=None, span_days=ORDER_DAYS):
    """Write the fixture tables at scale `sf`, orders spread over
    `span_days`; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    c = _counts(sf)
    want = set(tables or ["region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem", "events", "documents", "embeddings"])
    rows = {}

    def emit(name, make):
        if name in want:
            t = make(_rng(seed, name))
            _write(t, os.path.join(out, f"{name}.parquet"))
            rows[name] = t.num_rows

    emit("region", lambda r: pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}))
    emit("nation", lambda r: pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    emit("customer", lambda r: pa.table({
        "c_custkey": np.arange(c["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c["customer"])],
        "c_nationkey": r.integers(0, 25, c["customer"]).astype(np.int32),
        "c_acctbal": _round2(r.uniform(-999.99, 9999.99, c["customer"])),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, c["customer"])]}))
    emit("supplier", lambda r: pa.table({
        "s_suppkey": np.arange(c["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(c["supplier"])],
        "s_nationkey": r.integers(0, 25, c["supplier"]).astype(np.int32),
        "s_acctbal": _round2(r.uniform(-999.99, 9999.99, c["supplier"]))}))
    emit("part", lambda r: pa.table({
        "p_partkey": np.arange(c["part"], dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, c["part"]), r.integers(0, 8, c["part"]))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, c["part"])],
        "p_type": np.array(PTYPES)[r.integers(0, 6, c["part"])],
        "p_size": r.integers(1, 51, c["part"]).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(c["part"]) % 1000) / 10.0}))
    order_days = _order_days(seed, c["orders"], span_days)
    emit("orders", lambda r: pa.table({
        "o_orderkey": np.arange(c["orders"], dtype=np.int64),
        "o_custkey": r.integers(0, c["customer"], c["orders"], dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, c["orders"])],
        "o_totalprice": _round2(r.uniform(1000.0, 500000.0, c["orders"])),
        "o_orderdate": _ts_days(order_days),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, c["orders"])]}))
    emit("lineitem", lambda r: lineitem_table(
        r, np.arange(c["orders"]), c["part"], c["supplier"], order_days))
    emit("events", lambda r: events_table(r, c["events"], c["users"], 0,
                                          EVENT_T0_US, EVENT_T0_US + MONTH_US))
    emit("documents", lambda r: _documents(r, c["documents"]))
    emit("embeddings", lambda r: pa.table({
        "vec_id": np.arange(c["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(r.normal(0, 0.15, (c["embeddings"], 64)).astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": r.integers(0, 10, c["embeddings"]).astype(np.int32)}))
    return rows


def events_table(rng, n, users, first_id, t0_us, t1_us):
    """`n` events with ids from `first_id`, ts sorted in [t0_us, t1_us).

    `ts` is TIMESTAMP(NANOS), as in the engine's fixture."""
    ts_us = np.sort(rng.integers(t0_us, t1_us, n))
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": rng.integers(0, users, n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _round2(rng.exponential(50.0, n)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


# ------------------------------------------------------------------ dml_mix

# One pass of the op list: every kind once, in this order (the seed picks
# each op's keys and rows, never the mix, so every seed times the same work).
# Single-order ops come first, on the table the previous pass compacted and
# re-indexed, so their cost does not depend on what the merges rewrote.
DML_KINDS = ["delete_sparse_mor", "update", "sql_delete", "merge_small_mor", "merge_large",
             "compact"]


def _alike_orders(lineitem_path):
    """Keys of orders with two to six lines shipped in exactly the table's
    second and third months (both full): row-level ops that pick among these
    touch the same two partitions whatever the seed picks."""
    t = pq.read_table(lineitem_path, columns=["l_orderkey", "l_shipdate"])
    keys = t.column("l_orderkey").to_numpy()
    months = t.column("l_shipdate").to_numpy().astype("datetime64[M]").astype(np.int64)
    order = np.lexsort((months, keys))
    keys, months = keys[order], months[order]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    lines = np.diff(np.r_[starts, len(keys)])
    new_month = np.r_[True, (keys[1:] != keys[:-1]) | (months[1:] != months[:-1])]
    n_months = np.add.reduceat(new_month.astype(np.int64), starts)
    lo, hi = np.minimum.reduceat(months, starts), np.maximum.reduceat(months, starts)
    pair = (lo == months.min() + 1) & (hi == months.min() + 2)
    return keys[starts][(lines >= 2) & (lines <= 6) & pair]


def dml_ops(out, seed, sf, passes, span_days):
    """Write ops.jsonl for `passes` passes over DML_KINDS and the Parquet
    sources the write ops land, for the lineitem that fixture(out, seed, sf,
    span_days=span_days) wrote to `out`. Old keys are [0, orders); new keys
    continue from there with recent order dates. Deletes, the update and the
    old keys of small merges each take a different order from _alike_orders;
    large merges rewrite a key range from the third quarter of the span;
    their new keys land in the last month."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, "dml_ops")
    c = _counts(sf)
    n_orders = c["orders"]
    last_day = ORDER_FIRST + span_days
    order_days = _order_days(seed, n_orders, span_days)
    pool = _alike_orders(os.path.join(out, "lineitem.parquet"))
    if len(pool) < 7 * passes:  # per pass: 3 single-order ops, 4 merge keys
        raise ValueError(f"{len(pool)} alike orders cannot feed {passes} passes")
    alike = iter(r.permutation(pool))
    next_key = n_orders
    ops = []

    def src(i, table):
        name = f"src_{i:05d}.parquet"
        _write(table, os.path.join(out, name))
        return name

    def lines(keys, days):
        return lineitem_table(r, keys, c["part"], c["supplier"], days)

    def fresh(n):
        nonlocal next_key
        keys = np.arange(next_key, next_key + n)
        next_key += n
        return keys

    def recent(n):
        return last_day - 30 + r.integers(0, 30, n)

    for p in range(passes):
        for kind in DML_KINDS:
            i = len(ops)
            op = {"i": i, "pass": p, "kind": kind}
            if kind in ("delete_sparse_mor", "sql_delete", "update"):
                op["keys"] = [int(next(alike))]
            elif kind == "merge_small_mor":
                old = np.array([next(alike) for _ in range(4)])
                keys = np.concatenate([old, fresh(8)])
                days = np.concatenate([order_days[old], recent(8)])
                t = lines(keys, days)
                op["src"], op["rows"] = src(i, t), t.num_rows
            elif kind == "merge_large":
                w = max(20, n_orders // 60)
                lo = int(r.integers(n_orders // 2, 3 * n_orders // 4 - w))
                keys = np.concatenate([np.arange(lo, lo + w), fresh(w)])
                days = np.concatenate([order_days[lo:lo + w], recent(w)])
                t = lines(keys, days)
                op["src"], op["rows"] = src(i, t), t.num_rows
            ops.append(op)
    with open(os.path.join(out, "ops.jsonl"), "w") as f:
        for op in ops:
            f.write(json.dumps(op, sort_keys=True) + "\n")
    return ops


# ------------------------------------------------------------ stream_ingest

def stream_batches(out, seed, sf, n_batches, rows_per_batch):
    """`n_batches` event batches; batch k covers the k-th hour-aligned
    span of event time, so no event is ever behind the watermark."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, "stream_batches")
    users = _counts(sf)["users"]
    span = 2 * 3_600_000_000  # two hours of event time per batch
    t0 = EVENT_T0_US + int(r.integers(0, 24)) * 3_600_000_000
    for k in range(n_batches):
        t = events_table(r, rows_per_batch, users, k * rows_per_batch,
                         t0 + k * span, t0 + (k + 1) * span)
        _write(t, os.path.join(out, f"batch_{k:05d}.parquet"))


# ------------------------------------------------------------------ dbt job

DBT_SETUP_DAYS = 10    # built once at set-up
DBT_BACKFILL_DAYS = 20  # per pass, chunked into tasks of DBT_BATCH_DAYS
DBT_BATCH_DAYS = 5


def dbt_windows(out, passes):
    """dbt.json: ship-date windows of the incremental model for the
    lineitem in `out`. The set-up window comes first, then one backfill
    range per pass, disjoint and back to back from the first ship date, so
    every seed builds the same days of its own lineitem."""
    days = pq.read_table(os.path.join(out, "lineitem.parquet"), columns=["l_shipdate"]) \
        .column("l_shipdate").to_numpy().astype("datetime64[D]").astype(np.int64)
    cursor = int(days.min())
    if cursor + DBT_SETUP_DAYS + passes * DBT_BACKFILL_DAYS > days.max():
        raise ValueError(f"ship dates end too early for {passes} passes")

    def window(n):
        nonlocal cursor
        first, cursor = cursor, cursor + n
        return {"first": str(EPOCH + dt.timedelta(days=first)),
                "last": str(EPOCH + dt.timedelta(days=cursor - 1)),
                "rows": int(((days >= first) & (days < cursor)).sum())}

    spec = {"batch_days": DBT_BATCH_DAYS, "setup": window(DBT_SETUP_DAYS), "passes": []}
    for _ in range(passes):
        spec["passes"].append({"backfill": window(DBT_BACKFILL_DAYS)})
    with open(os.path.join(out, "dbt.json"), "w") as f:
        json.dump(spec, f, sort_keys=True)
    return spec


# ---------------------------------------------------------------- query_mix

def query_order(out, modules, passes):
    """queries.json: each pass runs every query once, in name order. The
    order is the same for every seed because a query's latency depends on
    what ran just before it: on a 4-vCPU VM graph_pagerank and graph_ppr
    each took about 1.2 s right after the other and 1.5-2.5 s otherwise, so
    a seeded order spread ops_per_s by 0.13-0.25 of its median across seeds."""
    os.makedirs(out, exist_ok=True)
    order = [sorted(modules)] * passes
    with open(os.path.join(out, "queries.json"), "w") as f:
        json.dump({"modules": modules, "passes": order}, f, sort_keys=True)
