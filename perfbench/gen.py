"""Deterministic input generation for the benchmark.

* Base tables: the engine's ten source tables at a scale factor, one
  single-row-group parquet file per table, modelled on the test data of
  TESTDATA.md and FIXTURES.md (same schemas, key ranges, value sets and
  near-duplicate structure). They come from the fixed `DATA_SEED`, so every
  run of a workload reads the same tables and the stored near-dup digests
  stay valid.
* Append batches: the orders rows mv_serving appends, drawn from the run's
  `--seed` (run.make_stream orders the operations from the same seed).

Every function here is a pure function of its arguments; `digest` and
`table_digest` hash contents so a result records exactly which inputs it
ran on.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

ORDER_DATE0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2405          # 1995-01-01 .. 2001-08-01
SHIP_DATE0 = np.datetime64("1995-01-02", "us")
SHIP_DAYS = 2499           # 1995-01-02 .. 2001-11-04
EVENT_T0 = np.datetime64("2024-01-01", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6
DAY_US = 86400 * 10**6


def _rng(*key):
    return np.random.default_rng([DATA_SEED, *key])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _days(rng, start, span, n):
    return pa.array(start + rng.integers(0, span, n) * DAY_US, pa.timestamp("us"))


def table_rows(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": min(int(50_000 * sf), 2000),
    }


def build_table(name, sf):
    """One base table as an Arrow table (pure function of name and sf)."""
    rows = table_rows(sf)
    n = rows.get(name, 0)
    rng = _rng(TABLES.index(name), int(round(sf * 1000)))
    keys = pa.array(np.arange(n, dtype=np.int64))
    if name == "region":
        return pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if name == "nation":
        k = np.arange(25, dtype=np.int32)
        return pa.table({"n_nationkey": k, "n_name": [f"NATION_{i}" for i in k],
                         "n_regionkey": k % 5})
    if name == "customer":
        return pa.table({
            "c_custkey": keys, "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": _money(rng, -1000, 10000, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n)})
    if name == "supplier":
        return pa.table({
            "s_suppkey": keys, "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "s_acctbal": _money(rng, -1000, 10000, n)})
    if name == "part":
        names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
        return pa.table({
            "p_partkey": keys, "p_name": _pick(rng, names, n),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, P_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)})
    if name == "orders":
        return orders_rows(rng, np.arange(n, dtype=np.int64), rows["customer"])
    if name == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, rows["orders"], n),
            "l_partkey": rng.integers(0, rows["part"], n),
            "l_suppkey": rng.integers(0, rows["supplier"], n),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_tax": rng.integers(0, 9, n) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, SHIP_DATE0, SHIP_DAYS, n)})
    if name == "events":
        gaps = rng.exponential(EVENT_SPAN_US / n, n).astype(np.int64)
        return pa.table({
            "event_id": keys,
            "ts": pa.array(EVENT_T0 + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, rows["customer"] // 10), n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    if name == "documents":
        lens = rng.integers(10, 101, n)
        texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]) for k in lens]
        # 5% near-duplicates: a copy of another document plus one word
        for i in rng.choice(n, n // 20, replace=False):
            texts[i] = texts[int(rng.integers(0, n))] + " dup"
        return pa.table({
            "doc_id": keys, "text": texts, "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if name == "embeddings":
        v = rng.standard_normal((n, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": keys,
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32))})
    raise ValueError(name)


def orders_rows(rng, keys, n_customers):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": rng.integers(0, n_customers, n),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _days(rng, ORDER_DATE0, ORDER_DAYS, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})


def write_tables(out_dir, sf):
    """Write every base table under out_dir as <name>.parquet (one file,
    one row group, like the TESTDATA.md files). Writes to a temp dir first so
    an interrupted run never leaves a half-written table set behind."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for t in TABLES:
        tb = build_table(t, sf)
        pq.write_table(tb, f"{tmp}/{t}.parquet", row_group_size=max(1, tb.num_rows))
    os.rename(tmp, out_dir)


def append_batches(seed, n_batches, batch_rows, first_key, n_customers):
    """Append batches for the mv_serving workload, one table with a
    `batch` column. Order keys continue past the base table; customer
    keys are drawn from existing customers (o_custkey -> c_custkey is a
    declared FK); order dates span the whole range, so rows land both
    inside and outside the tiles' date slices."""
    rng = np.random.default_rng([seed, 7])
    n = n_batches * batch_rows
    tb = orders_rows(rng, first_key + np.arange(n, dtype=np.int64), n_customers)
    return tb.append_column("batch", pa.array(np.repeat(np.arange(n_batches, dtype=np.int32), batch_rows)))


def table_digest(tb):
    """sha256 of an Arrow table's IPC serialization (schema and values)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tb.schema) as w:
        w.write_table(tb)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def digest(paths):
    """sha256 over the contents of files (and of files under directories),
    in sorted path order, with each file's relative name mixed in."""
    h = hashlib.sha256()
    for root in sorted(paths):
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, os.path.dirname(root)).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()
