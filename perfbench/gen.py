"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table (`<dir>/<name>.parquet`) in the
layout of the engine's fixture data: a uniform TPC-H-ish star schema,
the `events` stream surrogate (Poisson arrivals over ~30 days,
exponential `value`, `{"k": n}` props), `documents` drawn from a 30-word
vocabulary with ~5% `" dup"`-suffixed near-copies of earlier documents,
and unit-norm 64-dim float32 `embeddings`. Column names and arrow types
equal those of the fixture files as shipped (every timestamp µs,
timezone-naive); row counts per scale factor are the fixture's.
perfbench/README.md records how the sf0.01 tables compare with the
fixture's: summary statistics and the registry queries' times.

The same (seed, sizes) always produces byte-identical tables.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table at the fixture data's scale factors.
SIZES = {
    "sf0.001": dict(supplier=10, customer=150, part=200, orders=1500,
                    lineitem=6000, events=1000, documents=500,
                    embeddings=500),
    "sf0.01": dict(supplier=100, customer=1500, part=2000, orders=15000,
                   lineitem=60000, events=10000, documents=500,
                   embeddings=500),
    "sf0.1": dict(supplier=1000, customer=15000, part=20000, orders=150000,
                  lineitem=600000, events=100000, documents=5000,
                  embeddings=2000),
}

TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PADJ = ["small", "red", "blue", "hot", "old", "large", "new"]
PNOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

DAY_US = 86_400_000_000


def _days(rng, n, start, end):
    """Whole-day timestamps (µs) uniform in [start, end)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi, n) * DAY_US).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")


def events(rng, n):
    """The stream surrogate: Poisson arrivals (exponential gaps, at
    least 1 µs, so strictly increasing) over ~30 days from 2024-01-01,
    user ids ~ n/67, exponential values."""
    users = max(1, n * 3 // 200)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = np.maximum(1, rng.exponential(30 * DAY_US / max(n, 1), n)).astype(np.int64)
    ts = start + np.cumsum(gaps)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": np.array(texts),
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def generate(out_dir, seed, sizes, tables=None):
    """Write the requested tables (default: all ten) under out_dir."""
    want = set(tables) if tables else None
    # One independent stream per table: adding or skipping a table never
    # shifts another table's values.
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)}

    def emit(name, build):
        if want is None or name in want:
            _write(out_dir, name, build(rngs[name]))

    s = sizes
    emit("region", lambda r: {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    emit("nation", lambda r: {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    emit("supplier", lambda r: {
        "s_suppkey": np.arange(s["supplier"], dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(s["supplier"])]),
        "s_nationkey": r.integers(0, 25, s["supplier"]).astype(np.int32),
        "s_acctbal": _money(r, s["supplier"], -999.99, 9999.99)})
    emit("customer", lambda r: {
        "c_custkey": np.arange(s["customer"], dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(s["customer"])]),
        "c_nationkey": r.integers(0, 25, s["customer"]).astype(np.int32),
        "c_acctbal": _money(r, s["customer"], -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, s["customer"])]})
    emit("part", lambda r: {
        "p_partkey": np.arange(s["part"], dtype=np.int64),
        "p_name": np.char.add(np.char.add(np.array(PADJ)[r.integers(0, 7, s["part"])], " "),
                              np.array(PNOUN)[r.integers(0, 7, s["part"])]),
        "p_brand": np.array([f"Brand#{b}" for b in r.integers(1, 26, s["part"])]),
        "p_type": np.array(PTYPES)[r.integers(0, 6, s["part"])],
        "p_size": r.integers(1, 51, s["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(s["part"]) % 1000) * 0.1, 2)})
    emit("orders", lambda r: {
        "o_orderkey": np.arange(s["orders"], dtype=np.int64),
        "o_custkey": r.integers(0, s["customer"], s["orders"]).astype(np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[r.integers(0, 3, s["orders"])],
        "o_totalprice": _money(r, s["orders"], 1000.0, 500000.0),
        "o_orderdate": _days(r, s["orders"], "1995-01-01", "2001-08-02"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, s["orders"])]})
    n = s["lineitem"]
    emit("lineitem", lambda r: {
        "l_orderkey": r.integers(0, s["orders"], n).astype(np.int64),
        "l_partkey": r.integers(0, s["part"], n).astype(np.int64),
        "l_suppkey": r.integers(0, s["supplier"], n).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, n, 900.0, 105000.0),
        "l_discount": np.round(r.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": _days(r, n, "1995-01-02", "2001-11-05")})
    emit("events", lambda r: events(r, s["events"]))
    emit("documents", lambda r: documents(r, s["documents"]))
    emit("embeddings", lambda r: embeddings(r, s["embeddings"]))
