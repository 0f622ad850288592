"""Seeded input generator for the benchmark.

Writes the star-schema tables the engine's pipelines read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings), one single-row-group parquet file per table, with the same
column names and types as the sf0.1 fixtures.  `scale` multiplies the
sf0.1 row counts.  The same seed always gives the same bytes-for-bytes
rows; row order is a seed-dependent permutation.

For the reconcile half of `etl_daily` it also writes
`lineitem_target.parquet`: a copy of lineitem with planted differences,
and returns the counts it planted so the benchmark can check the reconcile
output independently.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
TAXES = np.round(np.arange(9) / 100.0, 2)
FLAGS = np.array(["A", "N", "R"])

# sf0.1 row counts of the fixture tables
BASE = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000}


def _write(out, name, columns, rng):
    n = len(next(iter(columns.values())))
    perm = rng.permutation(n)
    table = pa.table({k: (v.take(pa.array(perm)) if isinstance(v, pa.Array)
                          else v[perm]) for k, v in columns.items()})
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy")
    return n


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _strings(fmt, keys):
    return pa.array([fmt % k for k in keys.tolist()], type=pa.string())


def generate(out, seed, scale):
    """Write every table under `out`; return the row counts written."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(round(v * scale))) for k, v in BASE.items()}
    counts = {}

    counts["region"] = _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])},
        rng)
    counts["nation"] = _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": _strings("NATION_%d", np.arange(25)),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}, rng)

    k = np.arange(n["customer"], dtype=np.int64)
    counts["customer"] = _write(out, "customer", {
        "c_custkey": k,
        "c_name": _strings("Customer#%09d", k),
        "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "c_acctbal": _money(rng, len(k), -999.99, 9999.99),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, len(k))])},
        rng)

    k = np.arange(n["supplier"], dtype=np.int64)
    counts["supplier"] = _write(out, "supplier", {
        "s_suppkey": k,
        "s_name": _strings("Supplier#%09d", k),
        "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "s_acctbal": _money(rng, len(k), -999.99, 9999.99)}, rng)

    k = np.arange(n["part"], dtype=np.int64)
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    counts["part"] = _write(out, "part", {
        "p_partkey": k,
        "p_name": pa.array(names[rng.integers(0, len(names), len(k))]),
        "p_brand": _strings("Brand#%d", rng.integers(1, 26, len(k))),
        "p_type": pa.array(np.array(TYPES)[rng.integers(0, 6, len(k))]),
        "p_size": rng.integers(1, 51, len(k)).astype(np.int32),
        "p_retailprice": np.round(900 + (k % 1000) / 10.0, 1)}, rng)

    k = np.arange(n["orders"], dtype=np.int64)
    counts["orders"] = _write(out, "orders", {
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n["customer"], len(k)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, len(k))]),
        "o_totalprice": _money(rng, len(k), 1000, 500000),
        "o_orderdate": _days(rng, len(k), "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, len(k))])},
        rng)

    li = _lineitem(rng, n["lineitem"], n["orders"], n["part"], n["supplier"])
    counts["lineitem"] = _write(out, "lineitem", li, rng)

    m = n["events"]
    gaps = rng.exponential(30 * 86400 / m, m)
    ts = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + \
        (np.cumsum(gaps) * 1e6).astype(np.int64)
    counts["events"] = _write(out, "events", {
        "event_id": np.arange(m, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, m),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, m)]),
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": _strings('{"k": %d}', rng.integers(0, 100, m))}, rng)

    counts["documents"] = _write(out, "documents", _documents(rng, n["documents"]), rng)

    m = n["embeddings"]
    v = rng.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    counts["embeddings"] = _write(out, "embeddings", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32)}, rng)
    return counts


def _lineitem(rng, m, n_orders, n_parts, n_supp):
    key = {
        "l_orderkey": rng.integers(0, n_orders, m),
        "l_partkey": rng.integers(0, n_parts, m),
        "l_suppkey": rng.integers(0, n_supp, m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32)}
    # the reconcile key (orderkey, linenumber, partkey, suppkey) must be
    # unique; (orderkey, linenumber) alone deliberately is not
    stacked = np.stack([key["l_orderkey"], key["l_linenumber"],
                        key["l_partkey"], key["l_suppkey"]], axis=1)
    _, first = np.unique(stacked, axis=0, return_index=True)
    keep = np.sort(first)
    m = len(keep)
    cols = {c: v[keep] for c, v in key.items()}
    cols.update({
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900, 105000),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": TAXES[rng.integers(0, 9, m)],
        "l_returnflag": pa.array(FLAGS[rng.integers(0, 3, m)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, m)]),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04")})
    return cols


def _documents(rng, m):
    lengths = rng.integers(10, 101, m)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), L)])
             for L in lengths.tolist()]
    # 5% near-duplicates (another document plus a trailing marker token)
    # and a handful of exact duplicates, as in the sf0.1 fixture
    ids = rng.permutation(m)
    n_near = m // 20
    n_exact = max(1, m // 600)
    for i, dst in enumerate(ids[:n_near].tolist()):
        texts[dst] = texts[int(ids[n_near + i])] + " dup"
    base = ids[2 * n_near:2 * n_near + n_exact].tolist()
    for i, dst in enumerate(ids[2 * n_near + n_exact:2 * n_near + 2 * n_exact].tolist()):
        texts[dst] = texts[base[i]]
    doc_id = np.arange(m, dtype=np.int64)
    langs = np.array(LANGS)[np.where(rng.random(m) < 0.41, 0,
                                     rng.integers(1, 5, m))]
    return {
        "doc_id": doc_id,
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs),
        "source": _strings("src%d", doc_id % 20),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def reconcile_target(out, seed):
    """Write lineitem_target.parquet from lineitem.parquet with planted
    differences; return the counts the reconcile summary must report."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    src = pq.read_table(os.path.join(out, "lineitem.parquet"))
    m = src.num_rows
    perm = rng.permutation(m)
    n_drop, n_tax, n_flag = m * 5 // 100, m * 5 // 100, m * 5 // 100
    n_add = m * 3 // 100
    drop = perm[:n_drop]
    tax = perm[n_drop:n_drop + n_tax]
    # half of the flag changes land on rows whose tax also changed, so some
    # mismatching rows differ in two columns
    flag = perm[n_drop + n_tax // 2:n_drop + n_tax // 2 + n_flag]
    cols = {c: src.column(c).to_numpy(zero_copy_only=False) for c in src.column_names}
    tax_idx = np.rint(cols["l_tax"] * 100).astype(np.int64)
    cols["l_tax"] = cols["l_tax"].copy()
    cols["l_tax"][tax] = TAXES[(tax_idx[tax] + rng.integers(1, 9, n_tax)) % 9]
    flag_idx = np.searchsorted(FLAGS, cols["l_returnflag"])
    cols["l_returnflag"] = cols["l_returnflag"].astype(object)
    cols["l_returnflag"][flag] = FLAGS[(flag_idx[flag] + rng.integers(1, 3, n_flag)) % 3]
    keep = np.ones(m, dtype=bool)
    keep[drop] = False
    kept = {c: v[keep] for c, v in cols.items()}
    # target-only rows: copies of random source rows under order keys
    # past every source key
    extra = rng.integers(0, m, n_add)
    base_key = int(cols["l_orderkey"].max()) + 1
    added = {c: v[extra] for c, v in cols.items()}
    added["l_orderkey"] = base_key + np.arange(n_add, dtype=np.int64)
    merged = {c: np.concatenate([kept[c], added[c]]) for c in cols}
    order = rng.permutation(len(merged["l_orderkey"]))
    fields = {f.name: f.type for f in src.schema}
    table = pa.table({c: pa.array(merged[c][order], type=fields[c]) for c in cols})
    pq.write_table(table, os.path.join(out, "lineitem_target.parquet"),
                   compression="snappy")
    common = m - n_drop
    changed_tax = np.isin(tax, drop, invert=True).sum()
    changed_flag = np.isin(flag, drop, invert=True).sum()
    mismatch = len(np.setdiff1d(np.union1d(tax, flag), drop))
    return {"source_rows": m, "target_rows": common + n_add,
            "common_rows": common, "mismatch_rows": int(mismatch),
            "source_only": n_drop, "target_only": n_add,
            "col_mismatch": {"l_tax": int(changed_tax),
                             "l_returnflag": int(changed_flag)}}

