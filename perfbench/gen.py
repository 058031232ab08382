"""Input generator for the graft benchmark.

Two kinds of input, both deterministic:

* Fixed tables (`fixed_tables`): the TPC-H-ish star schema plus the
  `events`, `documents` and `embeddings` tables, at a fixed scale and a
  fixed internal seed: a complete testdata set, so graft's own Verify
  (which preflights every table) and the DuckDB oracle run on it. Their
  content never depends on `--seed`, so the expected query results are
  recorded once (expected.json) instead of recomputed from the oracle on
  every run. The workload seed only permutes the query order.
* ETL inputs (`etl_inputs`): lineitem-shaped parquet files, the work
  list and the target DDL, built from the workload seed on every run.

Schemas and value domains follow the repository's TPC-H-ish testdata:
uniform keys, cent-rounded prices, TIMESTAMP_NTZ dates.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the fixed-table content changes: expected.json is keyed by it.
FIXED_VERSION = 1
FIXED_SEED = 20261017
FIXED_SF = 0.02

MKT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUS = ["F", "O", "P"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# 11 loaded columns, the target DDL, and the casts the loader applies.
ETL_FIELDS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
              "l_quantity", "l_extendedprice", "l_discount", "l_tax",
              "l_returnflag", "l_linestatus", "l_shipdate"]
ETL_CASTS = {"l_linenumber": "bigint", "l_shipdate": "timestamp"}
ETL_DDL_COLUMNS = [
    ("l_orderkey", "bigint"), ("l_partkey", "bigint"),
    ("l_suppkey", "bigint"), ("l_linenumber", "bigint"),
    ("l_quantity", "double precision"),
    ("l_extendedprice", "double precision"),
    ("l_discount", "double precision"), ("l_tax", "double precision"),
    ("l_returnflag", "text"), ("l_linestatus", "text"),
    ("l_shipdate", "timestamp")]

# Per-workload ETL shape: files, rows per file, work-list batch size, and
# how many amplified copies of one generated lineitem slice the files hold.
ETL_SHAPES = {
    "etl_backfill": {"files": 72, "rows": 10_000, "batch": 12, "copies": 3},
}
NTZ_PROBE_ROWS = 1_000


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts_ntz(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _lineitem(rng, n, n_orders, n_parts, n_supp):
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": EPOCH_1995 + (1 + rng.integers(0, 2499, n)) * US_PER_DAY,
    }


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one marker word
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            k = int(rng.integers(10, 101))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), k)]
        texts.append(" ".join(words))
    for i in range(0, n, 600):  # a few exact duplicates
        if i + 7 < n:
            texts[i + 7] = texts[i]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    v = rng.normal(0, 1, (n, dim)) + 0.35 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels,
    })


def fixed_tables(out_dir, sf=FIXED_SF, seed=FIXED_SEED):
    """Write the query workloads' tables as `<out_dir>/<name>.parquet`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    w = lambda name, cols: _write(pa.table(cols), f"{out_dir}/{name}.parquet")
    w("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    w("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    w("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                   "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                   "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                   "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
                   "c_mktsegment": np.array(MKT)[rng.integers(0, 5, n_cust)]})
    w("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                   "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                   "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                   "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    w("part", {"p_partkey": np.arange(n_part, dtype=np.int64),
               "p_name": np.array(names)[rng.integers(0, 64, n_part)],
               "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
               "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
               "p_size": rng.integers(1, 51, n_part).astype(np.int32),
               "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0})
    w("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                 "o_custkey": rng.integers(0, n_cust, n_ord),
                 "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, n_ord)],
                 "o_totalprice": _cents(rng, 1000, 500000, n_ord),
                 "o_orderdate": _ts_ntz(EPOCH_1995 + rng.integers(0, 2405, n_ord) * US_PER_DAY),
                 "o_orderpriority": np.array(PRIO)[rng.integers(0, 5, n_ord)]})
    li = _lineitem(rng, n_li, n_ord, n_part, n_supp)
    li["l_shipdate"] = _ts_ntz(li["l_shipdate"])
    w("lineitem", li)
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    w("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                 "ts": _ts_ntz(ts),
                 "user_id": rng.integers(0, max(1, n_ev // 66), n_ev),
                 "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
                 "value": np.round(rng.exponential(50.0, n_ev), 2),
                 "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(_documents(rng, n_doc), f"{out_dir}/documents.parquet")
    _write(_embeddings(rng, n_emb), f"{out_dir}/embeddings.parquet")


def etl_inputs(workload, seed, out_dir):
    """Seeded ETL input for one run: parquet files under `out_dir/objects`,
    the work list `out_dir/todo` (which files, and in what order, from the
    seed), the NTZ probe slice and a manifest the loader reads (fields,
    casts, DDL)."""
    shape = ETL_SHAPES[workload]
    rng = np.random.default_rng([seed, 1])
    obj = os.path.join(out_dir, "objects")
    os.makedirs(obj, exist_ok=True)
    per_copy = shape["files"] * shape["rows"] // shape["copies"]
    base = _lineitem(rng, per_copy, 1_500_000, 200_000, 10_000)
    keys = []
    # amplified copies: l_orderkey shifted per copy, rows dealt to files
    # by a seeded permutation, so each file mixes copies
    cols = {k: np.concatenate([v] * shape["copies"]) for k, v in base.items()}
    shift = np.repeat(np.arange(shape["copies"]) * 10_000_000, per_copy)
    cols["l_orderkey"] = cols["l_orderkey"] + shift
    perm = rng.permutation(len(shift))
    for f in range(shape["files"]):
        idx = perm[f * shape["rows"]:(f + 1) * shape["rows"]]
        key = f"part-{f:04d}.parquet"
        t = {k: v[idx] for k, v in cols.items()}
        t["l_shipdate"] = pa.array(t["l_shipdate"].astype("datetime64[us]"),
                                   pa.timestamp("us", tz="UTC"))
        _write(pa.table(t), os.path.join(obj, key))
        keys.append(key)
    order = [keys[i] for i in rng.permutation(len(keys))]
    with open(os.path.join(out_dir, "todo"), "w") as fh:
        fh.writelines(k + "\n" for k in order)
    probe = _lineitem(rng, NTZ_PROBE_ROWS, 1_500_000, 200_000, 10_000)
    probe["l_shipdate"] = _ts_ntz(probe["l_shipdate"])
    os.makedirs(os.path.join(out_dir, "ntz"), exist_ok=True)
    _write(pa.table(probe), os.path.join(out_dir, "ntz", "probe.parquet"))
    manifest = {
        "fields": ETL_FIELDS, "casts": ETL_CASTS, "batch": shape["batch"],
        "ddl": ", ".join(f"{c} {t}" for c, t in ETL_DDL_COLUMNS),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
