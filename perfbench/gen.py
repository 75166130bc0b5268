"""Seeded generator of the benchmark's input tables.

Writes the ten tables `graft.Tables` reads (TPC-H-shaped star schema plus
`events`, `documents` and `embeddings`) as parquet, with the same
schemas and value distributions as the project's test data, scaled by
`sf`. The same seed always gives the same files.

Besides the tables it writes the workload inputs the benchmark program
receives, all drawn from the same seed:

- `mix.txt`: the uniform user mix the closed-loop callers draw from, and
  `check_users.txt`: the users the correctness checks compare (`reco`);
- `batch/`: the lineitems of a few held-out users, which `reco` folds
  into its serving payloads, with `base/` holding every table minus
  those lineitems.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
PART_ADJ = "small red blue hot old large new cold".split()
PART_NOUN = "ring widget bolt gear gizmo plate anvil rod".split()
TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
N_DOCS = 500
N_VECS = 500
DIM = 64
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _write(dir_, name, cols):
    os.makedirs(dir_, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def tables(rng, sf):
    n_cust = max(20, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    t = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2498)}
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(2, n_cust // 10), n_ev, dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]}
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))
             for n in rng.integers(10, 100, N_DOCS)]
    # about one document in twenty is a near-duplicate of an earlier one
    for dst in rng.choice(np.arange(1, N_DOCS), N_DOCS // 20, replace=False):
        texts[dst] = texts[rng.integers(0, dst)] + " dup"
    t["documents"] = {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, N_VECS)
    centres = rng.normal(0.0, 0.15, (10, DIM))
    vecs = centres[labels] + rng.normal(0.0, 1.0, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))}
    return t


def active_users(t):
    """Users with at least one non-zero rating (RatingsGraph.ratings)."""
    li, od = t["lineitem"], t["orders"]
    rated = (li["l_quantity"].astype(np.int64) % 11) != 0
    return np.unique(od["o_custkey"][li["l_orderkey"][rated]])


def _take(cols, mask):
    return {k: (v.filter(pa.array(mask)) if isinstance(v, pa.Array)
                else np.asarray(v)[mask] if isinstance(v, np.ndarray)
                else [x for x, m in zip(v, mask) if m])
            for k, v in cols.items()}


def generate(out, seed, sf, mix_len, check_users, held_out):
    """Write the tables and workload inputs under `out`; returns a summary.

    `held_out`: the number of users whose lineitems make up the rating
    batch in `batch/`; `base/` then holds every table minus those
    lineitems, and the user mix and check users come from the users
    still active there. With 0, neither directory is written."""
    rng = np.random.default_rng(seed)
    t = tables(rng, sf)
    for name, cols in t.items():
        _write(out, name, cols)
    users = active_users(t)
    held = rng.choice(users, held_out, replace=False)
    users = np.setdiff1d(users, held)  # the mix reads the base
    mix = rng.choice(users, mix_len).tolist()
    checks = rng.choice(users, min(check_users, len(users)), replace=False)
    summary = {"active_users": int(len(users)),
               "lineitems": len(t["lineitem"]["l_orderkey"])}
    for name, ids in (("mix.txt", mix), ("check_users.txt", sorted(checks))):
        with open(os.path.join(out, name), "w") as f:
            f.write("".join(f"{int(u)}\n" for u in ids))
    if held_out:
        li = t["lineitem"]
        user_of_line = t["orders"]["o_custkey"][li["l_orderkey"]]
        batch = np.isin(user_of_line, held)
        _write(os.path.join(out, "batch"), "lineitem", _take(li, batch))
        _write(os.path.join(out, "base"), "lineitem", _take(li, ~batch))
        for d, names in (("batch", ["orders"]), ("base", TABLES)):
            for name in names:
                if name != "lineitem":
                    os.symlink(os.path.join("..", f"{name}.parquet"),
                               os.path.join(out, d, f"{name}.parquet"))
        summary["batch_lineitems"] = int(batch.sum())
    return summary
