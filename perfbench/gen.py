"""Seeded input generator for the benchmark.

Everything the benchmarked program reads is made here from one integer
seed: the catalog tables (TPC-H-ish star schema plus `events`,
`documents` and `embeddings`, with the column names, types and value
ranges of the repo's test data), the `FactCustomerTask` CSV inputs with
planted data-quality defects, and the per-pass operation order. The same
seed gives byte-identical files and the same order; the expected
data-quality counts are computed here, independently of the program.
"""
import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Catalog rows per workload, each a fixed subset of the rows named for it
# (README.md says why): `relational` holds relational and TPC-H rows;
# `iterative` rows whose time goes to driver-side build loops (a model
# iteration; an index lifecycle fed by streaming micro-batches).
RELATIONAL = [
    "q1_agg", "q4_join_inner_agg", "q6_join_full", "q16_window_analytics",
    "q18_setops", "q23_json_extract", "q60_tpch3", "q61_tpch5",
]
ITERATIVE = ["q111_pca_project", "q353_tf_stream_upsert"]

US_PER_DAY = 86_400_000_000
EPOCH = dt.date(1970, 1, 1)


def _days(d):
    return (d - EPOCH).days


def _ts(days):
    """Day numbers → timestamp[us] without time zone (the test data's
    parquet layout)."""
    return pa.array(np.asarray(days, dtype=np.int64) * US_PER_DAY,
                    type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def catalog(out, seed, sf):
    """Write the ten catalog tables at scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})

    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red",
                    "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring",
                     "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)],
                                          " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})

    d0, d1 = _days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1))
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})

    s0, s1 = _days(dt.date(1995, 1, 2)), _days(dt.date(2001, 11, 4))
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, n_li))})

    # events: one sorted 30-day stream, one id per event
    t0 = _days(dt.date(2024, 1, 1)) * US_PER_DAY
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + t0
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: bag-of-words over a 30-word vocabulary; ~5% are
    # near-duplicates (an earlier document plus one word)
    vocab = np.array(
        "a agg batch big column customer data fast filter group hash join "
        "key line merge order part query row scan slow small sort spark "
        "stream table the value vector window".split())
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, 30,
                                                     rng.integers(8, 90))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, 7, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit vectors around ten label centroids
    labels = rng.integers(0, 10, n_emb)
    cent = rng.normal(0, 0.14 / 8, (10, 64))
    vec = cent[labels] + rng.normal(0, 0.125, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


VALID_GROUPS = ["A+", "A-", "B+", "B-", "O+", "O-", "AB+", "AB-"]


def etl(out, seed, customers, n_dates):
    """Write the `FactCustomerTask` inputs into `out` and return the
    expected outputs: the report dates, the fact rows per date and the
    planted DQ issue counts per "column_name/category", the same for
    every date."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    dates = [dt.date(2019, 3, 31) + dt.timedelta(days=91 * i)
             for i in range(n_dates)]
    names = np.array([f"Customer {i:07d}" for i in range(customers)])

    # birthdays: 80% valid past dates; planted missing, unparseable and
    # future values
    kind = rng.choice(4, customers, p=[0.8, 0.07, 0.06, 0.07])
    born = rng.integers(_days(dt.date(1930, 1, 1)),
                        _days(dt.date(2010, 1, 1)), customers)
    future = rng.integers(_days(dt.date(2030, 1, 1)),
                          _days(dt.date(2090, 1, 1)), customers)
    bad = np.array(["1980-13-01", "31/12/1975", "n/a", "1999-02-30x"])
    birthday = np.where(
        kind == 0, [str(EPOCH + dt.timedelta(days=int(d))) for d in born],
        np.where(kind == 1, "",
                 np.where(kind == 2, bad[rng.integers(0, 4, customers)],
                          [str(EPOCH + dt.timedelta(days=int(d)))
                           for d in future])))
    rows = []
    for d in dates:
        rows.append(pd.DataFrame({"report_date": str(d), "name": names,
                                  "birthday": birthday}))
    pd.concat(rows).to_csv(f"{out}/customers.csv", index=False)

    # blood groups: one validity window per customer (valid, null or
    # invalid group), some customers without a row, and duplicated keys
    # whose first line wins
    gkind = rng.choice(4, customers, p=[0.82, 0.05, 0.05, 0.08])
    groups = np.array(VALID_GROUPS)[rng.integers(0, 8, customers)]
    invalid = np.array(["X+", "Liquid Metal", "C-", "AB"])
    blood_rows, first_group = [], {}
    start, end = dt.date(2018, 6, 30), dates[-1] + dt.timedelta(days=365)
    for i in range(customers):
        if gkind[i] == 3:
            continue  # no blood-group row for this customer
        g = {0: groups[i], 1: "", 2: invalid[i % 4]}[gkind[i]]
        blood_rows.append((str(start), str(end), names[i], g))
        first_group[i] = g
        if rng.random() < 0.03:  # duplicate key: a later line that loses
            blood_rows.append((str(start), str(end), names[i],
                               VALID_GROUPS[i % 8]))
        if rng.random() < 0.02:  # a window ending before every date
            blood_rows.append(("2000-01-01", "2001-01-01", names[i], "O+"))
    pd.DataFrame(blood_rows, columns=["start_date", "end_date", "name",
                                      "blood_group"]) \
        .to_csv(f"{out}/customer_blood_groups.csv", index=False)
    pd.DataFrame({"blood_group": VALID_GROUPS}) \
        .to_csv(f"{out}/valid_blood_groups.csv", index=False)

    # expected DQ issues per date (the task's six rules)
    bd_missing = int((kind == 1).sum())
    bd_bad = int((kind == 2).sum()) + int((kind == 3).sum())
    bg_missing = int(sum(1 for i in range(customers)
                         if first_group.get(i, "") == ""))
    bg_bad = int(sum(1 for g in first_group.values()
                     if g != "" and g not in VALID_GROUPS))
    dq = {"birthdate/missing": bd_missing, "birthdate/incorrect": bd_bad,
          "age/missing": bd_missing + bd_bad,
          "blood_group/missing": bg_missing,
          "blood_group/incorrect": bg_bad}
    return {"dates": [str(d) for d in dates], "customers": customers,
            "dq_per_date": dq}


def plan(seed, ops, passes):
    """Per-pass operation order: a seeded shuffle of `ops` for each
    pass."""
    rng = np.random.default_rng([seed, 3])
    return [[ops[i] for i in rng.permutation(len(ops))]
            for _ in range(passes)]
