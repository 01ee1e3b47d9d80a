"""Seeded input generator for the benchmark.

Writes the engine's ten input tables (the TPC-H-ish star schema plus
`events`, `documents` and `embeddings`) as one parquet file each, with the
column names, types and value shapes the engine's queries read, and draws
the stratified samples of registry entries the board workloads run.

Row counts depend only on the scale factor. `--seed` changes the values,
so every seed gives the same amount of work over different data.

    python3 perfbench/gen.py tables <out_dir> --sf 0.1 --seed 7
    python3 perfbench/gen.py wide <out_dir> --copies 64 --seed 7
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Structure seed of the widened events: user ids and timestamps stay fixed
# across seeds, so bar and row counts of export_wide never change.
STRUCTURE_SEED = 42
# Seed of the entry sampler. Fixed, so every run seed times the same
# entries (over different data) and the board medians stay comparable.
SAMPLE_SEED = 0

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS, LANG_P = ["de", "en", "es", "fr", "zh"], [0.14, 0.42, 0.15, 0.145, 0.145]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = "red new hot small cold large old blue".split()
PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

JAN_2024_US = 1704067200_000000  # 2024-01-01T00:00:00 in epoch microseconds
DAY_US = 86400_000000


def _write(out_dir, name, cols, row_group_size=1 << 30):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=row_group_size)


def _strings(values, codes):
    """String column `values[codes]`, built without a Python object per row."""
    return pa.DictionaryArray.from_arrays(
        pa.array(codes, pa.int32()), pa.array(values, pa.string())).cast(pa.string())


def _days(rng, n, start, end):
    """`n` midnight timestamps drawn uniformly from [start, end] (ISO dates)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * DAY_US, pa.timestamp("us"))


def _pick(rng, choices, n, p=None):
    return _strings(choices, rng.choice(len(choices), n, p=p))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events_structure(n_events, n_users, rng):
    """Sorted timestamps over 30 days, uniform users, types and props."""
    ts = np.sort(rng.integers(JAN_2024_US, JAN_2024_US + 30 * DAY_US, n_events))
    user = rng.integers(0, n_users, n_events)
    etype = rng.integers(0, len(EVENT_TYPES), n_events)
    k = rng.integers(0, 100, n_events)
    return ts, user, etype, k


def events_columns(event_id, ts, user, etype, k, value):
    return {
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": _strings(EVENT_TYPES, etype),
        "value": pa.array(value, pa.float64()),
        "props": _strings([f'{{"k": {x}}}' for x in range(100)], k),
    }


def gen_tables(out_dir, sf, seed):
    """All ten tables at scale factor `sf` (sf 0.1 ≈ 100k events, 600k lineitems)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_ev, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    ts, user, etype, k = events_structure(n_ev, n_users, rng)
    value = np.round(rng.exponential(50.0, n_ev), 2)
    _write(out_dir, "events", events_columns(np.arange(n_ev), ts, user, etype, k, value))

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                               "r_name": pa.array(REGIONS, pa.string())})
    _write(out_dir, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                               "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                               "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64())})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), pa.float64())})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), pa.float64()),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})

    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    texts = []
    for _ in range(n_docs):
        words = rng.choice(len(VOCAB), int(rng.integers(10, 101)))
        ws = [VOCAB[w] for w in words]
        if rng.random() < 0.05:  # the rare marker token a few dedup queries key on
            ws[int(rng.integers(len(ws)))] = "dup"
        texts.append(" ".join(ws))
    for i in range(1, n_docs):  # a few exact duplicates of earlier documents
        if rng.random() < 0.002:
            texts[i] = texts[int(rng.integers(0, i))]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_vec, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})


def gen_wide_events(out_dir, copies, seed, sf=0.1):
    """`copies` copies of one sf events table, each copy's users shifted past
    the previous copy's and its prices jittered per event by the seed.
    Timestamps, users and event counts come from STRUCTURE_SEED only."""
    os.makedirs(out_dir, exist_ok=True)
    n_ev, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    ts, user, etype, k = events_structure(n_ev, n_users, np.random.default_rng(STRUCTURE_SEED))
    rng = np.random.default_rng([seed, 2])
    base = np.round(rng.exponential(50.0, n_ev), 2)
    i = np.repeat(np.arange(copies, dtype=np.int64), n_ev)
    jitter = rng.uniform(0.99, 1.01, n_ev * copies)
    cols = events_columns(
        np.arange(n_ev * copies),
        np.tile(ts, copies),
        np.tile(user, copies) + i * n_users,
        np.tile(etype, copies),
        np.tile(k, copies),
        np.round(np.tile(base, copies) * jitter, 2))
    # one row group per copy, so the scan splits across cores
    _write(out_dir, "events", cols, row_group_size=n_ev)
    return n_ev * copies


def sample_entries(registry, kinds, per_stratum, seed=SAMPLE_SEED):
    """Stratified sample: `per_stratum` entries from each stratum named in
    `kinds`, drawn without replacement by `seed`. `registry` rows are
    (name, stratum); strata with fewer entries give all they have."""
    rng = np.random.default_rng(seed)
    out = []
    for kind in kinds:
        names = sorted(n for n, s in registry if s == kind)
        take = rng.permutation(len(names))[:per_stratum]
        out += [names[j] for j in sorted(take)]
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("what", choices=["tables", "wide"])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--copies", type=int, default=64)
    a = ap.parse_args()
    if a.what == "tables":
        gen_tables(a.out_dir, a.sf, a.seed)
    else:
        gen_wide_events(a.out_dir, a.copies, a.seed, a.sf)
