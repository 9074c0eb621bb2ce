"""Deterministic inputs for the benchmark.

`write` makes the ten base tables the engine's catalog opens
(`Tables.schemas`), one parquet file each, with the schemas and value
domains listed in FIXTURES.md: a TPC-H-like star (region .. lineitem), a
timestamped `events` fact, a `documents` corpus with exact and near
duplicates, and clustered 64-d `embeddings`. They use a fixed seed, so
their oracle hashes are computed once per build.

`write_vis` makes the plot batch's MS-like visibility table from the run's
`--seed`: one row per (time, baseline, channel, correlation) with
earth-rotation u/v tracks, amplitudes falling off with uv distance plus
noise, and 5% flagged rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

VOCAB = ("a the data query row stream batch sort value hash filter big spark "
         "line small fast group customer part column order scan slow agg key "
         "window table merge vector join").split()
ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "bright"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "pipe"]
EPOCH_DAY_1995 = 9131  # 1995-01-01 as days since 1970-01-01


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_to_ms(days):
    return pa.array(days.astype("int64") * 86_400_000, pa.timestamp("ms"))


def tables(scale, seed=BASE_SEED):
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_part = int(10_000 * scale), int(150_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), max(500, int(20_000 * scale))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days_to_ms(EPOCH_DAY_1995 + rng.integers(0, 2405, n_ord)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days_to_ms(EPOCH_DAY_1995 + 1 + rng.integers(0, 2497, n_line))})
    t0_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    ts = np.sort(t0_us + rng.integers(0, 30 * 86_400_000_000, n_ev))
    ev_types = np.array(["signup", "click", "error", "view", "purchase"])
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(100.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        # 5% near duplicates (an earlier text plus one token), a few exact
        if i > 50 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 50 and rng.random() < 0.002:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 0.15, (10, 64))
    emb = (centroids[labels] + rng.normal(0.0, 0.08, (n_emb, 64))).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


VIS_TIMES, VIS_ANTS, VIS_CHANS, VIS_CORRS = 24, 16, 64, 4
VIS_STEP_S = 8.0
VIS_FILES = 8


def vis_table(seed):
    rng = np.random.default_rng(seed)
    bl = VIS_ANTS * (VIS_ANTS - 1) // 2
    t, b, ch, corr = (a.ravel() for a in np.meshgrid(
        np.arange(VIS_TIMES), np.arange(bl), np.arange(VIS_CHANS), np.arange(VIS_CORRS),
        indexing="ij"))
    ax, ay = rng.integers(-1000, 1001, (2, bl)).astype("float64")
    h = t * 0.02
    u = ax[b] * np.cos(h) - ay[b] * np.sin(h)
    v = ax[b] * np.sin(h) + ay[b] * np.cos(h)
    n = len(t)
    return pa.table({
        "time": t * VIS_STEP_S + VIS_STEP_S / 2,
        "baseline": pa.array(b, pa.int32()),
        "chan": pa.array(ch, pa.int32()),
        "corr": pa.array(corr, pa.int32()),
        "u": u, "v": v,
        "re": 3.0 / (1.0 + np.sqrt(u * u + v * v) / 500.0) + rng.normal(0.0, 0.5, n),
        "im": rng.normal(0.0, 0.5, n),
        "flag": rng.random(n) < 0.05})


def write_vis(out_dir, seed):
    """The visibility table as VIS_FILES parquet parts, so a scan of it
    runs as parallel tasks."""
    os.makedirs(out_dir, exist_ok=True)
    table = vis_table(seed)
    step = -(-table.num_rows // VIS_FILES)
    for i in range(VIS_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:05d}.parquet"))


def write(out_dir, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale=scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

