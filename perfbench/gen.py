"""Seeded generators for the benchmark's parquet inputs.

`write_tables(out_dir, seed, scale)` writes the ten tables the engine's
gates read (`region` .. `embeddings`), with the column names and physical
types of the engine's fixture contract (FIXTURES.md, section B). Row counts
follow the fixture's per-scale sizes; values are drawn from one numpy
generator seeded by `seed`, so one seed always gives byte-identical files
and two seeds give different data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column order small customer query join "
         "big group filter vector stream index").split()
LANGS = ["en", "fr", "es", "zh", "de"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "hot", "small", "old", "cold", "red", "new"]
NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def sizes(scale):
    """Row counts per table at `scale` (the fixture's sf ladder)."""
    n = lambda base: max(1, int(round(base * scale)))
    return {"customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
            "orders": n(1_500_000), "lineitem": n(6_000_000),
            "events": n(1_000_000), "documents": max(500, n(50_000)),
            "embeddings": max(500, n(20_000))}


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    """Word-soup documents over a fixed vocabulary: ~1% exact repeats and
    ~8% near-duplicates (an earlier document with a few words replaced), so
    the exact and fuzzy dedup families both find work."""
    docs = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            docs.append(docs[int(rng.integers(0, i))])
        elif i > 10 and r < 0.09:
            words = docs[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            docs.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            docs.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)))
    return docs


def tables(seed, scale):
    """The ten tables as pyarrow Tables, generated from `seed`."""
    rng = np.random.default_rng(seed)
    sz = sizes(scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = sz["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = sz["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = sz["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 7, npart), rng.integers(0, 7, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})
    no = sz["orders"]
    odate = EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, no)]})
    nl = sz["lineitem"]
    lorder = np.sort(rng.integers(0, no, nl))
    linenum = np.ones(nl, dtype=np.int32)
    for i in range(1, nl):  # 1-based position within each order
        if lorder[i] == lorder[i - 1]:
            linenum[i] = linenum[i - 1] + 1
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[f] for f in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odate[lorder] + rng.integers(1, 122, nl) * DAY_US)})
    ne = sz["events"]
    users = max(150, int(15_000 * scale))
    ets = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = sz["documents"]
    text = _texts(rng, nd)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": text,
        "lang": [LANGS[l] for l in rng.choice(5, nd, p=[.44, .14, .14, .14, .14])],
        "source": [f"src{s}" for s in np.arange(nd) % 20],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    nv = sz["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (nv, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_tables(out_dir, seed, scale, only=None):
    """Write every table (or those named in `only`) as
    `<out_dir>/<name>.parquet`, one row group like the fixture; returns the
    total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, t in tables(seed, scale).items():
        if only is not None and name not in only:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows))
        total += os.path.getsize(path)
    return total
