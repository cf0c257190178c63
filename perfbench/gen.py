"""Seeded input generator for the benchmark's workloads.

Everything here is a pure function of (workload, seed): the same seed
gives byte-identical files, another seed gives other rows with the same
recorded properties (table sizes, perturbed-row counts, hot groups and
their store buckets, batch sizes, wide-batch period, delete and update
shares). The tables follow the schema of
graft's TPC-H-style test tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

# Workload sizes and input properties (perfbench/README.md describes them).
TPCH_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "events": 10000, "documents": 500,
             "embeddings": 500}
MIGRATE_PERTURBED = {"customer": 3, "orders": 5}
IVM = {"base_rows": 8000, "groups": 2000, "items": 50, "batches": 32,
       "narrow_rows": 400, "hot_groups": 4, "wide_rows": 3000, "period": 4,
       "read_every": 4, "topk_every": 2, "store_buckets": 16, "update_share": 0.25,
       "delete_share": 0.25}


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts(days_from, n, rng, span_days):
    base = np.datetime64(days_from, "D")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return (base + d).astype("datetime64[us]")


def _texts(rng, n):
    lens = rng.integers(10, 100, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, o = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[o:o + k]))
        o += k
    return out


def tpch(rng):
    """The ten tables, keys dense from 0."""
    n = TPCH_ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts("1995-01-01", no, rng, 2400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]),
                                 pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts("1995-01-02", nl, rng, 2500)})
    ne = n["events"]
    secs = np.sort(rng.integers(0, 30 * 86400 * 1000000, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, ne // 67), ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 490, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]})
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.normal(0, 0.12, (nv, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def _documents(rng, n):
    texts = _texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, len(texts), p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, len(texts))],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def spark_bucket(key, buckets):
    """The store bucket of a long group key: Spark's xxhash64(key) with seed
    42, pmod `buckets` (graft.streaming.BucketStore.bucketize)."""
    m = (1 << 64) - 1
    p1, p2, p3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    p4, p5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & m
    h = (42 + p5 + 8) & m
    h ^= rotl((key * p2) & m, 31) * p1 & m
    h = (rotl(h, 27) * p1 + p4) & m
    h ^= h >> 33
    h = h * p2 & m
    h ^= h >> 29
    h = h * p3 & m
    h ^= h >> 32
    return (h - (1 << 64) if h >> 63 else h) % buckets


def _permute(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


# ---- workloads ---------------------------------------------------------------

MIGRATE_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"]


def gen_migrate(rng, out):
    """Source tables, and the same rows staged as a seeded split into 1-4
    parquet files per table in seeded order, with a fixed number of
    staged rows perturbed in two tables so their row validation fails."""
    tables = tpch(rng)
    meta = {"perturbed": {}, "rows": {}}
    for name in MIGRATE_TABLES:
        src = _permute(tables[name], rng)
        _write(src, f"{out}/src/{name}/part-00000.parquet")
        stage = _permute(src, rng)
        k = MIGRATE_PERTURBED.get(name, 0)
        if k:
            col = {"customer": "c_acctbal", "orders": "o_totalprice"}[name]
            rows = rng.choice(stage.num_rows, k, replace=False)
            vals = stage.column(col).to_numpy().copy()
            vals[rows] = np.round(vals[rows] + 1.25, 2)
            stage = stage.set_column(stage.schema.get_field_index(col), col,
                                     pa.array(vals))
            meta["perturbed"][name] = k
        parts = int(rng.integers(1, 5))
        bounds = np.linspace(0, stage.num_rows, parts + 1).astype(int)
        for p in range(parts):
            _write(stage.slice(bounds[p], bounds[p + 1] - bounds[p]),
                   f"{out}/stage/{name}/part-{p:05d}.parquet")
        meta["rows"][name] = src.num_rows
    return meta


def gen_ivm(rng, out):
    """A CDC stream of lineitem-derived rows (row_id, grp, item, val, op):
    a base snapshot, then batches of inserts, deletes and updates (a delete
    plus an insert of the same row_id). Batches hit `hot_groups` groups,
    except every `period`-th batch, which is wide and spans all groups.
    Every `topk_every`-th batch also carries the net change since the
    previous one for the top-k view."""
    c = IVM
    line = tpch(rng)["lineitem"]
    n = c["base_rows"]
    live = {}  # row_id -> (grp, item, val)
    ids = np.arange(n)
    grp = rng.integers(0, c["groups"], n)
    item = rng.integers(0, c["items"], n)
    val = np.resize(line.column("l_extendedprice").to_numpy(), n)
    for r in range(n):
        live[int(r)] = (int(grp[r]), int(item[r]), float(val[r]))
    next_id = n
    by_group = {}
    for r, (g, _, _) in live.items():
        by_group.setdefault(g, []).append(r)

    def frame(rows):
        return pa.table({
            "row_id": pa.array([r[0] for r in rows], pa.int64()),
            "grp": pa.array([r[1] for r in rows], pa.int64()),
            "item": pa.array([r[2] for r in rows], pa.int64()),
            "val": pa.array([r[3] for r in rows], pa.float64()),
            "op": [r[4] for r in rows]})

    _write(frame([(r, g, i, v, "I") for r, (g, i, v) in live.items()]),
           f"{out}/cdc/base.parquet")
    topk_pending = {}  # row_id -> net change since the last top-k batch
    topk_batches = []
    touched = []  # store buckets each aggregate batch touches
    # hot groups in distinct store buckets, so every narrow batch touches
    # exactly `hot_groups` buckets whatever the seed
    hot, used = [], set()
    for g in rng.permutation(c["groups"]):
        b = spark_bucket(int(g), c["store_buckets"])
        if b not in used:
            used.add(b)
            hot.append(int(g))
        if len(hot) == c["hot_groups"]:
            break
    for b in range(1, c["batches"] + 1):
        wide = b % c["period"] == 0
        rows_n = c["wide_rows"] if wide else c["narrow_rows"]
        groups = (rng.integers(0, c["groups"], rows_n) if wide
                  else rng.choice(hot, rows_n))
        kind = rng.random(rows_n)
        rows, seen = [], set()
        for g, u in zip(groups, kind):
            g = int(g)
            cand = [r for r in by_group.get(g, [])[-8:] if r not in seen]
            if u < c["delete_share"] + c["update_share"] and cand:
                r = cand[int(rng.integers(0, len(cand)))]
                seen.add(r)
                og, oi, ov = live.pop(r)
                by_group[og].remove(r)
                rows.append((r, og, oi, ov, "D"))
                if u >= c["delete_share"]:  # update: delete + insert, same row_id
                    nv = round(ov + float(rng.integers(-500, 501)) / 100.0, 2)
                    live[r] = (og, oi, nv)
                    by_group[og].append(r)
                    rows.append((r, og, oi, nv, "I"))
            else:
                r = next_id
                next_id += 1
                seen.add(r)
                v = round(float(rng.uniform(900, 100000)), 2)
                it = int(rng.integers(0, c["items"]))
                live[r] = (g, it, v)
                by_group.setdefault(g, []).append(r)
                rows.append((r, g, it, v, "I"))
        _write(frame(rows), f"{out}/cdc/agg_{b:05d}.parquet")
        touched.append(len({spark_bucket(r[1], c["store_buckets"]) for r in rows}))
        for r in rows:
            topk_pending.setdefault(r[0], []).append(r)
        if b % c["topk_every"] == 0:
            net = []
            for rid, chg in topk_pending.items():
                first, last = chg[0], chg[-1]
                before = None if first[4] == "I" else first
                after = last if last[4] == "I" else None
                if before and after and before[1:4] == after[1:4]:
                    continue
                if before:
                    net.append(before)
                if after:
                    net.append(after)
            _write(frame(net), f"{out}/cdc/topk_{b:05d}.parquet")
            topk_batches.append(b)
            topk_pending = {}
    meta = {"period": c["period"], "read_every": c["read_every"],
            "store_buckets": c["store_buckets"],
            "batches": c["batches"],
            "topk_batches": ",".join(str(b) for b in topk_batches),
            "touched_buckets": ",".join(str(n) for n in touched)}
    with open(f"{out}/cdc/meta.json", "w") as f:
        json.dump(meta, f)
    return {"properties": dict(c), "hot_groups": hot}


# One key per layer the other workloads leave out: operators (d2, the
# curation near-dup operator), plans (n4, CentroidSet assignment),
# multimodal (m4), functions (h1, the HLL sketch) and queries (q8, TPC-H).
QUERY_KEYS = ["d2_minhash_lsh", "n4_kmeans_step", "m4_image_neardup",
              "h1_hll_distinct", "q8_market_share"]


def gen_query_mix(rng, out):
    """A row-permuted copy of the ten tables."""
    for name, t in tpch(rng).items():
        _write(_permute(t, rng), f"{out}/sf/{name}.parquet")
    os.makedirs(f"{out}/queries", exist_ok=True)
    with open(f"{out}/queries/keys.txt", "w") as f:
        f.write("\n".join(QUERY_KEYS) + "\n")
    return {"keys": QUERY_KEYS}


GENERATORS = {"migrate": gen_migrate, "ivm_cdc": gen_ivm,
              "query_mix": gen_query_mix}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` under `out`; returns the
    generator's record of what it injected (read by the checks)."""
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    meta = GENERATORS[workload](rng, out)
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(meta, f)
    return meta
