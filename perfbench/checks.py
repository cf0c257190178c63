"""Correctness checks of a run's outputs, made after the run, outside every
timed window. Each check returns (attempted, failed, problems): problems is
a list of readable strings, empty when the outputs are correct."""
import glob
from decimal import Decimal

import duckdb
import pandas as pd
import pyarrow.parquet as pq

MIGRATE_PHASES = 27  # translation, schema, load, 8 tables x 3 validations


def check_migrate(facts, inputs):
    """Every phase ends Success, except the row validations of the tables
    whose staged rows were perturbed: those fail with exactly the number of
    perturbed rows. Each phase has its report row; the load moved every
    source row."""
    expected_fail = {f"dvt_row:{t}": n for t, n in inputs["perturbed"].items()}
    rows = sum(inputs["rows"].values())
    attempted = failed = 0
    problems = []
    for p in facts["passes"]:
        tag = f"pass {p['pass']}"
        phases = p["phases"]
        if len(phases) != MIGRATE_PHASES:
            problems.append(f"{tag}: {len(phases)} phases, expected {MIGRATE_PHASES}")
        for ph in phases:
            attempted += 1
            name = ph["phase"]  # e.g. dvt_row:mig_tgt_0.orders
            want = expected_fail.get(f"dvt_row:{name.split('.')[-1]}", 0) \
                if name.startswith("dvt_row:") else 0
            ok = (ph["status"] == "Success" and want == 0) or \
                 (want > 0 and ph["status"] != "Success" and ph["failed"] == str(want))
            if not ok:
                failed += 1
                problems.append(f"{tag}: phase {name} status {ph['status']} "
                                f"failed={ph['failed']}, expected {want} failures")
        report = set(p["report"])
        for ph in phases:
            uid = "mig-ddl" if ph["phase"] in ("translation", "schema") else "mig-data"
            kind = "ddl" if uid == "mig-ddl" else "data"
            if f"{uid}/{kind}/{ph['phase']}" not in report:
                problems.append(f"{tag}: no report row for {ph['phase']}")
        if p["load_rows"] != rows:
            problems.append(f"{tag}: loaded {p['load_rows']} rows, staged {rows}")
    return attempted, failed, problems


def _live(paths):
    """Replay CDC files in order: a row_id's last op decides whether it
    survives (updates are a delete and an insert of the same row_id)."""
    frames = [pq.read_table(p).to_pandas() for p in paths]
    allrows = pd.concat(frames, ignore_index=True)
    last = allrows.drop_duplicates("row_id", keep="last")
    return last[last["op"] == "I"]


def recompute_agg(live):
    """Per group (count, exact decimal sum) over the surviving rows."""
    q = Decimal("0.0001")
    out = {}
    for g, v in zip(live["grp"], live["val"]):
        n, s = out.get(int(g), (0, Decimal(0)))
        out[int(g)] = (n + 1, s + Decimal(repr(float(v))).quantize(q))
    return out


def recompute_topk(live, k):
    """Per group the top-k items by count, ties by item ascending, 1-based."""
    cnt = live.groupby(["grp", "item"]).size().reset_index(name="cnt")
    cnt = cnt.sort_values(["grp", "cnt", "item"], ascending=[True, False, True])
    cnt["rnk"] = cnt.groupby("grp").cumcount() + 1
    top = cnt[cnt["rnk"] <= k]
    return {(int(g), int(i)): (int(c), int(r)) for g, i, c, r in
            zip(top["grp"], top["item"], top["cnt"], top["rnk"])}


def check_ivm(work, facts, inputs_dir, k=3):
    """Both maintained views equal a full recompute over the rows that
    survive the batches each view folded."""
    n = facts["batches_folded"]
    cdc = f"{inputs_dir}/cdc"
    meta = pd.read_json(f"{cdc}/meta.json", typ="series")
    topk_batches = [int(b) for b in str(meta["topk_batches"]).split(",") if int(b) <= n]
    agg_files = [f"{cdc}/base.parquet"] + [f"{cdc}/agg_{b:05d}.parquet" for b in range(1, n + 1)]
    problems = []
    got = pd.read_parquet(f"{work}/check/agg")
    got_agg = {int(g): (int(c), Decimal(str(s))) for g, c, s in zip(got["grp"], got["n"], got["s"])}
    want = recompute_agg(_live(agg_files))
    problems += _diff("aggregate view", got_agg, want)
    last = topk_batches[-1] if topk_batches else 0
    live = _live(agg_files[:last + 1])
    got = pd.read_parquet(f"{work}/check/topk")
    got_topk = {(int(g), int(i)): (int(c), int(r)) for g, i, c, r in
                zip(got["grp"], got["item"], got["cnt"], got["rnk"])}
    problems += _diff("top-k view", got_topk, recompute_topk(live, k))
    return n, len(problems), problems


def _diff(what, got, want):
    if got == want:
        return []
    missing = sorted(set(want) - set(got))[:3]
    extra = sorted(set(got) - set(want))[:3]
    wrong = sorted(key for key in set(got) & set(want) if got[key] != want[key])[:3]
    return [f"{what}: {len(got)} rows vs {len(want)} recomputed; missing {missing}, "
            f"unexpected {extra}, different {[(w, got[w], want[w]) for w in wrong]}"]


def compare_frames(got, exp):
    """The tools/check.py rule: same columns (sorted by name), same row
    count, same dtypes, equal values after sorting rows."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns: spark={list(got.columns)} duckdb={list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows: spark={len(got)} duckdb={len(exp)}"
    g = got.sort_values(list(got.columns)).reset_index(drop=True)
    e = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    for c in g.columns:
        if str(g[c].dtype) != str(e[c].dtype):
            return f"dtype {c}: spark={g[c].dtype} duckdb={e[c].dtype}"
        if not g[c].equals(e[c]):
            bad = (g[c] != e[c]) & ~(g[c].isna() & e[c].isna())
            i = bad[bad].index[0] if bad.any() else None
            return f"values {c}: first diff row {i}"
    return None


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_queries(work, facts, inputs_dir):
    """Each key's result equals DuckDB running SparkEntry.oracleSql on the
    same generated files."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs_dir}/sf/{t}.parquet'")
    problems, failed = [], 0
    oracle = facts["oracle"]
    for key, sql in sorted(oracle.items()):
        path = f"{work}/check/{key}"
        why = None
        if not sql:
            why = "no oracle SQL"
        elif not glob.glob(f"{path}/*.parquet"):
            why = "no spark output"
        else:
            why = compare_frames(pd.read_parquet(path), con.sql(sql).df())
        if why:
            failed += 1
            problems.append(f"{key}: {why}")
    return len(oracle), failed, problems


def check(workload, work, facts, inputs_dir, inputs):
    if workload == "migrate":
        return check_migrate(facts, inputs)
    if workload == "ivm_cdc":
        return check_ivm(work, facts, inputs_dir)
    if workload == "query_mix":
        return check_queries(work, facts, inputs_dir)
    raise ValueError(workload)
