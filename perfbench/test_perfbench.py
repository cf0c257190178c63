"""The benchmark's own tests: metric arithmetic, generator determinism, and
one corrupted output per workload that the checks must catch.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import glob
import json
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(list(range(10))), (None, None, 10))

    def test_eleven_samples_give_the_minimum(self):
        v, pct, n = metrics.tail(list(range(11)))
        self.assertEqual((v, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_hundred_samples_give_p90(self):
        v, pct, n = metrics.tail(list(reversed(range(100))))
        self.assertEqual((v, pct, n), (89, 90.0, 100))
        self.assertEqual(sum(1 for x in range(100) if x > v), 10)


class SelfTime(unittest.TestCase):
    def span(self, a, b):
        return {"start": a, "end": b}

    def test_no_children(self):
        self.assertEqual(metrics.self_time(self.span(0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        kids = [self.span(1, 4), self.span(3, 6), self.span(8, 9)]
        self.assertEqual(metrics.self_time(self.span(0, 10), kids), 10 - 5 - 1)

    def test_children_clipped_to_the_span(self):
        kids = [self.span(-5, 2), self.span(9, 15)]
        self.assertEqual(metrics.self_time(self.span(0, 10), kids), 7)

    def test_nested_children_count_once(self):
        kids = [self.span(2, 8), self.span(3, 4)]
        self.assertEqual(metrics.self_time(self.span(0, 10), kids), 4)


def _files(root):
    return sorted(os.path.relpath(p, root) for p in glob.glob(f"{root}/**/*", recursive=True)
                  if os.path.isfile(p))


def _tempdir(test):
    d = tempfile.TemporaryDirectory()
    test.addCleanup(d.cleanup)
    return d.name


class Generator(unittest.TestCase):
    def generate(self, workload, seed):
        d = _tempdir(self)
        meta = gen.generate(workload, seed, d)
        return d, meta

    def test_same_seed_same_bytes(self):
        for w in sorted(gen.GENERATORS):
            a, _ = self.generate(w, 7)
            b, _ = self.generate(w, 7)
            self.assertEqual(_files(a), _files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
            self.assertEqual((w, mismatch, errors), (w, [], []))

    def test_other_seed_other_rows_same_properties(self):
        for w in sorted(gen.GENERATORS):
            a, ma = self.generate(w, 7)
            b, mb = self.generate(w, 8)
            both = set(_files(a)) & set(_files(b))
            same = [f for f in both if f.endswith(".parquet") and
                    filecmp.cmp(f"{a}/{f}", f"{b}/{f}", shallow=False)]
            self.assertLess(len(same), len(_files(a)) / 2, w)
            if w == "migrate":
                self.assertEqual(ma["perturbed"], mb["perturbed"])
                self.assertEqual(ma["rows"]["orders"], mb["rows"]["orders"])
            if w == "ivm_cdc":
                self.assertEqual(ma["properties"], mb["properties"])
                self.assertNotEqual(ma["hot_groups"], mb["hot_groups"])

    def test_touched_buckets_follow_batch_width(self):
        d, meta = self.generate("ivm_cdc", 7)
        c = meta["properties"]
        with open(f"{d}/cdc/meta.json") as f:
            touched = [int(n) for n in json.load(f)["touched_buckets"].split(",")]
        self.assertEqual(touched, [c["store_buckets"] if b % c["period"] == 0
                                   else c["hot_groups"] for b in range(1, c["batches"] + 1)])


def _migrate_pass(perturbed, rows, status_of=None):
    phases = [("translation", "Success", "0"), ("schema", "Success", "0"),
              ("load", "Success", "0")]
    for t in gen.MIGRATE_TABLES:
        phases += [(f"dvt_schema:mig_tgt_0.{t}", "Success", "0"),
                   (f"dvt_column:mig_tgt_0.{t}", "Success", "0")]
        n = perturbed.get(t, 0)
        phases.append((f"dvt_row:mig_tgt_0.{t}", "Partial" if n else "Success", str(n)))
    if status_of:
        phases = [status_of(p) for p in phases]
    return {"pass": 0,
            "phases": [{"phase": p, "status": s, "total": "9", "failed": f}
                       for p, s, f in phases],
            "report": [("mig-ddl/ddl/" if p in ("translation", "schema") else "mig-data/data/") + p
                       for p, _, _ in phases],
            "schema_attempts": 2, "load_rows": sum(rows.values())}


class CorruptedOutputs(unittest.TestCase):
    def test_migrate_missed_mismatch(self):
        inputs = {"perturbed": {"customer": 3, "orders": 5}, "rows": {"orders": 10}}
        good = {"passes": [_migrate_pass(inputs["perturbed"], inputs["rows"])]}
        self.assertEqual(checks.check_migrate(good, inputs), (27, 0, []))
        missed = {"passes": [_migrate_pass(
            inputs["perturbed"], inputs["rows"],
            lambda p: (p[0], "Success", "0") if p[0].endswith(".orders") else p)]}
        attempted, failed, problems = checks.check_migrate(missed, inputs)
        self.assertEqual((attempted, failed), (27, 1))
        self.assertIn("orders", problems[0])

    def test_migrate_missing_report_row(self):
        inputs = {"perturbed": {"customer": 3}, "rows": {"orders": 10}}
        p = _migrate_pass(inputs["perturbed"], inputs["rows"])
        p["report"] = p["report"][1:]
        self.assertTrue(checks.check_migrate({"passes": [p]}, inputs)[2])

    def test_ivm_dropped_view_row(self):
        inputs, work = _tempdir(self), _tempdir(self)
        gen.generate("ivm_cdc", 3, inputs)
        n = 6  # batches folded; topk folded on the even ones
        cdc = f"{inputs}/cdc"
        files = [f"{cdc}/base.parquet"] + [f"{cdc}/agg_{b:05d}.parquet" for b in range(1, n + 1)]
        con = duckdb.connect()
        rows = checks._live(files)  # noqa: F841 (read by the SQL below)
        agg = con.sql("SELECT grp, count(*) AS n, "
                      "sum(CAST(val AS DECIMAL(18,4)))::DECIMAL(28,4) AS s "
                      "FROM rows GROUP BY grp").arrow()
        rows = checks._live(files[:n + 1])  # the last top-k batch is n
        topk = con.sql("SELECT grp, item, cnt, rnk::INTEGER AS rnk FROM (SELECT grp, item, "
                       "count(*) AS cnt, row_number() OVER (PARTITION BY grp ORDER BY "
                       "count(*) DESC, item) AS rnk FROM rows GROUP BY grp, item) "
                       "WHERE rnk <= 3").arrow()
        os.makedirs(f"{work}/check/agg")
        os.makedirs(f"{work}/check/topk")
        pq.write_table(topk, f"{work}/check/topk/part-0.parquet")
        facts = {"batches_folded": n}
        pq.write_table(agg, f"{work}/check/agg/part-0.parquet")
        self.assertEqual(checks.check_ivm(work, facts, inputs)[2], [])
        pq.write_table(agg.slice(1), f"{work}/check/agg/part-0.parquet")
        problems = checks.check_ivm(work, facts, inputs)[2]
        self.assertEqual(len(problems), 1)
        self.assertIn("aggregate view", problems[0])

    def test_query_wrong_row(self):
        inputs, work = _tempdir(self), _tempdir(self)
        gen.generate("query_mix", 3, inputs)
        sql = ("SELECT n_regionkey, count(*) AS nations, sum(c_acctbal) AS bal FROM customer "
               "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_regionkey")
        con = duckdb.connect()
        for t in checks.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/sf/{t}.parquet'")
        right = con.sql(sql).arrow()
        os.makedirs(f"{work}/check/k")
        pq.write_table(right, f"{work}/check/k/part-0.parquet")
        facts = {"oracle": {"k": sql}}
        self.assertEqual(checks.check_queries(work, facts, inputs), (1, 0, []))
        bal = right.column("bal").to_pylist()
        bal[0] += 0.01
        wrong = right.set_column(2, "bal", pa.array(bal))
        pq.write_table(wrong, f"{work}/check/k/part-0.parquet")
        attempted, failed, problems = checks.check_queries(work, facts, inputs)
        self.assertEqual((attempted, failed), (1, 1))
        self.assertIn("values bal", problems[0])


if __name__ == "__main__":
    unittest.main()
