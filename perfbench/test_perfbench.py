"""Self-tests of the benchmark.

  python3 perfbench/test_perfbench.py

They assert that the printed metric names equal BENCHMARK.json's, that one
seed yields identical inputs twice, and that an injected wrong answer
raises the error rate. The metric-name test makes two short real runs
(one untraced, one traced), so it builds the engine on first use.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_data  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class MetricNames(unittest.TestCase):
    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in SPEC["workloads"]],
                         list(workloads.WORKLOADS))

    def test_printed_names_match(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            got = _run("adhoc_sql", trace)
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            self.assertEqual(
                {k: v["unit"] for k, v in got["metrics"].items()}, want)
            self.assertTrue(got["correct"])


class Determinism(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in workloads.WORKLOADS:
            a, b = workloads.plan(w, 7, 10), workloads.plan(w, 7, 10)
            self.assertEqual(a, b)
            self.assertNotEqual(a["digest"], workloads.plan(w, 8, 10)["digest"])

    def test_same_tables(self):
        a, b = gen_data.tables(0.001), gen_data.tables(0.001)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)


class WrongAnswer(unittest.TestCase):
    """Spark's side is played by DuckDB itself, so the answers start out
    right; then one is made wrong."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        gen_data.write(cls.tmp.name, 0.001)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def _adhoc(self, tamper):
        plan = workloads.plan("adhoc_sql", 3, 4)
        con = check.connect(self.tmp.name)
        res = {"warmup": [], "ops": [], "results": []}
        for st in plan["warmup"]:
            res["warmup"].append(self._answer(con, st))
        for st in plan["ops"]:
            res["ops"].append({"id": st["id"], "error": None})
            res["results"].append(self._answer(con, st))
        rel = con.sql("select * from adhoc_sink where part_id >= 100")
        res["written"] = {
            "schema": [["o_orderkey", "bigint"], ["o_totalprice", "double"],
                       ["o_orderpriority", "string"], ["part_id", "int"]],
            "rows": [list(r) for r in rel.fetchall()]}
        victim = next(i for i, r in enumerate(res["results"]) if r["rows"])
        if tamper:  # one duplicated row: a wrong answer of the right shape
            rows = res["results"][victim]["rows"]
            rows.append(list(rows[0]))
        failed, other = check.check_adhoc(check.connect(self.tmp.name), plan, res)
        metrics = {"latency_p50_s": (0.1, "s")}
        return run.outcome(res, failed, other, metrics), victim, failed

    @staticmethod
    def _answer(con, st):
        if st["kind"] in ("ddl", "insert"):
            con.execute(st["twin"])
            return {"schema": [], "rows": []}
        rel = con.sql(st["twin"])
        back = {v: k for k, v in check.SPARK_TO_DUCK.items()}
        return {"schema": [[c, back[str(t)]] for c, t in zip(rel.columns, rel.types)],
                "rows": [list(r) for r in rel.fetchall()]}

    def test_adhoc_wrong_answer_counts(self):
        clean, _, _ = self._adhoc(tamper=False)
        self.assertEqual(clean["failed"], 0)
        self.assertTrue(clean["correct"])
        bad, victim, failed = self._adhoc(tamper=True)
        self.assertEqual(list(failed), [victim])
        self.assertGreater(bad["failed"] / bad["attempted"], 0)
        self.assertFalse(bad["correct"])


if __name__ == "__main__":
    unittest.main()
