"""Self-tests of the benchmark harness's Python side; no Spark needed.

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import os
import re
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


def fake_raw(workload, ops, trace):
    raw = {
        "settings": {"master": "local[4]"},
        "setup_s": [3.0, 1.0, 2.0],
        "cache": {"artifacts": 2, "mem_bytes": 1_500_000, "disk_bytes": 500_000},
        "wall_s": 4.0,
        "pass_s": [5.0, 4.0, 4.5],
        "ops": ops,
        "errors": [],
    }
    if workload == "ingest":
        raw["ingest"] = {"kept": [], "hits": [], "sink_ids": [], "replace_s": 0.5,
                         "replace_n": 2, "sink_s": 0.25}
    if trace:
        # the JVM reports every counter, streaming.rows among them
        counters = {name: 1.0 for name in run.load_benchmark_units()[1]}
        raw.update(layers=dict(counters, **{"streaming.rows": 5.0}), listener_s=0.01,
                   core={"baloo_s": 3.0, "hand_s": 2.0, "plan_same": 4, "pairs": 5},
                   spans=[{"name": "construct", "dur_s": 0.3, "self_s": 0.2},
                          {"name": "query", "dur_s": 1.0, "self_s": 0.1}])
    return raw


EXPECTED = {"q_a": ("Relational", 10, "123"), "q_b": ("Joins", 0, "0"),
            "core.merge": ("core", 7, "-5")}


def query_ops():
    return [
        {"name": "q_a", "kind": "query", "pass": 0, "lat": 1.0, "ok": True, "n": 10, "sum": "123"},
        {"name": "q_b", "kind": "query", "pass": 0, "lat": 3.0, "ok": True, "n": 0, "sum": "0"},
        {"name": "q_a", "kind": "query", "pass": 1, "lat": 0.5, "ok": True, "n": 10, "sum": "123"},
        {"name": "q_b", "kind": "query", "pass": 1, "lat": 1.0, "ok": True, "n": 0, "sum": "0"},
        {"name": "q_a", "kind": "query", "pass": 2, "lat": 0.7, "ok": True, "n": 10, "sum": "123"},
        {"name": "q_b", "kind": "query", "pass": 2, "lat": 2.0, "ok": True, "n": 0, "sum": "0"},
        {"name": "core.merge.baloo", "kind": "core", "lat": 0.2, "ok": True, "n": 7, "sum": "-5"},
    ]


class Arithmetic(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(run.percentile(xs, 0.5), 2.5)
        self.assertAlmostEqual(run.percentile(xs, 0.9), 3.7)
        self.assertEqual(run.percentile(xs, 0.0), 1.0)
        self.assertEqual(run.percentile(xs, 1.0), 4.0)
        self.assertEqual(run.percentile([7.0], 0.9), 7.0)
        self.assertEqual(run.percentile([1.0, float("inf")], 0.5), float("inf"))

    def test_ratio(self):
        self.assertEqual(run.ratio(3.0, 2.0), 1.5)
        self.assertTrue(run.ratio(1.0, 0.0) != run.ratio(1.0, 0.0))  # NaN, never a fake 0

    def test_end_to_end_arithmetic(self):
        ops = query_ops()
        m = run.end_to_end("analytics", fake_raw("analytics", ops, 0), ops, 0)
        self.assertEqual(m["setup_s"], 2.0)  # median of three set-ups
        self.assertEqual(m["wall_s"], 4.5)  # median pass
        # per-query medians over the passes are 0.7 and 2.0
        self.assertAlmostEqual(m["latency_p50_s"], 1.35)
        self.assertAlmostEqual(m["latency_p90_s"], 1.87)
        self.assertEqual(m["items_per_s"], 2 / 4.5)
        self.assertEqual(m["cache_mb"], 2.0)

    def test_failed_op_misses_every_latency(self):
        ops = query_ops()
        for op in ops[1:6:2]:
            op["ok"] = False
        m = run.end_to_end("analytics", fake_raw("analytics", ops, 0), ops, 0)
        self.assertEqual(m["latency_p90_s"], float("inf"))
        self.assertEqual(m["latency_p50_s"], float("inf"))


class Seeds(unittest.TestCase):
    def plan(self, workload, seed):
        return run.make_plan(workload, seed, 24, 0, "/w", run.read_expected())

    def test_same_seed_same_order(self):
        self.assertEqual(self.plan("analytics", 3), self.plan("analytics", 3))
        a = [r[1:] for r in self.plan("analytics", 3) if r[0] == "query"]
        b = [r[1:] for r in self.plan("analytics", 4) if r[0] == "query"]
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(b))  # the seed only permutes
        self.assertEqual(len(a), 12 * run.PASSES)
        passes = [[q for p, q in a if p == str(i)] for i in range(run.PASSES)]
        self.assertEqual(sorted(passes[0]), sorted(passes[1]))
        self.assertNotEqual(passes[0], passes[1])  # each pass its own order

    def test_same_seed_same_batches(self):
        self.assertEqual(self.plan("ingest", 5), self.plan("ingest", 5))
        self.assertNotEqual(self.plan("ingest", 5), self.plan("ingest", 6))
        batches = run.ingest_batches(5, 24)
        self.assertEqual(len(batches), 1 + 6)
        self.assertEqual([due for _, due, _ in batches][:3], [-1, 0, 4000])
        for _, _, docs in batches:
            kinds = [k for _, k, _, _ in docs]
            self.assertEqual({k: kinds.count(k) for k in kinds}, run.INGEST_DOCS)

    def test_expected_covers_every_analytics_and_curation_query(self):
        exp = run.read_expected()
        modules = {m: w for w, mods in run.MODULES.items() for m in mods}
        counts = {w: sum(1 for m, _, _ in exp.values() if modules.get(m) == w) for w in run.MODULES}
        self.assertEqual(counts, {"analytics": 135, "curation": 119})
        self.assertEqual(sorted(run.query_set(1e6, exp)),
                         sorted(n for n, (m, _, _) in exp.items() if modules.get(m) == "analytics"))
        first = run.query_set(24, exp)  # one query from each of the first 12 modules
        self.assertEqual([exp[n][0] for n in first], run.MODULES["analytics"][:12])
        for c in run.CORE_PAIRS:
            self.assertIn("core." + c, exp)


class Correctness(unittest.TestCase):
    def test_planted_wrong_fingerprint_fails(self):
        units = run.load_benchmark_units()
        ops = query_ops()
        good = run.evaluate("analytics", fake_raw("analytics", copy.deepcopy(ops), 0), [], EXPECTED, 0, units)
        self.assertEqual((good["correct"], good["failed"]), (True, 0))
        wrong = dict(EXPECTED, q_a=("Relational", 10, "124"))
        bad = run.evaluate("analytics", fake_raw("analytics", copy.deepcopy(ops), 0), [], wrong, 0, units)
        self.assertEqual((bad["correct"], bad["failed"], bad["attempted"]), (False, 3, 7))

    def test_wrong_result_fails_but_keeps_its_time(self):
        ops = query_ops()
        wrong = dict(EXPECTED, q_b=("Joins", 1, "0"))
        res = run.evaluate("analytics", fake_raw("analytics", ops, 0), [], wrong, 0,
                           run.load_benchmark_units())
        self.assertEqual((res["correct"], res["failed"]), (False, 3))
        self.assertEqual(res["metrics"]["latency_p90_s"]["value"], 1.87)

    def test_exception_counts_as_failure(self):
        ops = query_ops()
        ops[0] = {"name": "q_a", "kind": "query", "lat": 0.1, "ok": False, "err": "boom"}
        res = run.evaluate("analytics", fake_raw("analytics", ops, 0), [], EXPECTED, 0,
                           run.load_benchmark_units())
        self.assertEqual(res["failed"], 1)

    def ingest_case(self):
        plan = [("doc", "0", "1", "fresh"), ("doc", "0", "2", "copy"), ("doc", "0", "3", "leak"),
                ("doc", "1", "4", "neardup"), ("doc", "1", "5", "fresh")]
        ingest = {"kept": [[1, 0], [2, 0], [4, 1], [5, 1]], "hits": [[2, 77], [4, 78]],
                  "sink_ids": [1, 5]}
        ops = [{"name": "batch0", "kind": "batch", "lat": 0.1, "ok": True},
               {"name": "batch1", "kind": "batch", "lat": 0.2, "ok": True}]
        return plan, ingest, ops

    def test_ingest_truth_holds(self):
        plan, ingest, ops = self.ingest_case()
        self.assertEqual(run.check_ingest(ops, plan, ingest), 5)
        self.assertTrue(all(o["ok"] for o in ops))

    def test_ingest_kept_leak_and_missed_neardup_fail(self):
        plan, ingest, ops = self.ingest_case()
        ingest["kept"].append([3, 0])
        ingest["sink_ids"].append(3)
        ingest["hits"] = [[2, 77]]
        ingest["sink_ids"].append(4)
        run.check_ingest(ops, plan, ingest)
        self.assertEqual([o["ok"] for o in ops], [False, False])
        self.assertIn("leak 3", ops[0]["err"])
        self.assertIn("neardup 4", ops[1]["err"])


class Output(unittest.TestCase):
    def test_every_benchmark_metric_with_its_unit(self):
        e2e, layer = run.load_benchmark_units()
        for workload in ("analytics", "ingest"):
            for trace, units in ((0, e2e), (1, layer)):
                plan, ops = [], query_ops()
                raw = fake_raw(workload, ops, trace)
                if workload == "ingest":
                    plan = [("doc", "0", "1", "fresh")]
                    ops[:] = [{"name": "batch0", "kind": "batch", "lat": 0.1, "ok": True, "lag": 0.0}]
                    raw["ingest"].update(kept=[[1, 0]], sink_ids=[1])
                res = run.evaluate(workload, raw, plan, EXPECTED, trace, (e2e, layer))
                self.assertTrue(res["correct"])
                self.assertEqual(set(res["metrics"]), set(units))
                for name, m in res["metrics"].items():
                    self.assertEqual(m["unit"], units[name])
                    self.assertIsInstance(m["value"], (int, float))
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})


class Settings(unittest.TestCase):
    def test_session_conf_matches_bench_scala_key_by_key(self):
        with open(os.path.join(run.REPO, "src", "main", "scala", "graft", "Bench.scala")) as f:
            src = f.read()
        builder = src[src.index("SparkSession.builder()"):src.index(".getOrCreate()")]
        bench = dict(re.findall(r'\.config\("([^"]+)",\s*"?([^")]+)"?\)', builder))
        bench["master"] = re.search(r'\.master\(s?"([^"]+)"\)', builder).group(1)
        bench["spark.app.name"] = re.search(r'\.appName\("([^"]+)"\)', builder).group(1)
        bench = {k: v.replace("$cpus", "${cpus}") for k, v in bench.items()}
        bench = {k: ("${cpus}" if v == "cpus" else v) for k, v in bench.items()}
        with open(run.SESSION_CONF) as f:
            conf = dict(l.strip().split("=", 1) for l in f if l.strip() and not l.startswith("#"))
        self.assertEqual(conf, bench)


if __name__ == "__main__":
    unittest.main()
