"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The engine test builds the benchmark engine on first use (about a minute) and runs
a tiny journey through graft.
"""
import hashlib
import json
import os
import sys
import tempfile
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402
import model  # noqa: E402
import run  # noqa: E402


def digest(path):
    h = hashlib.sha1()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


TINY = {"warm_sizes": [40, 40], "sizes": [60, 30, 0], "poison_at": 2}


class GeneratorTest(unittest.TestCase):
    def test_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            gen.tables(7, 0.001, f"{t}/a")
            gen.tables(7, 0.001, f"{t}/b")
            gen.tables(8, 0.001, f"{t}/c")
            self.assertEqual(digest(f"{t}/a"), digest(f"{t}/b"))
            self.assertNotEqual(digest(f"{t}/a"), digest(f"{t}/c"))

    def test_journey_is_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            plans = [gen.journey(s, f"{t}/{n}", **TINY)
                     for n, s in (("a", 7), ("b", 7), ("c", 8))]
            strip = [json.dumps(p, sort_keys=True).replace(f"{t}/{n}", "")
                     for p, n in zip(plans, "abc")]
            self.assertEqual(digest(f"{t}/a"), digest(f"{t}/b"))
            self.assertEqual(strip[0], strip[1])
            self.assertNotEqual(digest(f"{t}/a"), digest(f"{t}/c"))

    def test_no_code_repeats_within_a_delivery(self):
        with tempfile.TemporaryDirectory() as t:
            p = gen.journey(3, t, [500, 500, 500], [500, 500], 1)
            for d in p["warmup"] + p["measured"]:
                codes = [r["code"] for r in d["records"] or [] if "code" in r]
                self.assertEqual(len(codes), len(set(codes)))


class ModelTest(unittest.TestCase):
    def test_field_level_set_semantics(self):
        s = model.Store()
        self.assertEqual(s.apply([
            {"code": "1", "product_name": "Oat Milk", "_id": "x", "id": 3,
             "brands": "Acme", "nutriments": {"fat_g": 2, "energy_kcal": 1}},
            {"product_name": "no code"}]),
            ["processed_with_errors", 2, 1, 1])
        self.assertEqual(s.apply([{"code": "1", "brands": "Nordic", "nova_group": 4}]),
                         ["processed", 1, 1, 0])
        self.assertEqual(s.row("1"), ["1", "Oat Milk", {
            "brands": "Nordic", "nova_group": "4",
            "nutriments": '{"energy_kcal":1,"fat_g":2}'}])
        self.assertEqual(s.apply(None), ["failed", 0, 0, 0])

    def test_reads(self):
        s = model.Store()
        s.apply([{"code": f"{i:02d}", "product_name": f"Dark Tea {i}"} for i in range(30)])
        self.assertEqual([r[0] for r in s.read("partial", "TEA", [])],
                         [f"{i:02d}" for i in range(20)])
        self.assertEqual(s.read("exact", "Dark Tea 7", []), [["07", "Dark Tea 7", None]])
        self.assertEqual(s.read("miss", "99", []), [])
        self.assertEqual(s.read("status", 0, [["f", "processed", 30, 30, 0]]),
                         [["f", "processed", 30, 30, 0]])


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(99), 50)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([5], 99), 5)


class EngineTest(unittest.TestCase):
    def test_model_matches_engine_on_a_tiny_journey(self):
        os.chdir(run.ROOT)
        cp = run.classpath(run.source_digest())
        with tempfile.TemporaryDirectory(dir=os.path.join(run.HERE, "target")) as work:
            j = gen.journey(11, f"{work}/deliveries", **TINY)
            plan = {"workload": "journey", "seed": 11, "seconds": 1, "trace": True,
                    "cores": 2, "warmup": j["warmup"], "warm_min": j["warm_min"],
                    "measured": j["measured"], "steady": 10.0,
                    "products_out": f"{work}/products"}
            plan = json.loads(json.dumps(plan))
            for d in plan["warmup"] + plan["measured"]:
                d.pop("records")
            res = run.run_engine(cp, work, plan, time.time() + 300)
            checks = model.check_journey(j, res, f"{work}/products")
            self.assertEqual(checks["failures"], [])
            self.assertEqual(checks["attempted"], 2 + 3 + 3 * len(gen.READ_MIX) + 1)
            m = metrics.summarize("journey", res, checks, traced=True)["metrics"]
            self.assertGreater(m["spark.jobs"]["value"], 0)
            self.assertGreater(m["streaming.triggers"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
