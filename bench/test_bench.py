"""Self-tests for the benchmark's own arithmetic and input generators.

    python3 -m unittest discover -s bench -p 'test_*.py'

They need neither Spark nor a build.
"""
import unittest

import datagen
import stats


class PercentileRule(unittest.TestCase):
    def test_p90_when_ten_samples_lie_above(self):
        # 100 samples: the nearest-rank p90 is the 90th, and 10 lie above it.
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.above(100, 90), 10)
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)

    def test_falls_back_to_highest_percentile_with_ten_above(self):
        # 32 samples: p90 has 3 above; p68 is the highest with 10 above.
        p = stats.tail_percentile(32)
        self.assertEqual(p, 68)
        self.assertGreaterEqual(stats.above(32, p), 10)
        self.assertLess(stats.above(32, p + 1), 10)

    def test_none_when_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertEqual(stats.tail_percentile(11), 9)

    def test_median_and_percentile(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)
        with self.assertRaises(ValueError):
            stats.median([])


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [
            span(0, -1, 0, 100),    # pass
            span(1, 0, 10, 60),     # op
            span(2, 1, 10, 30),     # construct
            span(3, 1, 30, 55),     # exec
            span(4, 3, 35, 45),     # catalyst phase inside exec
            span(5, 0, 70, 90),     # second op, no children
        ]
        st = stats.self_times(spans)
        self.assertEqual(st, {0: 30, 1: 5, 2: 20, 3: 15, 4: 10, 5: 20})
        # Self times of a tree add up to the root's duration.
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 40, 70)]
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 10, 20), span(1, 0, 0, 15), span(2, 0, 18, 40)]
        self.assertEqual(stats.self_times(spans)[0], 3)


class TableGenerator(unittest.TestCase):
    def test_tables_repeat_exactly(self):
        import tempfile
        import duckdb
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            datagen.write_tables(a, 0.001)
            datagen.write_tables(b, 0.001)
            for t in ("customer", "lineitem", "documents", "embeddings", "events"):
                fa, fb = f"'{a}/{t}.parquet'", f"'{b}/{t}.parquet'"
                n = duckdb.sql(f"SELECT count(*) FROM {fa}").fetchone()[0]
                diff = duckdb.sql(f"SELECT count(*) FROM (SELECT * FROM {fa} "
                                  f"EXCEPT ALL SELECT * FROM {fb})").fetchone()[0]
                self.assertGreater(n, 0, t)
                self.assertEqual(diff, 0, t)


class EtlGenerator(unittest.TestCase):
    def test_same_seed_same_records(self):
        self.assertEqual(datagen.etl_records(7, 50), datagen.etl_records(7, 50))
        self.assertEqual(datagen.etl_plan(7, 100, 4, 2, 20), datagen.etl_plan(7, 100, 4, 2, 20))
        self.assertEqual(datagen.dataset_plan(7, 4, 10), datagen.dataset_plan(7, 4, 10))

    def test_other_seed_other_records(self):
        self.assertNotEqual(datagen.etl_records(7, 50), datagen.etl_records(8, 50))
        self.assertNotEqual(datagen.etl_plan(7, 100, 4, 2, 20),
                            datagen.etl_plan(8, 100, 4, 2, 20))
        self.assertNotEqual(datagen.dataset_plan(7, 4, 10), datagen.dataset_plan(8, 4, 10))

    def test_plan_model(self):
        p = datagen.etl_plan(3, 100, 4, 2, 20)
        self.assertEqual(sum(len(c) for c in p["chunks"]), 100)
        after = p["expect"]["after_upsert"]
        # Each batch holds 10 existing keys and 10 new ones.
        self.assertEqual([len(k) for k in after], [110, 120])
        for batch, keys in zip(p["upserts"], after):
            self.assertEqual(len({r["id"] for r in batch}), 20)
            self.assertTrue({r["id"] for r in batch} <= set(keys))
        self.assertEqual(p["expect"]["after_replace"], [k for k in after[-1] if k % 3 == 0])
        self.assertEqual([r["id"] for r in p["replace"]], p["expect"]["after_replace"])

    def test_dataset_plan_latest_partition(self):
        d = datagen.dataset_plan(3, 4, 10)
        last = d["appends"][-1]
        self.assertEqual((last["version"], last["day"]), (2, 4))
        self.assertTrue(all("channel" in r for r in last["rows"]))
        self.assertEqual(d["expect"]["total_rows"], 50)


def fake_result(workload):
    """A minimal harness result: a cold pass, then plain, traced and plain
    warm passes of two ops, with the traced pass's spans."""
    def op(name, ms, traced):
        o = {"name": name, "ms": ms, "ok": True, "gc_ms": 1, "assets": {},
             "construct_ms": ms / 4, "exec_ms": ms * 3 / 4}
        if traced:
            o.update({"jobs": 1, "stages": 1, "single_task_stages": 1, "tasks": 4,
                      "task_run_ms": ms, "max_task_ms": ms / 2, "shuffle_read_bytes": 0,
                      "shuffle_write_bytes": 0, "spill_bytes": 0, "plan_ms": 2})
        return o

    def pss(kind, traced, b_ms=300.0):
        return {"kind": kind, "traced": traced, "table_loads_ms": [5.0] * 10 if traced else [],
                "ops": [op("a", 100.0, traced), op("b", b_ms, traced)]}
    ms = 1000000
    spans = [span(0, -1, 0, 400 * ms, "pass"), span(1, 0, 0, 100 * ms, "op"),
             span(2, 1, 0, 25 * ms, "queries.construct"),
             span(3, 1, 25 * ms, 100 * ms, "spark.exec"),
             span(4, 3, 30 * ms, 32 * ms, "catalyst.planning"),
             span(5, 0, 100 * ms, 400 * ms, "op")]
    spans[0]["kind"] = "warm"
    spans[1]["op"], spans[5]["op"] = "a", "b"
    return {"setup_s": 5.0, "retained_heap_mb": 80.0, "spans": spans,
            "passes": [pss("cold", True), pss("warm", False, 320.0), pss("warm", True),
                       pss("warm", False, 260.0)],
            "check": {}}


class OutputContract(unittest.TestCase):
    """run.py reports exactly the metrics BENCHMARK.json declares."""

    @classmethod
    def setUpClass(cls):
        import json
        import os
        import run
        cls.bench = run
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def test_workloads(self):
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]),
                         sorted(self.bench.WORKLOADS))

    def test_end_to_end_names_and_units(self):
        m, info = self.bench.end_to_end(fake_result("interactive"))
        self.assertEqual({k: u for k, (_, u) in m.items()},
                         {e["name"]: e["unit"] for e in self.spec["end_to_end"]})
        # Per-op medians over the three warm passes: a 100, b 300.
        self.assertAlmostEqual(m["pass_s"][0], 0.4)
        self.assertAlmostEqual(m["op_p50_ms"][0], 200.0)
        self.assertEqual(info["latency_samples"], 6)

    def test_per_layer_names_and_units(self):
        for w in self.bench.WORKLOADS:
            m = self.bench.per_layer(fake_result(w), w, 0, 0.0)
            self.assertEqual({k: u for k, (_, u) in m.items()},
                             {e["name"]: e["unit"] for e in self.spec["per_layer"]}, w)

    def test_self_times_account_for_the_traced_pass(self):
        m = self.bench.per_layer(fake_result("interactive"), "interactive", 0, 0.0)
        self.assertAlmostEqual(m["trace.accounted_frac"][0], 1.0)
        self.assertAlmostEqual(m["self.queries.construct_ms"][0], 25.0)
        self.assertAlmostEqual(m["self.catalyst.plan_ms"][0], 2.0)
        self.assertAlmostEqual(m["self.spark.exec_ms"][0], 73.0)
        self.assertAlmostEqual(m["trace.remainder_ms"][0], 300.0)
        # The traced 0.4 s pass against the mean of 0.42 s and 0.36 s.
        self.assertAlmostEqual(m["trace.overhead_s"][0], 0.01)


class PairedOverhead(unittest.TestCase):
    def test_cancels_a_steady_speed_up(self):
        # Untraced passes speed up by 1 s a pass; tracing costs 0.5 s.
        passes = [(10.0, False), (9.5, True), (8.0, False), (7.5, True), (6.0, False)]
        self.assertAlmostEqual(stats.paired_overhead(passes), 0.5)

    def test_needs_untraced_neighbours(self):
        self.assertEqual(stats.paired_overhead([(1.0, False), (2.0, True)]), 0.0)
        self.assertEqual(stats.paired_overhead([(2.0, True), (1.0, False)]), 0.0)


if __name__ == "__main__":
    unittest.main()
