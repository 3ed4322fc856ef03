"""Unit tests of the benchmark's own derivations.

    python3 -m unittest discover -s perfbench/tests

The Spark-backed attribution test builds the runner and runs a JVM; it is
skipped when no Spark distribution is found.
"""
import json
import math
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402

INF = float("inf")


def op(i, name, start, end, ok=True, built=None, traced=True, client=0):
    return {"kind": "op", "id": i, "client": client, "name": name, "phase": "timed",
            "due": start, "start": start, "built": start if built is None else built,
            "end": end, "ok": ok, "traced": traced}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = list(range(1, 102))  # 1..101
        self.assertEqual(metrics.percentile(xs, 50), 51)
        self.assertEqual(metrics.percentile(xs, 90), 91)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertAlmostEqual(metrics.percentile([10, 20], 90), 19)

    def test_failures_count_as_infinite(self):
        ops = [op(i, "q", 0, 10 + i) for i in range(20)] + [op(20, "q", 0, 1, ok=False)]
        lat = metrics.read_latencies(ops)
        self.assertEqual(lat[-1], INF)
        # one failure in 21 sits above the 90th percentile ...
        self.assertAlmostEqual(metrics.percentile(lat, 90), 28)
        # ... three make it infinite, however fast the failed calls returned
        lat[0] = lat[1] = INF
        self.assertEqual(metrics.percentile(lat, 90), INF)
        self.assertTrue(math.isfinite(metrics.percentile(lat, 50)))


class OpenLoopTest(unittest.TestCase):
    def test_lateness_and_latency_start_at_due_time(self):
        batches = [{"due": 0, "start": 0.5, "end": 3},
                   {"due": 2, "start": 3, "end": 5},   # queued behind batch 0
                   {"due": 6, "start": 6, "end": 7}]
        self.assertEqual(metrics.lateness(batches), [0.5, 1, 0])
        # latency is due -> last commit, so the wait behind batch 0 counts
        self.assertEqual(metrics.ingest_latency(batches), [3, 3, 1])

    def test_early_start_is_not_negative_lateness(self):
        self.assertEqual(metrics.lateness([{"due": 5, "start": 4.9, "end": 6}]), [0.0])


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_covered_children(self):
        # two overlapping jobs cover 3..9 of a 0..10 action span
        self.assertEqual(metrics.self_time((0, 10), [(3, 6), (5, 9)]), 4)
        # a child running past the parent's end is clipped
        self.assertEqual(metrics.self_time((0, 10), [(8, 15)]), 8)

    def test_layer_self_times_partition_an_op(self):
        o = op(1, "q", 0, 100, built=20)
        parts = {"jobs": [{"start": 5, "end": 15}, {"start": 30, "end": 90}],
                 "stages": [{"start": 6, "end": 14}, {"start": 40, "end": 80}],
                 "plans": []}
        s = metrics.layer_self_times(o, parts)
        self.assertEqual(s["engine"], 10)    # build 0..20 minus its job 5..15
        self.assertEqual(s["driver"], 20)    # action 20..100 minus job 30..90
        self.assertEqual(s["sched"], 2 + 20)  # jobs minus their stages
        self.assertEqual(s["exec"], 8 + 40)
        self.assertEqual(s["client"], 0)


class AttributionTest(unittest.TestCase):
    def test_jobs_go_to_the_op_named_by_their_group(self):
        # two clients interleave in time; only the job group decides
        ops = [op(1, "a", 0, 100, client=1), op(2, "b", 10, 90, client=2)]
        jobs = [{"group": "op-2", "start": 12, "end": 20},
                {"group": "op-1", "start": 15, "end": 30},
                {"group": None, "start": 16, "end": 18},
                {"group": "op-7", "start": 16, "end": 18}]
        stages = [{"group": "op-1", "start": 16, "end": 29},
                  {"group": "op-2", "start": 13, "end": 19}]
        plans = [{"op": 2, "analysis_ms": 1, "optimization_ms": 2, "planning_ms": 3}]
        by = metrics.attribute(ops, jobs, stages, plans)
        self.assertEqual([j["start"] for j in by[1]["jobs"]], [15])
        self.assertEqual([j["start"] for j in by[2]["jobs"]], [12])
        self.assertEqual([s["start"] for s in by[1]["stages"]], [16])
        self.assertEqual(len(by[2]["plans"]), 1)
        self.assertEqual(by[1]["plans"], [])


class OverheadTest(unittest.TestCase):
    def test_overhead_pairs_ops_by_name(self):
        ops = [op(1, "fast", 0, 10, traced=False), op(2, "slow", 0, 100, traced=False),
               op(3, "fast", 0, 11), op(4, "slow", 0, 110)]
        self.assertAlmostEqual(metrics.overhead_pct(ops), 10.0)
        # a different op mix in the traced half is not overhead
        ops.append(op(5, "slow", 0, 110))
        self.assertAlmostEqual(metrics.overhead_pct(ops), 10.0)


class CheckTest(unittest.TestCase):
    """A wrong answer fails the run unless its op is a declared known
    defect, which is reported as a finding instead."""

    SPEC = {"ops": {"moved": "collect", "still": "collect"},
            "probe": {"defect": "collect"},
            "writer": {}, "ingest_sensitive": ["moved", "defect"],
            "known_defects": {"defect": "serves stale rows"}}

    def records(self, still_digest="d"):
        recs = [{"kind": "batch", "batch": 0}]
        for i, n in enumerate(("moved", "still", "defect")):
            recs.append({"kind": "op", "id": i, "name": n, "phase": "warm", "ok": True, "digest": "d"})
            recs.append({"kind": "op", "id": 10 + i, "name": n, "phase": "final", "ok": True,
                         "digest": still_digest if n == "still" else "d2"})
        return recs

    def check(self, final_verdicts, still_digest="d", ref_verdicts=None):
        import run
        from unittest import mock

        def check_dir(con, oracle_json, dump_root, names):
            verdicts = final_verdicts if dump_root.endswith("final") else ref_verdicts or {}
            return {n: verdicts.get(n) for n in names if n != "still"}

        with mock.patch.object(run.oracle, "connect"), \
                mock.patch.object(run.oracle, "check_dir", side_effect=check_dir):
            return run.check(self.records(still_digest), self.SPEC, "w", "d")

    def test_known_defect_is_a_finding_not_a_failure(self):
        attempted, failed, problems, findings = self.check({"defect": "rows 1 != oracle 2"})
        self.assertEqual((attempted, failed, problems), (6, 0, []))
        self.assertEqual(len(findings), 1)
        self.assertIn("rows 1 != oracle 2", findings[0])

    def test_reference_disagreement_fails_unless_known_defect(self):
        wrong = {"moved": "row 0: x != oracle y", "defect": "row 0: x != oracle y"}
        _, failed, problems, findings = self.check({}, ref_verdicts=wrong)
        self.assertEqual(failed, 1)
        self.assertIn("moved", problems[0])
        self.assertEqual(len(findings), 1)
        self.assertIn("defect", findings[0])

    def test_refreshed_store_must_match_the_oracle(self):
        _, failed, problems, _ = self.check({"moved": "rows 1 != oracle 2"})
        self.assertEqual(failed, 1)
        self.assertIn("moved", problems[0])

    def test_untouched_store_must_keep_its_reference(self):
        _, failed, problems, _ = self.check({}, still_digest="changed")
        self.assertEqual(failed, 1)
        self.assertIn("still", problems[0])


class DeclarationTest(unittest.TestCase):
    """The metrics a run prints are the ones BENCHMARK.json declares."""

    def setUp(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            self.bench = json.load(f)

    def records(self):
        counters = [{"kind": "counters", "at": at, "t": 0, "compiles": 0,
                     "compile_ms_reservoir": 0, "reservoir_n": 0, "compile_ms_mean": 0,
                     "driver_gc_ms": 0, "fs_read_ops": 0} for at in ("start", "trace", "end")]
        return counters + [
            op(0, "q", 0, 5, traced=False), op(1, "q", 6, 10),
            {"kind": "setup", "setup_ms": 1000.0}, {"kind": "heap", "used_mb": 50.0},
            {"kind": "window", "start": 0, "end": 10, "trace_from": 5}]

    def test_end_to_end_names_and_units(self):
        import run
        e2e = metrics.end_to_end(self.records(), ["q"])
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(set(e2e), set(declared))
        self.assertEqual(declared, {k: run.E2E_UNITS[k] for k in declared})

    def test_per_layer_names_and_units(self):
        import run
        layers = metrics.per_layer(self.records(), 4, 1000, {})
        layers["error_rate"] = 0.0
        declared = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(set(layers), set(declared))
        self.assertEqual(declared, {k: run.layer_unit(k) for k in declared})


def _spark_found():
    import build
    return bool(build.spark_home())


@unittest.skipUnless(_spark_found(), "no Spark")
class ConcurrentAttributionTest(unittest.TestCase):
    def test_tracer_attributes_concurrent_clients_by_job_group(self):
        import build
        cp = build.build()
        with tempfile.TemporaryDirectory() as tmp:
            out = os.path.join(tmp, "selftest.jsonl")
            res = subprocess.run([*build.java_command(cp, "perfbench.SelfTest", tmp, "1g"), out],
                                 capture_output=True, text=True, timeout=170)
            self.assertEqual(res.returncode, 0, res.stdout + res.stderr[-2000:])
            with open(out) as f:
                recs = [json.loads(line) for line in f]
        stages = [r for r in recs if r["kind"] == "stage" and r["group"] != "drain"]
        jobs = [r for r in recs if r["kind"] == "job"]
        self.assertEqual(len(jobs), 3 * 5 * 2)
        self.assertGreaterEqual(len(stages), 3 * 5 * 3)
        for s in stages:
            client = int(s["group"][3:]) // 100
            # client c ran every stage with c partitions
            self.assertEqual(s["tasks"], client, s)


if __name__ == "__main__":
    unittest.main()
