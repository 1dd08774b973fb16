#!/usr/bin/env python3
"""The benchmark's own self-test.

    python3 perfbench/selftest.py          # arithmetic in stats.py
    python3 perfbench/selftest.py --jvm    # also the harness's fingerprint
                                           # and interval-union checks

Run from the repository root. Covers the percentile, fingerprint and
span self-time arithmetic the reported metrics rest on.
"""
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def op(query, wall, setup=0, pass_=0, ok=True, fp="1:1", kind="read", gen=0,
       traced=False, construct=0.0, plan=0.0, layers=None, extra=None, chain=0):
    return {"query": query, "wall": wall, "setup": setup, "pass": pass_, "ok": ok,
            "fp": fp, "kind": kind, "gen": gen, "traced": traced,
            "construct": construct, "plan": plan, "exec": wall - construct - plan,
            "layers": layers, "extra": extra or {}, "chain": chain, "err": ""}


class Percentile(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(stats.percentile(xs, 0), 1)
        self.assertAlmostEqual(stats.percentile(xs, 100), 10)

    def test_order_and_single_value(self):
        self.assertAlmostEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertAlmostEqual(stats.percentile([7.5], 90), 7.5)
        self.assertAlmostEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class Fingerprints(unittest.TestCase):
    def test_mismatch_against_first_success(self):
        ops = [op("a", 1, setup=1, fp="5:10"), op("a", 1, fp="5:10"),
               op("a", 1, fp="5:11"), op("b", 1, setup=1, ok=False, fp=""),
               op("b", 1, fp="2:3"), op("b", 1, fp="2:3")]
        self.assertEqual(stats.fingerprint_failures(ops), [2])

    def test_generations_compare_separately(self):
        ops = [op("a", 1, fp="1:1", gen=0), op("a", 1, fp="2:2", gen=1),
               op("a", 1, fp="2:2", gen=1), op("r", 1, kind="refresh", fp="")]
        self.assertEqual(stats.fingerprint_failures(ops), [])

    def test_failures_count_in_end_to_end(self):
        res = {"setup_s": 3.0, "peak_rss_mb": 100.0,
               "ops": [op("a", 9, setup=1, fp="1:1"), op("a", 1, fp="1:1"),
                       op("a", 2, fp="1:2"), op("b", 3, ok=False, fp="")]}
        m, attempted, failed = stats.end_to_end(res)
        self.assertEqual(attempted, 3)
        self.assertEqual(len(failed), 2)
        # failed ops keep their time: one pass of 1 + 2 + 3 seconds
        self.assertAlmostEqual(m["pass_s"], 6.0)
        self.assertAlmostEqual(m["ops_per_s"], 0.5)


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            {"id": 0, "name": "op", "start": 0.0, "end": 10.0, "parent": -1},
            {"id": 1, "name": "construct", "start": 0.0, "end": 4.0, "parent": 0},
            {"id": 2, "name": "execute", "start": 4.0, "end": 9.0, "parent": 0},
            {"id": 3, "name": "inner", "start": 5.0, "end": 6.0, "parent": 2},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 1.0)
        self.assertAlmostEqual(st[1], 4.0)
        self.assertAlmostEqual(st[2], 4.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)
        by = stats.self_time_by_name(spans)
        self.assertAlmostEqual(by["execute"], 4.0)


class PerLayer(unittest.TestCase):
    def test_per_pass_means_and_overhead(self):
        lay = {"jobs": 3, "construct_jobs": 1, "busy_s": 0.5, "task_dur_s": 2.0,
               "run_s": 1.5}
        ops = [op("a", 1.0, pass_=0), op("a", 1.2, pass_=1, traced=True, layers=lay,
                                        construct=0.4, plan=0.1),
               op("a", 1.2, pass_=2, traced=True, layers=lay, construct=0.4),
               op("a", 1.0, pass_=3)]
        cycle = [{"append_s": 2.0, "compact_s": 0.0, "compacted": 0.0, "bytes_written": 300.0,
                  "batch_bytes": 100.0, "wall_s": 2.5},
                 {"append_s": 4.0, "compact_s": 3.0, "compacted": 1.0, "bytes_written": 900.0,
                  "batch_bytes": 100.0, "wall_s": 7.5}]
        res = {"ops": ops, "cores": 4, "storage_peak_mb": 0.0, "micro": {},
               "build_s": 9.0, "materialize_refreshes": cycle}
        m = stats.per_layer(res)
        self.assertAlmostEqual(m["scheduler.jobs"], 3)
        self.assertAlmostEqual(m["operators.construct_s"], 0.4)
        self.assertAlmostEqual(m["operators.construct_share"], 0.4 / 1.2)
        self.assertAlmostEqual(m["catalyst.plan_s"], 0.05)
        self.assertAlmostEqual(m["scheduler.driver_gap_s"], 0.7)
        self.assertAlmostEqual(m["scheduler.task_overhead_s"], 0.5)
        self.assertAlmostEqual(m["scheduler.core_busy_ratio"], 2.0 / (1.2 * 4))
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.2)
        self.assertEqual(stats.count_spread(res, "jobs"), (3, 3))
        # no serving loop: the Materialize figures come from the one cycle
        self.assertAlmostEqual(m["materialize.append_s"], 3.0)
        self.assertAlmostEqual(m["materialize.compact_s"], 3.0)
        self.assertAlmostEqual(m["materialize.bytes_written"], 600.0)
        self.assertAlmostEqual(m["materialize.write_amp"], 6.0)
        self.assertAlmostEqual(m["materialize.refresh_p50_s"], 5.0)
        self.assertAlmostEqual(m["materialize.build_s"], 9.0)


    def test_overhead_compares_like_refreshes(self):
        # serving: pass 0's refresh only appends; 1-3 also compact
        def refresh(pass_, compacted, traced):
            extra = {"append_s": 2.0, "compact_s": 3.0 if compacted else 0.0,
                     "compacted": float(compacted), "bytes_written": 1.0,
                     "batch_bytes": 1.0}
            return op("refresh", 5.0 if compacted else 2.0, pass_=pass_, kind="refresh",
                      traced=traced, extra=extra)
        ops = [op("a", 1.0, pass_=0), refresh(0, False, False),
               op("a", 1.1, pass_=1, traced=True), refresh(1, True, True),
               op("a", 1.1, pass_=2, traced=True), refresh(2, True, True),
               op("a", 1.0, pass_=3), refresh(3, True, False)]
        res = {"ops": ops, "cores": 4, "storage_peak_mb": 0.0, "micro": {},
               "build_s": 1.0, "materialize_refreshes": []}
        m = stats.per_layer(res)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 6.1 / 6.0)
        self.assertAlmostEqual(m["materialize.compact_s"], 3.0)
        self.assertAlmostEqual(m["materialize.refresh_p50_s"], 5.0)


def jvm_selftest():
    import build
    classes, jars = build.build(os.getcwd())
    work = os.path.join(os.getcwd(), ".bench_build", "selftest-tmp")
    os.makedirs(work, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
    import run
    cmd += [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main", "--selftest"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    print(r.stdout.strip())
    return r.returncode


if __name__ == "__main__":
    want_jvm = "--jvm" in sys.argv
    argv = [a for a in sys.argv if a != "--jvm"]
    result = unittest.main(argv=argv, exit=False).result
    code = 0 if result.wasSuccessful() else 1
    if want_jvm:
        code = code or jvm_selftest()
    sys.exit(code)
