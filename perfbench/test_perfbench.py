"""Tests of the benchmark's own code. From the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

The Python tests cover the percentile rule, the seeded panel draw, the
compare verdicts and its check of the calibration probe. JvmSelfTest builds the program and runs perfbench.Main
selftest on the sf0.001 fixture: fingerprints that ignore row order, and
build / execute job attribution that repeats exactly on registry ids.
"""

import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import lib  # noqa: E402


def pool(n=60):
    mods = ["A", "B", "C", "D", "E"]
    return [{"id": f"q{i:03d}", "module": mods[i % len(mods)], "wall_s": 0.1 + 0.01 * i}
            for i in range(n)]


# q007 is the only carrier of "rare"; every fourth id carries "common".
CARRIERS = dict({f"q{i:03d}": ["common"] for i in range(0, 60, 4)}, q007=["rare"])


def draw(p, seed, size, ops=()):
    return lib.draw_panel(p, seed, size, CARRIERS, list(ops))


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(lib.percentile(xs, 90), 90)      # 10 samples beyond
        self.assertIsNone(lib.percentile(xs[:99], 90))    # only 9 beyond

    def test_median_needs_ten_beyond(self):
        self.assertEqual(lib.percentile(list(range(20)), 50), 9)
        self.assertIsNone(lib.percentile(list(range(19)), 50))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 30
        self.assertEqual(lib.percentile(xs, 90), lib.percentile(sorted(xs), 90))

    def test_empty(self):
        self.assertIsNone(lib.percentile([], 50))


class SeededDraw(unittest.TestCase):
    def test_same_seed_same_panel(self):
        self.assertEqual(draw(pool(), 7, 8), draw(pool(), 7, 8))

    def test_pool_order_does_not_matter(self):
        self.assertEqual(draw(pool(), 7, 8), draw(pool()[::-1], 7, 8))

    def test_seeds_differ(self):
        panels = {tuple(sorted(draw(pool(), s, 8))) for s in range(10)}
        self.assertGreater(len(panels), 5)

    def test_one_id_per_cost_band(self):
        p = pool()
        ranked = sorted(p, key=lambda r: r["wall_s"])
        band = {r["id"]: b for b in range(8)
                for r in ranked[b * len(p) // 8:(b + 1) * len(p) // 8]}
        for s in range(20):
            got = draw(p, s, 8, ("rare", "common"))
            self.assertEqual(len(got), 8)
            self.assertEqual(sorted(band[i] for i in got), list(range(8)))

    def test_spreads_over_modules(self):
        got = draw(pool(), 3, 5)
        mods = {r["id"]: r["module"] for r in pool()}
        self.assertEqual(len({mods[i] for i in got}), 5)

    def test_every_panel_holds_a_carrier_of_each_op(self):
        for s in range(30):
            got = draw(pool(), s, 6, ("rare", "common"))
            self.assertIn("q007", got)
            self.assertTrue(any("common" in CARRIERS.get(i, ()) for i in got))
            self.assertEqual(got, draw(pool(), s, 6, ("rare", "common")))

    def test_seeded_order(self):
        ids = [f"q{i}" for i in range(10)]
        self.assertEqual(lib.seeded_order(ids, 4), lib.seeded_order(ids, 4))
        self.assertEqual(sorted(lib.seeded_order(ids, 4)), ids)


class Verdicts(unittest.TestCase):
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_improved(self):
        new = [x * 0.8 for x in self.base]
        self.assertEqual(lib.verdict(self.base, new, "lower", 0.1, 10, 10), "improved")

    def test_worse(self):
        new = [x * 1.3 for x in self.base]
        self.assertEqual(lib.verdict(self.base, new, "lower", 0.1, 0, 10), "worse")

    def test_within_bound(self):
        new = [x * 1.02 for x in self.base]
        self.assertEqual(lib.verdict(self.base, new, "lower", 0.1, 3, 10), "within bound")

    def test_unresolved_when_base_spreads_past_bound(self):
        wide = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 7.0]
        self.assertEqual(lib.verdict(wide, wide, "lower", 0.1, 5, 10), "unresolved")

    def test_higher_is_better(self):
        new = [x * 1.3 for x in self.base]
        self.assertEqual(lib.verdict(self.base, new, "higher", 0.1, 10, 10), "improved")


class ProbeMoved(unittest.TestCase):
    @staticmethod
    def recs(probes):
        return [{"stamp": {"workload": "w", "trace": 0}, "calib_s": [p, p + 0.05]}
                for p in probes]

    def test_same_host_probe_stays(self):
        import compare
        base = self.recs([0.100, 0.102, 0.099, 0.104, 0.101])
        new = self.recs([0.101, 0.100, 0.103, 0.102, 0.099])
        self.assertFalse(compare.probe_moved(base, new, "w", 0))

    def test_probe_slowed_past_the_spread(self):
        import compare
        base = self.recs([0.100, 0.102, 0.099, 0.104, 0.101])
        new = self.recs([0.120, 0.118, 0.121, 0.119, 0.122])
        self.assertTrue(compare.probe_moved(base, new, "w", 0))


class Metrics(unittest.TestCase):
    rec = {"kind": "registry", "t_first_call_ms": 12500, "retained_heap_mb": 300.0,
           "materialize_blocks_mb": 1.5, "calib_s": [lib.CALIB_REF_S, lib.CALIB_REF_S],
           "passes": [{"wall_s": 3.0, "layers": {"scheduler.jobs": 40}},
                      {"wall_s": 2.0, "layers": {"scheduler.jobs": 40}},
                      {"wall_s": 2.5, "layers": {"scheduler.jobs": 40}}],
           "calls": [{"id": "a", "build_s": 0.5, "exec_s": 0.5, "ok": True},
                     {"id": "b", "build_s": 1.0, "exec_s": 1.0, "ok": False}]}

    def test_end_to_end(self):
        m = lib.end_to_end(self.rec, 10.0, lib.host_factor(self.rec))
        self.assertAlmostEqual(m["setup_s"], 2.5)
        self.assertEqual(m["panel_s"], 2.5)
        self.assertEqual(m["call_p50_s"], 1.5)

    def test_slower_host_scales_timings_down(self):
        slow = dict(self.rec, calib_s=[2 * lib.CALIB_REF_S, 2 * lib.CALIB_REF_S])
        m = lib.end_to_end(slow, 10.0, lib.host_factor(slow))
        self.assertAlmostEqual(m["panel_s"], 1.25)
        self.assertEqual(m["retained_heap_mb"], 300.0)
        self.assertEqual(lib.end_to_end(slow, 10.0, 1.0)["panel_s"], 2.5)

    def test_per_layer_defaults_to_zero(self):
        m = lib.per_layer(self.rec, ["scheduler.jobs", "lake.output_mb", "materialize.blocks_mb"])
        self.assertEqual(m, {"scheduler.jobs": 40, "lake.output_mb": 0.0,
                             "materialize.blocks_mb": 1.5})

    def test_counts(self):
        self.assertEqual(lib.counts(self.rec), (2, 1))


class JvmSelfTest(unittest.TestCase):
    def test_fingerprint_and_attribution(self):
        import build
        root = os.path.dirname(BENCH)
        cp = build.build(root)
        tmp = tempfile.mkdtemp(dir=build.build_dir(root))
        import run
        cmd = (["java", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"] + run.JAVA_OPTS
               + ["-cp", os.pathsep.join(cp), "perfbench.Main", "selftest",
                  f"data={os.path.join(BENCH, 'data', 'sf0.001')}"])
        env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_LOCAL_DIRS=tmp)
        r = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=600)
        lines = [l for l in r.stdout.splitlines() if l.startswith(("ok ", "FAIL ", "  "))]
        print("\n".join(lines))
        self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-2000:])
        self.assertFalse([l for l in lines if l.startswith("FAIL")])
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
