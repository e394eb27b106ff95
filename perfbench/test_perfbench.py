"""Self-tests of the benchmark harness (no JVM needed):

    python3 -m unittest perfbench/test_perfbench.py
"""

import hashlib
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import metrics  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for f in sorted(Path(d).iterdir()):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


class InputsTest(unittest.TestCase):
    def generate(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("replay_fit", seed, d)
            return digest(d)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.generate(7), self.generate(7))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.generate(7), self.generate(8))

    def test_graph_shape(self):
        ids, s, d = gen.power_law_digraph(3, 7_115, 103_689)
        self.assertEqual(len(ids), 7_115)
        self.assertEqual(len(s), 103_689)
        self.assertFalse((s == d).any(), "self-loop")
        self.assertEqual(len(set(zip(s.tolist(), d.tolist()))), len(s), "duplicate edge")

    def test_ssp_pairs_at_fixed_distance(self):
        ids, s, d = gen.power_law_digraph(3, 7_115, 103_689)
        with tempfile.TemporaryDirectory() as tmp:
            gen.write_ops(tmp, 3, ids, s, d)
            lines = (Path(tmp) / "ops.tsv").read_text().split("\n")
        pairs = [tuple(map(int, l.split("\t")[1:])) for l in lines if l.startswith("ssp")]
        self.assertEqual(len(pairs), gen.N_SSP)
        index = {v: i for i, v in enumerate(ids.tolist())}
        order = s.argsort(kind="stable")
        start = gen.np.searchsorted(s[order], gen.np.arange(len(ids) + 1))
        for a, b in pairs[:4]:
            self.assertEqual(gen.bfs_levels(start, d[order], index[a])[index[b]], gen.SSP_DIST)


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(99))
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(999), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(10_000), 99.9)

    def test_summary_omits_p90_below_100_samples(self):
        self.assertEqual(metrics.timing_summary([1.0, 2.0, 3.0]), {"n": 3, "p50": 2.0})
        s = metrics.timing_summary([float(i) for i in range(1, 101)])
        self.assertEqual(s["n"], 100)
        self.assertAlmostEqual(s["p90"], 90.1)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([5], 90), 5)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}

    def test_parent_minus_union_of_children(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60),   # overlaps 2: union is 10..60
                 self.span(4, 1, 80, 90),
                 self.span(5, 2, 15, 20)]   # grandchild: not the root's child
        selfs = metrics.self_times(spans)
        self.assertAlmostEqual(selfs[1], 100 - 50 - 10)
        self.assertAlmostEqual(selfs[2], 30 - 5)
        self.assertAlmostEqual(selfs[5], 5)

    def test_self_times_of_nested_spans_sum_to_root(self):
        spans = [self.span(1, 0, 0, 50), self.span(2, 1, 5, 25),
                 self.span(3, 1, 25, 45), self.span(4, 3, 30, 35)]
        self.assertAlmostEqual(sum(metrics.self_times(spans).values()), 50)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 5, 20)]
        self.assertAlmostEqual(metrics.self_times(spans)[1], 5)


class HostSpeedTest(unittest.TestCase):
    REF = [metrics.REF_PROBE_MS[k] for k in metrics.KERNELS]

    def probe(self, slowdown, sort_slowdown=None):
        times = [r * slowdown for r in self.REF]
        times[metrics.KERNELS.index("sort")] = self.REF[2] * (sort_slowdown or slowdown)
        return times

    def test_reference_speed_leaves_times_alone(self):
        self.assertAlmostEqual(metrics.speed_factor(self.probe(1.0), one_core=False), 1.0)

    def test_run_factor_is_the_median_probe(self):
        raw = {"probes": [self.probe(2.0), self.probe(4.0), self.probe(1.0)]}
        self.assertAlmostEqual(metrics.run_factor(raw, one_core=False), 0.5)

    def test_driver_only_op_follows_the_one_core_kernel(self):
        raw = {"probes": [self.probe(2.0, sort_slowdown=1.25)],
               "ops": [{"ms": 10.0, "jobs": 0}, {"ms": 10.0, "jobs": 3}]}
        self.assertEqual([round(x, 6) for x in metrics.scaled_ms(raw)],
                         [8.0, round(10 * (0.5 ** 3 * 0.8) ** 0.25, 6)])


class MetricNamesTest(unittest.TestCase):
    """The metrics a run prints are exactly those BENCHMARK.json declares."""

    @staticmethod
    def fake_raw():
        names = sorted({n for n, _ in metrics.SPAN_METRICS.values()} | {"op.ssp"})
        counters = {k: 1 for k, _ in metrics.SPARK_SUMS}
        spans = [dict(counters, id=i + 1, parent=0, trace=i + 1, name=n, start_ms=1.0,
                      end_ms=2.0, complete=True, peak_exec_mem_mb=1.0)
                 for i, n in enumerate(names)]
        ops = [{"type": k, "phase": "timed", "pass": 1, "ms": 1.0, "jobs": 1,
                "ok": True, "trace": 1}
               for k in ("load", "lookup", "khop", "ssp", "insert", "cc")]
        one_pass = {k: 1.0 for k in ("pass_s", "khop_first_ms")}
        return {"measure_start_ms": 0.0, "spans": spans, "ops": ops, "passes": [one_pass],
                "phases": [], "admitted": 1, "cores": 4, "measure_s": 1.0, "gc_ms": 1,
                "process_cpu_s": 1.0, "session_start_s": 1.0,
                "setup_rounds_s": [1.0, 1.0, 1.0, 1.0], "setup_traced": [True, True, False, True], "inserts_per_call": 32, "idle_heap_mb": 1.0,
                "unattributed_jobs": 0, "probes": [[1.0, 1.0, 1.0, 1.0]]}

    def declared(self, key):
        doc = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        return {m["name"]: m["unit"] for m in doc[key]}

    def test_end_to_end_names_and_units(self):
        self.assertEqual(dict(metrics.END_TO_END), self.declared("end_to_end"))
        self.assertEqual(set(metrics.end_to_end(self.fake_raw())), set(dict(metrics.END_TO_END)))

    def test_per_layer_names_and_units(self):
        got = {k: unit for k, (_, unit) in metrics.per_layer(self.fake_raw()).items()}
        self.assertEqual(got, self.declared("per_layer"))


if __name__ == "__main__":
    unittest.main()
