"""Unit tests of the runner's pure logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_exactly_ten_beyond_at_the_fixed_count(self):
        for fixed in (11, 20, 40, 100):
            xs = list(range(fixed))
            t = stats.tail(xs, fixed)
            self.assertEqual(sum(1 for x in xs if x > t), 10, fixed)

    def test_at_least_ten_beyond_with_more_samples(self):
        for fixed in (20, 40):
            for n in range(fixed, 5 * fixed):
                xs = list(range(n))
                beyond = sum(1 for x in xs if x > stats.tail(xs, fixed))
                self.assertGreaterEqual(beyond, 10, (fixed, n))

    def test_level_is_fixed_by_the_count_not_the_run(self):
        self.assertAlmostEqual(stats.tail_level(20), 0.5)
        self.assertAlmostEqual(stats.tail_level(100), 0.9)
        # 200 samples at a fixed count of 100: the p90, 20 beyond
        xs = list(range(200))
        self.assertEqual(stats.tail(xs, 100), 179)

    def test_short_runs_have_no_tail(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(39)), 40)

    def test_count_must_leave_room_for_ten(self):
        with self.assertRaises(ValueError):
            stats.tail_level(10)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, layer, a, b):
        return {"id": i, "parent": parent, "layer": layer, "start": a, "end": b}

    def test_parent_keeps_its_span_minus_the_union_of_children(self):
        spans = [self.span(0, -1, "driver", 0, 10),
                 self.span(1, 0, "pipelines", 1, 9),
                 self.span(2, 1, "table", 2, 6),
                 self.span(3, 1, "sources", 4, 8)]
        st = stats.self_times(spans)
        # pipelines: 8 ms span minus the 6 ms its overlapping children cover
        self.assertAlmostEqual(st["pipelines"], 2.0)
        self.assertAlmostEqual(st["driver"], 2.0)
        # the 2 ms where both children run is split between them
        self.assertAlmostEqual(st["table"], 3.0)
        self.assertAlmostEqual(st["sources"], 3.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_layers_sum_to_the_wall_time_with_a_thread_pool(self):
        spans = [self.span(0, -1, "driver", 0, 100),
                 self.span(1, 0, "pipelines", 5, 95)]
        spans += [self.span(2 + i, 1, layer, 10 + i, 60 + 10 * i)
                  for i, layer in enumerate(("exec", "table", "exec"))]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 100.0)

    def test_nested_spans_of_one_layer_add_up(self):
        spans = [self.span(0, -1, "driver", 0, 4), self.span(1, 0, "table", 0, 4),
                 self.span(2, 1, "table", 1, 2)]
        self.assertEqual(stats.self_times(spans), {"table": 4.0})


class UnitsTest(unittest.TestCase):
    @staticmethod
    def sample(i, group, traced, secs, read=False):
        return {"id": i, "group": group, "traced": traced, "read": read, "ok": True,
                "rows": 1, "t0": 0, "t1": int(secs * 1e9)}

    def test_a_traced_run_keeps_its_two_passes_over_the_same_rounds_apart(self):
        spec = {"unit_group": True}
        samples = [self.sample(i, i // 2 % 2, i >= 4, 1.0 + (i >= 4)) for i in range(8)]
        samples.append(self.sample(8, 0, False, 5.0, read=True))
        units = run.units_of(samples, spec)
        self.assertEqual(sorted((u["traced"], u["secs"]) for u in units),
                         [(False, 2.0), (False, 2.0), (True, 4.0), (True, 4.0)])


def tree(root):
    """{relative path: bytes} of every file under root."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = open(p, "rb").read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            for w in gen.WORKLOADS:
                a, b, c = (os.path.join(d, w, x) for x in "abc")
                gen.generate(w, 5, a)
                gen.generate(w, 5, b)
                gen.generate(w, 6, c)
                self.assertEqual(tree(a), tree(b), w)
                ta, tc = tree(a), tree(c)
                self.assertEqual(ta.keys(), tc.keys(), w)
                self.assertNotEqual({k: v for k, v in ta.items() if k != "manifest.json"},
                                    {k: v for k, v in tc.items() if k != "manifest.json"}, w)

    def test_manifest_records_the_held_out_seed(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("lake_dml", 3, d)
            self.assertEqual(m["seed"], 3)
            self.assertEqual(m["held_out_seed"], gen.HELD_OUT_SEED)
            self.assertNotEqual(m["held_out_seed"], 3)


if __name__ == "__main__":
    unittest.main()
