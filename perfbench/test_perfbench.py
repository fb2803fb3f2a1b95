"""Tests of the benchmark's own logic: input generation, statistics, span
arithmetic and the output checkers. Run from the checkout root with

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need no JVM and no build.
"""
import filecmp
import json
import math
import os
import shutil
import tempfile
import unittest

import checks
import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def _tmp():
    os.makedirs(os.path.join(HERE, "runs"), exist_ok=True)
    return tempfile.mkdtemp(dir=os.path.join(HERE, "runs"), prefix="test-")


class InputsTest(unittest.TestCase):
    def setUp(self):
        self.dir = _tmp()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def test_same_seed_gives_byte_identical_inputs(self):
        for name, make in gen.GENERATORS.items():
            a, b, c = (os.path.join(self.dir, f"{name}-{x}") for x in "abc")
            make(7, a)
            make(7, b)
            make(8, c)
            cmp = filecmp.dircmp(a, b)
            files = sorted(os.path.relpath(os.path.join(r, f), a)
                           for r, _, fs in os.walk(a) for f in fs)
            self.assertTrue(files, name)
            for f in files:
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), f"{name}/{f}")
            self.assertFalse(cmp.left_only or cmp.right_only, name)
            self.assertTrue(any(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f),
                                                shallow=False) for f in files),
                            f"{name}: another seed gave the same inputs")


class StatsTest(unittest.TestCase):
    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(range(19)))
        for n, want in ((20, 50), (39, 50), (40, 75), (60, 75), (100, 90), (199, 90),
                        (200, 95), (1000, 99), (10000, 99.9)):
            xs = [float(i) for i in range(n)]
            p, v = stats.tail_percentile(reversed(xs))
            self.assertEqual(p, want, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            higher = [q for q in stats.LADDER if q > p]
            if higher:  # the next percentile up has fewer than ten beyond it
                self.assertLess(n - math.ceil(n * higher[0] / 100 - 1e-9), 10, n)

    def test_self_time_subtracts_covered_part_once(self):
        spans = {
            "op": {"start": 0.0, "end": 10.0, "parent": None},
            "a": {"start": 1.0, "end": 3.0, "parent": "op"},
            "b": {"start": 2.0, "end": 5.0, "parent": "op"},   # overlaps a
            "c": {"start": 8.0, "end": 12.0, "parent": "op"},  # runs past op
            "a1": {"start": 1.5, "end": 2.5, "parent": "a"},
        }
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["op"], 10 - (4 + 2))
        self.assertAlmostEqual(got["a"], 2 - 1)
        self.assertAlmostEqual(got["b"], 3)
        self.assertAlmostEqual(got["c"], 4)
        self.assertAlmostEqual(got["a1"], 1)


class HeadlineCheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = _tmp()
        self.inputs = os.path.join(self.dir, "in")
        gen.headline_tables(3, self.inputs)
        self.results = os.path.join(self.dir, "results")
        os.makedirs(self.results)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def _result(self, name, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(f"{self.results}/{name}")
        pq.write_table(pa.table(rows), f"{self.results}/{name}/part-0.parquet")

    def test_rejects_a_wrong_answer_and_a_changed_fingerprint(self):
        with open(f"{self.results}/oracle_sql.json", "w") as f:
            json.dump({"good": "SELECT count(*) AS n FROM orders",
                       "bad": "SELECT count(*) AS n FROM orders"}, f)
        self._result("good", {"n": [gen.SIZES["orders"]]})
        self._result("bad", {"n": [gen.SIZES["orders"] - 1]})
        ops = [{"id": 1, "name": "good", "ok": True, "fingerprint": "1:5"},
               {"id": 2, "name": "bad", "ok": True, "fingerprint": "1:6"},
               {"id": 3, "name": "good", "ok": True, "fingerprint": "1:5"},
               {"id": 4, "name": "good", "ok": True, "fingerprint": "1:9"}]
        bad = checks.check_headline(self.inputs, self.results, ops)
        self.assertEqual(sorted(bad), [2, 4])

    def test_compare_rows_tolerates_order_and_last_digit_only(self):
        self.assertIsNone(checks.compare_rows(
            ["a", "b"], [(1, 0.1 + 0.2), (2, None)], ["b", "a"], [(None, 2), (0.3, 1)]))
        self.assertIsNotNone(checks.compare_rows(["a"], [(0.3001,)], ["a"], [(0.3,)]))


class PipelineCheckTest(unittest.TestCase):
    SEED = 5

    def setUp(self):
        self.dir = _tmp()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def _dump(self, op, table, rows):
        with open(f"{self.dir}/op{op}_{table}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps({k: v for k, v in r.items() if v is not None}) + "\n")

    def _ops_with_model_output(self, region, ticks, reference=False):
        model = checks.pipeline_model(self.SEED, region, max(ticks), reference)
        ops = []
        for i, k in enumerate(ticks, start=1):
            stage, result = model[k]
            self._dump(i, "stage", stage)
            self._dump(i, "result", result)
            ops.append({"id": i, "name": f"{region}@{k}", "ok": True})
        return ops, model

    def test_accepts_the_model_and_rejects_planted_errors(self):
        for reference in (False, True):
            for region in ("texas", "us"):
                ops, model = self._ops_with_model_output(region, [1, 2], reference)

                def check():
                    return checks.check_pipeline(self.SEED, self.dir, ops, reference)
                self.assertEqual(check(), {}, (region, reference))
                stage, result = model[2]
                self._dump(2, "result", result[1:])  # one row lost
                self.assertEqual(list(check()), [2])
                changed = [dict(r) for r in stage]
                changed[0]["entry_title"] = "x"
                self._dump(2, "stage", changed)
                self._dump(2, "result", result)
                self.assertEqual(list(check()), [2])

    def test_append_keeps_rows_that_aged_out(self):
        # Loading only the window's rows (no append) drops aged-out rows;
        # the reference model keeps them, so that result must be rejected
        # by tick 5. The overwrite model expects exactly the window's rows.
        ops, model = self._ops_with_model_output("texas", [1, 2, 3, 4, 5], reference=True)
        stage, result = model[5]
        asof = result[-1]["AS_OF_DT"]
        window_only = [r for r in result if r["AS_OF_DT"] == asof]
        self.assertLess(len(window_only), len(result))
        self._dump(5, "result", window_only)
        self.assertEqual(list(checks.check_pipeline(self.SEED, self.dir, ops, True)), [5])
        _, overwrite = checks.pipeline_model(self.SEED, "texas", 5)[5]
        self.assertEqual(checks._multiset_diff(window_only, overwrite), None)
        self.assertEqual(list(checks.check_pipeline(self.SEED, self.dir, ops)), [])

    def test_html_summary_cleaning(self):
        self.assertEqual(checks.html_to_text("<p>a  b</p>\n<b>c</b> &amp; d<br/>"), "a b c & d")
        self.assertEqual(checks.html_to_text("   "), "")


class StreamCheckTest(unittest.TestCase):
    def test_rejects_kept_duplicates_and_dropped_docs(self):
        batches = list(gen.stream_batches(9))[:4]
        ops = [{"id": i, "name": f"batch_{i:03d}.jsonl", "ok": True} for i in (1, 2, 3)]
        survivors = [i for _, _, fresh in batches for i in fresh]
        self.assertEqual(checks.check_stream(9, survivors, ops), {})
        fresh2 = set(batches[2][2])
        near_dup = next(d["id"] for d in batches[2][1] if d["id"] not in fresh2
                        and d["id"] > max(batches[1][2]))
        self.assertEqual(list(checks.check_stream(9, survivors + [near_dup], ops)), [2])
        self.assertEqual(list(checks.check_stream(9, survivors[1:], ops)), [1, 2, 3])
        repolled = next(d["id"] for d in batches[3][1] if d["id"] < min(batches[3][2])
                        and d["id"] in set(batches[0][2]))
        self.assertIn(3, checks.check_stream(9, survivors + [repolled], ops))
        missing = batches[3][2][0]
        self.assertEqual(list(checks.check_stream(
            9, [i for i in survivors if i != missing], ops)), [3])


if __name__ == "__main__":
    unittest.main()
