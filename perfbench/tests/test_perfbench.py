"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        value, pct, n = stats.tail([float(i) for i in range(1, 101)])
        # rank 90 of 100 has exactly ten samples beyond it
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(stats.tail(xs), (2.0, 100.0 * 2 / 12, 12))

    def test_too_few_samples_has_no_tail(self):
        self.assertEqual(stats.tail([1.0] * 10), (None, None, 10))
        self.assertEqual(stats.tail([1.0] * 11)[0], 1.0)


class FailedOps(unittest.TestCase):
    def ops(self, ms, failed):
        return ([{"ms": m, "ok": True} for m in ms]
                + [{"ms": 0.001, "ok": False} for _ in range(failed)])

    def test_failed_op_is_never_fast(self):
        s = stats.latency_summary(self.ops([100.0, 200.0, 300.0], failed=2))
        self.assertEqual(s["p50_ms"], 200.0)
        self.assertEqual((s["ok"], s["failed"]), (3, 2))

    def test_failed_ops_count_as_missing_in_the_tail(self):
        ok = [float(i) for i in range(1, 21)]
        clean = stats.latency_summary(self.ops(ok, failed=0))
        with_failures = stats.latency_summary(self.ops(ok, failed=5))
        # five ops beyond every sample push the tail rank up, never down
        self.assertEqual(clean["tail_ms"], 10.0)
        self.assertEqual(with_failures["tail_ms"], 15.0)
        self.assertEqual(with_failures["n"], 25)

    def test_tail_on_a_failed_op_is_missing(self):
        s = stats.latency_summary(self.ops([1.0] * 5, failed=12))
        self.assertIsNone(s["tail_ms"])

    def test_failed_frac_counts_every_attempt(self):
        raw = {"ops": [{"cls": "curate", "ms": 10.0, "ok": True, "result": {"docs": 100}},
                       {"cls": "curate", "ms": 1.0, "ok": False, "result": {}}],
               "extra": {"measured_s": 10.0, "peak_rss_mb": 500.0,
                         "first_op_epoch_s": 1030.0}}
        m, _, attempted, failed = run.end_to_end("curate", raw, started=1000.0)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(m["failed_frac"][0], 0.5)
        self.assertEqual(m["op_p50_ms"][0], 10.0)
        self.assertEqual(m["setup_s"][0], 30.0)


class Checks(unittest.TestCase):
    """A failed op, or a class or shard without a successful op, fails the run."""

    def failed(self, checks):
        return [name for name, ok, _ in checks if not ok]

    def curate_truth(self):
        return {"shards": {0: {"ids": [1, 2, 3], "families": [[1, 2]]},
                           1: {"ids": [4, 5], "families": []}}}

    def curate_op(self, shard, kept, ok=True):
        return {"cls": "curate", "ms": 5.0, "ok": ok, "err": "" if ok else "boom",
                "result": {"shard": shard, "kept": kept} if ok else {}}

    def test_clean_run_passes(self):
        raw = {"ops": [self.curate_op(0, [1, 3]), self.curate_op(1, [4, 5])]}
        self.assertEqual(self.failed(run.check_results("curate", raw, self.curate_truth())), [])

    def test_a_failed_op_fails_the_run(self):
        raw = {"ops": [self.curate_op(0, [1, 3]), self.curate_op(1, [4, 5]),
                       self.curate_op(0, None, ok=False)]}
        self.assertEqual(self.failed(run.check_results("curate", raw, self.curate_truth())),
                         ["every op succeeded"])

    def test_a_shard_without_a_successful_run_fails_the_run(self):
        raw = {"ops": [self.curate_op(0, [1, 3]), self.curate_op(1, None, ok=False)]}
        self.assertEqual(self.failed(run.check_results("curate", raw, self.curate_truth())),
                         ["every op succeeded", "curate: shard 1 ran"])

    def test_a_serve_class_without_a_successful_query_fails_the_run(self):
        ops = [{"cls": c, "ms": 5.0, "ok": True, "err": "", "result": {"plan": i, "rows": 1}}
               for i, c in enumerate(run.CLASSES["serve"]) if c != "meta"]
        raw = {"ops": ops, "extra": {}}
        truth = {"expected": [{"rows": 1}] * len(ops), "mor": {}}
        self.assertEqual(self.failed(run.check_results("serve", raw, truth)),
                         ["serve: meta results match the generator's answers"])

    def test_serve_p50_is_the_query_classes_only(self):
        ops = [{"cls": c, "ms": ms, "ok": True, "result": {}}
               for c, ms in zip(run.CLASSES["serve"], [10.0, 10.0, 10.0, 10.0, 10.0, 9999.0])]
        raw = {"ops": ops, "extra": {"measured_s": 1.0, "peak_rss_mb": 1.0,
                                     "first_op_epoch_s": 1.0}}
        m, _, _, _ = run.end_to_end("serve", raw, started=0.0)
        self.assertAlmostEqual(m["op_p50_ms"][0], 10.0)
        self.assertEqual(m["meta_p50_ms"][0], 9999.0)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end, op=1, name="s"):
        return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "op": op,
                "name": name}

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40), self.span(3, 1, 30, 60),  # overlap: 10..60
                 self.span(4, 1, 80, 90),
                 self.span(5, 2, 15, 20)]  # grandchild: not subtracted from 1
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[5], 5)

    def test_children_are_clipped_to_the_parent(self):
        st = stats.self_times([self.span(1, 0, 0, 10), self.span(2, 1, 5, 50)])
        self.assertEqual(st[1], 5)

    def test_per_op_layers_attribute_counters(self):
        spans = [self.span(1, 0, 0, 2_000_000, name="op.x"),
                 self.span(2, 1, 0, 1_000_000, name="scan.x.exec")]
        layers = stats.per_op_layers(spans, {"2": {"jobs": 3, "tasks": 12}})
        self.assertEqual(layers[1]["scan.x.exec"]["jobs"], 3)
        self.assertEqual(layers[1]["op.x"]["self_ms"], 1.0)
        self.assertEqual(stats.op_totals(layers[1])["tasks"], 12)


class Generators(unittest.TestCase):
    def files(self, root):
        out = {}
        for d, _, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet") or f.endswith(".tsv") or f.endswith(".properties"):
                    with open(os.path.join(d, f), "rb") as fh:
                        out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
        return out

    def test_same_seed_same_inputs(self):
        for workload in ("serve", "curate"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                ra, rb = gen.generate(workload, 7, a), gen.generate(workload, 7, b)
                self.assertEqual(ra["digest"], rb["digest"], workload)
                self.assertEqual(self.files(a), self.files(b), workload)

    def test_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertNotEqual(gen.generate("curate", 7, a)["digest"],
                                gen.generate("curate", 8, b)["digest"])

    def test_meta_is_a_low_weight_class(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("serve", 3, d)
            with open(os.path.join(d, "plan.tsv")) as f:
                classes = [line.rstrip("\n").split("\t")[1] for line in f if line.strip()]
        timed = classes[:-gen.SERVE["warm_rounds"] * (len(gen.SERVE_ROUND) + 1)]
        self.assertEqual(timed[len(gen.SERVE_ROUND)], "meta")
        self.assertEqual(timed.count("meta"), gen.SERVE["rounds"] // gen.SERVE["meta_every"])
        self.assertEqual(timed.count("series_read"), gen.SERVE["rounds"])

    def test_planted_families_are_disjoint_members_of_their_shard(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.generate("curate", 3, d)
        for shard in truth["shards"].values():
            members = [i for f in shard["families"] for i in f]
            self.assertEqual(len(members), len(set(members)))
            self.assertTrue(set(members) <= set(shard["ids"]))
            self.assertTrue(all(len(f) >= 2 for f in shard["families"]))


if __name__ == "__main__":
    unittest.main()
