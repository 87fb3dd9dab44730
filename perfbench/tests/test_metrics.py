"""Unit checks of the benchmark's metric arithmetic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import metrics  # noqa: E402
from metrics import MB  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        for n in range(21, 400):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10, n)
            self.assertLess(n * (100 - (p + 1)) / 100, 10, n)

    def test_omitted_at_or_below_the_median(self):
        for n in (0, 1, 5, 10, 20):
            self.assertIsNone(metrics.tail_percentile(n))
        self.assertEqual(metrics.tail_percentile(21), 52)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(metrics.percentile(range(101), 90), 90)


class SelfTime(unittest.TestCase):
    def span(self, a, b):
        return {"start_ms": a, "end_ms": b}

    def test_sequential_children(self):
        kids = [self.span(10, 20), self.span(30, 45)]
        self.assertEqual(metrics.self_time_ms(self.span(0, 100), kids), 75)

    def test_overlapping_children_count_once(self):
        kids = [self.span(10, 40), self.span(20, 50), self.span(45, 60)]
        self.assertEqual(metrics.self_time_ms(self.span(0, 100), kids), 50)

    def test_children_are_clipped_to_the_parent(self):
        kids = [self.span(-10, 10), self.span(90, 150)]
        self.assertEqual(metrics.self_time_ms(self.span(0, 100), kids), 80)

    def test_no_children(self):
        self.assertEqual(metrics.self_time_ms(self.span(5, 9), []), 4)


def job(i, t0, t1, module="harness"):
    return {"id": i, "submit_ms": t0, "end_ms": t1, "site": f"job{i}", "module": module}


SAMPLE = {"op": "q", "pass": 1, "start_ms": 0, "end_ms": 100, "phases": [
    {"name": "construct", "seconds": 0.04, "start_ms": 0, "end_ms": 40},
    {"name": "plan", "seconds": 0.01, "start_ms": 40, "end_ms": 50},
    {"name": "exec", "seconds": 0.05, "start_ms": 50, "end_ms": 100}]}


class Spans(unittest.TestCase):
    def test_jobs_attach_to_the_phase_that_launched_them(self):
        jobs = [job(1, 5, 15, "Tables.scala"), job(2, 52, 90), job(3, 200, 210)]
        got = [(i, p, j["id"]) for i, p, j in metrics.attribute_jobs([SAMPLE], jobs)]
        self.assertEqual(got, [(0, "construct", 1), (0, "exec", 2)])

    def test_span_tree_and_self_times(self):
        jobs = [job(1, 5, 15, "Tables.scala"), job(2, 20, 30), job(3, 52, 90)]
        spans = {s["id"]: s for s in metrics.build_spans([SAMPLE], jobs)}
        self.assertEqual(spans["op0"]["self_ms"], 0)
        self.assertEqual(spans["op0.construct"]["self_ms"], 20)
        self.assertEqual(spans["op0.plan"]["self_ms"], 10)
        self.assertEqual(spans["op0.exec"]["self_ms"], 12)
        self.assertEqual(spans["job3"]["parent"], "op0.exec")


def full_job(i, t0, t1, **metrics_):
    j = dict(job(i, t0, t1), stages=1, tasks=1, run_ms=0, gc_ms=0,
             sched_delay_ms=0, fetch_wait_ms=0, input_bytes=0,
             shuffle_read_bytes=0, shuffle_write_bytes=0, spill_mem_bytes=0,
             spill_disk_bytes=0, output_bytes=0, output_records=0,
             peak_task_mem_bytes=0, task_shuffle_reads=[])
    j.update(metrics_)
    return j


class Sinks(unittest.TestCase):
    """The write path's metrics come from what the merge's jobs wrote,
    not from the size of the table it left behind."""

    def record(self, merge_jobs):
        batch = {"op": "batch_000", "pass": 1, "traced": True, "seconds": 0.3,
                 "start_ms": 0, "end_ms": 300, "pinned_rdds": 0, "index_builds": 0,
                 "rows": 5000, "rows_in": 100, "bytes_in": 4000,
                 "table_bytes": 10 * MB, "files_written": 2, "phases": [
                     {"name": "read", "seconds": 0.1, "start_ms": 0, "end_ms": 100},
                     {"name": "merge", "seconds": 0.1, "start_ms": 100, "end_ms": 200},
                     {"name": "fresh", "seconds": 0.1, "start_ms": 200, "end_ms": 300}]}
        fresh = full_job(9, 250, 260, output_bytes=1, output_records=1)
        return {"cores": 4, "setup": {"setup_s": 9.0, "build_s": 4.0, "warm_s": 3.0},
                "passes": [{"pass": 1, "kind": "measured", "seconds": 0.3}],
                "samples": [batch], "jobs": merge_jobs + [fresh]}

    def test_written_is_what_the_merge_jobs_output(self):
        m = metrics.per_layer(self.record([
            full_job(1, 110, 150, output_bytes=6000, output_records=150),
            full_job(2, 160, 190, output_bytes=2000, output_records=50)]))
        self.assertEqual(m["sinks.bytes_written"][0], 8000)
        self.assertEqual(m["sinks.rows_written"][0], 200)
        self.assertEqual(m["sinks.rewrite_ratio"][0], 2.0)
        self.assertEqual(m["sinks.write_amp"][0], 2.0)
        self.assertEqual(m["sinks.files_written"][0], 2)
        self.assertEqual(m["sinks.table_mb"][0], 10)

    def test_a_merge_that_writes_less_reads_less(self):
        m = metrics.per_layer(self.record([
            full_job(1, 110, 150, output_bytes=400, output_records=10)]))
        self.assertEqual(m["sinks.rewrite_ratio"][0], 0.1)
        self.assertEqual(m["sinks.write_amp"][0], 0.1)


if __name__ == "__main__":
    unittest.main()
