"""Unit tests for the benchmark's own calculations.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class PercentileRule(unittest.TestCase):
    def test_sample_count_needed_leaves_ten_beyond(self):
        self.assertEqual(metrics.min_samples(50), 20)
        self.assertEqual(metrics.min_samples(90), 100)
        self.assertEqual(metrics.min_samples(99), 1000)

    def test_refuses_a_percentile_without_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(99)), 90)
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(19)), 50)

    def test_nearest_rank(self):
        vals = list(range(1, 101))
        self.assertEqual(metrics.percentile(vals, 90), 90)
        self.assertEqual(metrics.percentile(vals, 50), 50)
        self.assertEqual(metrics.percentile(list(reversed(vals)), 90), 90)
        # ten samples (91..100) lie beyond the p90 reading
        self.assertEqual(sum(v > metrics.percentile(vals, 90) for v in vals), 10)

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)


def span(i, parent, start, end, kind="x"):
    return {"id": i, "parent": parent, "kind": kind, "start_us": start, "end_us": end}


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(1, 0, 10, 30)]), {1: 20})

    def test_children_are_subtracted(self):
        st = metrics.self_times([span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)])
        self.assertEqual(st[1], 70)
        self.assertEqual(st[2], 20)

    def test_overlapping_children_count_once(self):
        st = metrics.self_times([span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 60)])
        self.assertEqual(st[1], 50)

    def test_children_are_clipped_to_the_parent(self):
        # an async job may end after the span that submitted it
        st = metrics.self_times([span(1, 0, 0, 100), span(2, 1, 90, 150)])
        self.assertEqual(st[1], 90)

    def test_grandchildren_do_not_reduce_the_grandparent_twice(self):
        st = metrics.self_times([span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 50)])
        self.assertEqual(st, {1: 50, 2: 0, 3: 50})


class CallsiteAttribution(unittest.TestCase):
    def test_innermost_graft_frame_names_the_module(self):
        details = "\n".join([
            "org.apache.spark.sql.Dataset.collect(Dataset.scala:3000)",
            "graft.operators.StandingIndex.publish(StandingIndex.scala:410)",
            "graft.queries.LlmQueries$.q89IndexMaintenance(LlmQueries.scala:2000)",
            "perfbench.Batch$.materialize(Batch.scala:44)"])
        self.assertEqual(metrics.callsite_module(details), "StandingIndex")

    def test_companion_object_and_closure_frames(self):
        self.assertEqual(metrics.callsite_module(
            "graft.operators.CdcTable.$anonfun$compact$1(CdcTable.scala:12)"), "CdcTable")
        self.assertEqual(metrics.callsite_module(
            "graft.queries.LlmQueries$.q16NearDupLsh(LlmQueries.scala:5)"), "LlmQueries")
        self.assertEqual(metrics.callsite_module(
            "graft.operators.ConnectedComponents$.run(ConnectedComponents.scala:80)"),
            "ConnectedComponents")

    def test_untracked_or_missing_frames_are_other(self):
        self.assertEqual(metrics.callsite_module(
            "graft.queries.CoreQueries$.q01(CoreQueries.scala:9)"), "other")
        self.assertEqual(metrics.callsite_module(
            "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\nperfbench.Main$.main(Main.scala:3)"),
            "other")
        self.assertEqual(metrics.callsite_module(""), "other")

    def test_frames_of_other_packages_named_like_graft_do_not_match(self):
        self.assertEqual(metrics.callsite_module(
            "org.apache.spark.sql.graftbridge.TopKPerKey.apply(TopKPerKey.scala:1)"), "other")

    def test_spark_thread_jobs_inherit_their_execution_module(self):
        own = "org.apache.spark.sql.classic.DataFrameWriter.save(DataFrameWriter.scala:126)\n" \
              "graft.operators.StandingIndex.publish(StandingIndex.scala:400)"
        stage = "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(x)\n" \
                "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(x)"
        mods = metrics.job_modules([(1, 7, stage), (2, 7, own), (3, 8, stage), (4, -1, stage)])
        self.assertEqual(mods, {1: "StandingIndex", 2: "StandingIndex", 3: "other", 4: "other"})


class FreshnessClock(unittest.TestCase):
    def test_measured_from_due_time_not_send_time(self):
        # the generator stalled: the file was due at 1.0 s, sent at 1.5 s,
        # and its upsert returned at 1.7 s — the stall counts
        due, sent, returned = 1_000_000, 1_500_000, 1_700_000
        self.assertEqual(metrics.freshness_ms(due, returned), 700.0)
        self.assertNotEqual(metrics.freshness_ms(due, returned), metrics.freshness_ms(sent, returned))

    def test_files_map_to_the_batch_that_consumed_them(self):
        files = [{"file": i, "rows": 10} for i in range(4)]
        progress = [{"batch_id": 0, "rows": 10}, {"batch_id": 1, "rows": 30}]
        self.assertEqual(metrics.file_batches(files, progress), {0: 0, 1: 1, 2: 1, 3: 1})

    def test_cdc_freshness_uses_the_batch_return(self):
        raw = {"files": [{"file": 0, "rows": 5, "due_us": 0, "sent_us": 400_000},
                         {"file": 1, "rows": 5, "due_us": 200_000, "sent_us": 410_000}],
               "stream_progress": [{"batch_id": 0, "rows": 10}],
               "batches": [{"batch_id": 0, "upsert_end_us": 900_000}]}
        self.assertEqual(metrics.cdc_freshness(raw), [900.0, 700.0])
        self.assertEqual(metrics.max_lag_files(raw), 2)

    def test_unconsumed_file_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.file_batches([{"file": 0, "rows": 5}], [])


if __name__ == "__main__":
    unittest.main()
