"""Unit test of the event-log reader over a small checked-in log.

Run from the repository root: ``python3 -m unittest valbench/test_eventlog.py``.

``testdata/events_small.jsonl`` is a real Spark 4.1 event log (``local[2]``),
trimmed to the fields ``eventlog`` reads. It was made by writing a 400-row
parquet input (untagged), then:

- job group ``p0.build``: ``df.agg(max(id)).collect()``;
- job group ``p0.exec``: ``v = df.select(id, k, pandas_udf(payload)).persist()``,
  ``v.write.parquet(...)``, then ``v.groupBy(k).agg(sum(n)).write.parquet(...)``
  (the second plan reads the cache, so it shows the scan again);
- job group ``p1.exec``: ``df.groupBy(k).count().collect()``.
"""

from __future__ import annotations

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import run  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "events_small.jsonl")


class EventLogWindows(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.log = eventlog.EventLog(eventlog.load(LOG))

    def test_groups_are_read_from_jobs_and_executions(self):
        self.assertEqual(self.log.groups(), {"p0.build", "p0.exec", "p1.exec"})

    def test_every_task_belongs_to_exactly_one_group_or_none(self):
        per_group = sum(self.log.window({g})["tasks"] for g in self.log.groups())
        untagged = self.log.window({None})["tasks"]
        self.assertEqual(per_group + untagged, len(self.log.tasks))
        self.assertGreater(untagged, 0)  # the input write ran before any group

    def test_build_phase_jobs_are_counted_apart_from_execution(self):
        build = self.log.window({"p0.build"})
        self.assertEqual(build["jobs"], 2)
        self.assertEqual(build["python_run_ms"], 0)

    def test_cached_scan_counts_once_per_window(self):
        w = self.log.window({"p0.exec"})
        # two executed plans show the scan (the write, and the aggregate
        # over the cache); it ran once
        self.assertEqual(w["file_scans"], 1)
        self.assertEqual(self.log.window({"p0.build", "p0.exec"})["file_scans"], 2)

    def test_python_udf_metrics(self):
        w = self.log.window({"p0.exec"})
        self.assertEqual(w["python_rows"], 400)
        self.assertGreater(w["python_run_ms"], 0)
        self.assertGreater(w["arrow_bytes_sent"], 400 * 200)  # every payload crossed
        self.assertLessEqual(w["python_task_run_ms"], w["exec_run_ms"])

    def test_shuffle_bytes_balance(self):
        w = self.log.window({"p1.exec"})
        self.assertGreater(w["shuffle_write_bytes"], 0)
        self.assertEqual(w["shuffle_write_bytes"], w["shuffle_read_bytes"])
        self.assertEqual(w["exchanges"], 1)

    def test_windows_add_up(self):
        a, b = self.log.window({"p0.build"}), self.log.window({"p0.exec"})
        both = self.log.window({"p0.build", "p0.exec"})
        for field in ("jobs", "tasks", "exec_run_ms", "shuffle_write_bytes", "scan_bytes"):
            self.assertEqual(both[field], a[field] + b[field], field)


class PassWindow(unittest.TestCase):
    def test_output_check_group_is_not_counted(self):
        # the same log with group p1.exec renamed to p0.check: pass 0's
        # benchmark-side output check, whose jobs must not count as its work
        events = eventlog.load(LOG)
        renamed = [
            {**e, "Properties": {**e["Properties"], "spark.jobGroup.id": "p0.check"}}
            if (e.get("Properties") or {}).get("spark.jobGroup.id") == "p1.exec"
            else {**e, "jobGroupId": "p0.check"} if e.get("jobGroupId") == "p1.exec"
            else e
            for e in events
        ]
        log = eventlog.EventLog(renamed)
        self.assertIn("p0.check", log.groups())
        self.assertGreater(log.window({"p0.check"})["tasks"], 0)
        self.assertEqual(log.window(run.pass_groups(0)), log.window({"p0.build", "p0.exec"}))
        self.assertNotIn("p0.check", run.pass_groups(0))

    def test_registry_query_phases_belong_to_their_pass(self):
        groups = run.pass_groups(3)
        for q in run.REGISTRY_READS:
            self.assertLessEqual({f"p3.{q}.build", f"p3.{q}.exec"}, groups)
        self.assertFalse(any(g.startswith("p0.") for g in groups))


class Plausibility(unittest.TestCase):
    def base(self, **kw):
        m = dict(python_init_ms=10, python_task_run_ms=100)
        m.update(kw)
        return m

    def test_plausible_fields_pass(self):
        self.assertEqual(eventlog.plausibility(self.base()), [])

    def test_python_init_beyond_task_run_time_is_withheld(self):
        self.assertEqual(eventlog.plausibility(self.base(python_init_ms=101)),
                         ["python_init_ms"])

    def test_real_log_windows_are_plausible(self):
        log = eventlog.EventLog(eventlog.load(LOG))
        for g in log.groups():
            self.assertEqual(eventlog.plausibility(log.window({g})), [], g)


if __name__ == "__main__":
    unittest.main()
