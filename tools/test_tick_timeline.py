"""Tests of the tick timeline reader: python3 -m unittest discover -s tools -p 'test_*.py'"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import tick_timeline  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def sql_start(exec_id, description, *frames):
    return {"Event": SQL, "executionId": exec_id, "description": description,
            "details": "\n".join(frames)}


def job_start(job, ms, stages, tag=None, exec_id=None):
    props = {}
    if tag:
        props["perfbench.op"] = tag
    if exec_id is not None:
        props["spark.sql.execution.id"] = str(exec_id)
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": ms,
            "Stage IDs": stages, "Properties": props,
            "Stage Infos": [{"Stage ID": s, "Stage Name": f"stage {s} at X.java:1"}
                            for s in stages]}


def job_end(job, ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": ms}


def stage_submitted(stage):
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage}}


def task_end(stage, run, deser, scan=0, shuffle_in=0, out=0, shuffle_out=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run, "Executor Deserialize Time": deser,
        "Input Metrics": {"Records Read": scan},
        "Shuffle Read Metrics": {"Total Records Read": shuffle_in},
        "Output Metrics": {"Records Written": out},
        "Shuffle Write Metrics": {"Shuffle Records Written": shuffle_out}}}


# One tick, round-1.t0: a detection job at t0 = 1000, then a vector write of
# two stages whose map stage 3 already ran for an earlier job tagged
# round-1.land; that job and an untagged one are left out.
EVENTS = [
    sql_start(7, "head at CdcTick.scala:251",
              "org.apache.spark.sql.Dataset.head(Dataset.scala:1)",
              "graft.streaming.CdcTick.tick(CdcTick.scala:110)"),
    sql_start(8, "parquet at BucketedLayout.scala:47",
              "graft.sources.BucketedLayout$.writePartitioned(BucketedLayout.scala:47)",
              "graft.sinks.Retry$.withBackoff(Retry.scala:41)",
              "graft.streaming.IncrementalVectors$.stage(IncrementalVectors.scala:126)"),
    job_start(1, 1000, [1], tag="round-1.t0", exec_id=7),
    stage_submitted(1),
    task_end(1, run=30, deser=5, scan=100, shuffle_out=4),
    task_end(1, run=20, deser=3, scan=50, shuffle_out=2),
    job_end(1, 1090),
    job_start(2, 1100, [3], tag="round-1.land"),
    stage_submitted(3),
    task_end(3, run=7, deser=1),
    job_end(2, 1120),
    job_start(3, 1200, [3, 4], tag="round-1.t0", exec_id=8),
    stage_submitted(4),
    task_end(4, run=150, deser=28, shuffle_in=2000, out=2000),
    job_end(3, 1400),
    job_start(4, 1500, [5]),
    stage_submitted(5),
    task_end(5, run=9, deser=1),
    job_end(4, 1510),
]


class TimelineTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.addCleanup(self.dir.cleanup)

    def write(self, name, events):
        path = os.path.join(self.dir.name, name)
        with open(path, "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in events)
        return path

    def test_jobs_of_each_tick_with_their_tasks_and_rows(self):
        t = tick_timeline.parse(self.write("log", EVENTS))
        self.assertEqual(list(t), ["round-1.t0"])
        detect, write = t["round-1.t0"]
        self.assertEqual((detect["id"], detect["tasks"], detect["run_ms"], detect["deser_ms"]),
                         (1, 2, 50, 8))
        self.assertEqual((detect["read"], detect["written"]), (150, 6))
        # its only engine frame is in the description's own file
        self.assertEqual(detect["site"], "head at CdcTick.scala:251")
        # stage 3 ran for job 2; job 3 counts only its own stage 4
        self.assertEqual((write["id"], write["tasks"], write["run_ms"], write["deser_ms"]),
                         (3, 1, 150, 28))
        self.assertEqual((write["read"], write["written"]), (2000, 2000))
        self.assertEqual(write["site"],
                         "parquet at BucketedLayout.scala:47 <- IncrementalVectors.scala:126")

    def test_render_times_are_relative_to_the_ticks_first_job(self):
        out = tick_timeline.render(tick_timeline.parse(self.write("log", EVENTS)))
        lines = out.splitlines()
        self.assertEqual(lines[0], "round-1.t0: 400 ms, 2 jobs, 3 tasks, run 200 ms, "
                                   "deserialize 36 ms")
        self.assertEqual(lines[2].split()[:3], ["1", "0", "90"])
        self.assertEqual(lines[3].split()[:3], ["3", "200", "400"])

    def test_rolling_log_directory_reads_its_files_in_order(self):
        d = os.path.join(self.dir.name, "eventlog_v2_local-1")
        os.mkdir(d)
        with open(os.path.join(d, "events_10_local-1"), "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in EVENTS[11:])
        with open(os.path.join(d, "events_2_local-1"), "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in EVENTS[:11])
        self.assertEqual(tick_timeline.parse(d), tick_timeline.parse(self.write("log", EVENTS)))

    def test_a_log_cut_short_ends_at_its_last_whole_event(self):
        path = self.write("log", EVENTS)
        with open(path, "a") as f:
            f.write('{"Event": "SparkListenerJobStart", "Job ID": 5, "Subm')
        t = tick_timeline.parse(path)
        self.assertEqual([j["id"] for j in t["round-1.t0"]], [1, 3])

    def test_a_job_without_a_sql_execution_falls_back_to_its_stage_name(self):
        events = [job_start(9, 0, [2], tag="round-3.t1"), job_end(9, 5)]
        t = tick_timeline.parse(self.write("log", events))
        self.assertEqual(t["round-3.t1"][0]["site"], "stage 2 at X.java:1")


if __name__ == "__main__":
    unittest.main()
