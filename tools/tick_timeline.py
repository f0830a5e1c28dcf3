#!/usr/bin/env python3
"""Per-job timeline of perfbench's `etl` ticks, read from a Spark event log.

    python3 tools/tick_timeline.py LOG
    python3 tools/tick_timeline.py --run [--seed 11] [--seconds 14]

Run from the repository root. LOG is an event log file or a rolling
`eventlog_v2_*` directory, uncompressed. With --run the script first runs one
traced `perfbench/run.py --workload etl --trace 1` with the event log switched
on through JAVA_TOOL_OPTIONS (perfbench itself is not edited), writing the log
under .bench_out/eventlog, prints that run's tick-level metrics, then reads
the log it wrote.

perfbench tags every job of a tick with the local property `perfbench.op`
(`round-N.tK`). For each tick tag it prints one line per job, in submission
order:
  - start and end in ms, relative to the submission of the tick's first job
  - tasks run (a stage shared by several jobs counts for the first)
  - summed executor run and deserialize ms of those tasks
  - rows read (scan + shuffle) and written (files + shuffle)
  - the SQL call site: the execution's description, then the first engine
    frame outside the description's file and outside `graft.sinks`
    (`<- File.scala:line`), which tells apart the writes that share one
    writer
"""
import argparse
import glob
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAG = "perfbench.op"
TICK = r"^round-\d+\.t\d+$"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
RUN_METRICS = ("streaming.jobs_per_tick", "spark.jobs_per_op", "spark.task_cpu_ms_per_op",
               "sinks.store_files", "sinks.rewrite_amp", "streaming.docs_ms")


def log_files(path):
    """The event log's files in order: the file itself, or a rolling
    directory's `events_<n>_*` files by n."""
    if not os.path.isdir(path):
        return [path]
    files = glob.glob(os.path.join(path, "events_*"))
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def events(path):
    """The log's events. perfbench halts its JVM without stopping Spark, so
    the last line written can be cut short: reading stops there."""
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    return
                yield e


def call_site(description, details):
    """The description plus the first engine frame in another file, past
    the shared write plumbing of `graft.sinks` (staged swap, retry)."""
    m = re.search(r" at (\S+\.scala):\d+$", description or "")
    own = m.group(1) if m else None
    for frame in (details or "").split("\n"):
        f = re.search(r"^graft\.(?!sinks\.)\S+\((\w+\.scala):(\d+)\)$", frame.strip())
        if f and f.group(1) != own:
            return f"{description} <- {f.group(1)}:{f.group(2)}"
    return description or ""


def parse(path):
    """{tick tag: [job dict, ...]} for every job tagged `round-N.tK`."""
    jobs, active, stage_job, sql = {}, {}, {}, {}
    for e in events(path):
        ev = e["Event"]
        if ev == SQL_START:
            sql[e["executionId"]] = call_site(e.get("description"), e.get("details"))
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            names = {s["Stage ID"]: s["Stage Name"] for s in e.get("Stage Infos", [])}
            exec_id = props.get("spark.sql.execution.id")
            site = sql.get(int(exec_id)) if exec_id is not None else None
            job = {"id": e["Job ID"], "tag": props.get(TAG), "start": e["Submission Time"],
                   "end": None, "tasks": 0, "run_ms": 0, "deser_ms": 0, "read": 0,
                   "written": 0, "site": site or (names[min(names)] if names else "")}
            jobs[job["id"]] = job
            active[job["id"]] = set(e.get("Stage IDs", []))
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            active.pop(e["Job ID"], None)
        elif ev == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            owners = [j for j, stages in active.items() if sid in stages]
            if owners and sid not in stage_job:
                stage_job[sid] = min(owners)
        elif ev == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            m = e.get("Task Metrics")
            if job is None or m is None:
                continue
            job["tasks"] += 1
            job["run_ms"] += m.get("Executor Run Time", 0)
            job["deser_ms"] += m.get("Executor Deserialize Time", 0)
            job["read"] += (m.get("Input Metrics", {}).get("Records Read", 0)
                            + m.get("Shuffle Read Metrics", {}).get("Total Records Read", 0))
            job["written"] += (m.get("Output Metrics", {}).get("Records Written", 0)
                               + m.get("Shuffle Write Metrics", {}).get("Shuffle Records Written", 0))
    out = {}
    for job in sorted(jobs.values(), key=lambda j: (j["start"], j["id"])):
        if job["tag"] and re.search(TICK, job["tag"]):
            out.setdefault(job["tag"], []).append(job)
    return out


def tick_key(tag):
    return tuple(int(n) for n in re.findall(r"\d+", tag))


def render(timeline):
    lines = []
    for tag in sorted(timeline, key=tick_key):
        js = timeline[tag]
        t0 = min(j["start"] for j in js)
        t1 = max(j["end"] if j["end"] is not None else j["start"] for j in js)
        lines.append(f"{tag}: {t1 - t0} ms, {len(js)} jobs, {sum(j['tasks'] for j in js)} tasks, "
                     f"run {sum(j['run_ms'] for j in js)} ms, "
                     f"deserialize {sum(j['deser_ms'] for j in js)} ms")
        lines.append(f"  {'job':>5} {'start':>6} {'end':>6} {'tasks':>5} {'run_ms':>7} "
                     f"{'deser':>6} {'read':>8} {'written':>8}  call site")
        for j in js:
            end = "-" if j["end"] is None else str(j["end"] - t0)
            lines.append(f"  {j['id']:>5} {j['start'] - t0:>6} {end:>6} {j['tasks']:>5} "
                         f"{j['run_ms']:>7} {j['deser_ms']:>6} {j['read']:>8} {j['written']:>8}"
                         f"  {j['site']}")
    return "\n".join(lines)


def run_traced(seed, seconds):
    """One traced etl run with the event log on; (log path, metrics)."""
    log_dir = os.path.join(ROOT, ".bench_out", "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    before = set(os.listdir(log_dir))
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS"), "-Dspark.eventLog.enabled=true",
        "-Dspark.eventLog.compress=false", f"-Dspark.eventLog.dir=file://{log_dir}"]))
    cmd = [sys.executable, "perfbench/run.py", "--workload", "etl", "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1"]
    r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    out = r.stdout.decode(errors="replace").strip().splitlines()
    if r.returncode != 0 or not out:
        sys.stderr.write(r.stderr.decode(errors="replace")[-3000:])
        raise SystemExit("tick_timeline: the traced etl run failed")
    new = sorted(set(os.listdir(log_dir)) - before)
    if len(new) != 1:
        raise SystemExit(f"tick_timeline: expected one new event log in {log_dir}, found {new}")
    return os.path.join(log_dir, new[0]), json.loads(out[-1])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", nargs="?")
    ap.add_argument("--run", action="store_true")
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--seconds", type=int, default=14)
    a = ap.parse_args(argv)
    if a.run == bool(a.log):
        ap.error("give exactly one of LOG and --run")
    log = a.log
    if a.run:
        log, res = run_traced(a.seed, a.seconds)
        m = res["metrics"]
        print(f"etl seed {a.seed}: correct {res['correct']}, failed {res['failed']}, "
              + ", ".join(f"{k} {m[k]['value']:.4g}" for k in RUN_METRICS if k in m))
        print(f"event log: {log}")
    print(render(parse(log)))


if __name__ == "__main__":
    main()
