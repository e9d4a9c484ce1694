"""Self-tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q

``python3 perfbench/test_perfbench.py --record`` re-records the small event
log the parser test reads (it runs Spark on a 40-conversation corpus).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SAMPLE_LOG = os.path.join(HERE, "testdata", "eventlog_sample.jsonl")
SAMPLE_LOCATION = "file:/corpus"
SAMPLE_CONVS = 40


def _sample_turns() -> int:
    """Turns of synthesize_transcripts(spark, SAMPLE_CONVS, seed=1), counted
    with the per-conversation generator it runs."""
    sys.path.insert(0, os.path.dirname(HERE))
    from autoscan_spark.sources.transcripts import gen_conversation

    return sum(len(gen_conversation(i, seed=1)) for i in range(SAMPLE_CONVS))


# ---------------------------------------------------------------------------
# event-log parser


def _raw_updates(name: str, group: str) -> float:
    """Independent sum of one accumulable's task updates for a job group."""
    stage_group = {}
    total = 0.0
    with open(SAMPLE_LOG) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            for s in ev["Stage IDs"]:
                stage_group.setdefault(s, ev["Properties"].get("spark.jobGroup.id"))
    for ev in events:
        if ev["Event"] == "SparkListenerTaskEnd" and stage_group.get(ev["Stage ID"]) == group:
            for a in ev["Task Info"]["Accumulables"]:
                if a["Name"] == name:
                    total += float(a["Update"])
    return total


def test_eventlog_groups_and_layers():
    log = eventlog.load(SAMPLE_LOG)
    e2e = eventlog.group_totals(log, ["e2e.0"], SAMPLE_LOCATION)
    ext = eventlog.group_totals(log, ["extract.0"], SAMPLE_LOCATION)

    # the scan reads every turn once in each action
    assert e2e["input_records"] == _sample_turns()
    assert ext["input_records"] == _sample_turns()
    assert e2e["corpus_scans"] == 1 and ext["corpus_scans"] == 1
    # extract+fold has one Exchange (the fold's groupBy); extract alone none
    assert e2e["exchanges"] == 1
    assert ext["exchanges"] == 0
    assert e2e["shuffle_bytes"] > 0 and ext["shuffle_bytes"] == 0
    # the scan's "size of files read" is a driver-side metric
    assert e2e["files_bytes"] == ext["files_bytes"] > 0
    # Python time is "time to run Python workers" only, never the
    # overlapping "time to initialize Python workers"
    assert ext["python_ms"] == _raw_updates(eventlog.PYTHON_RUN, "extract.0")
    assert e2e["python_ms"] == _raw_updates(eventlog.PYTHON_RUN, "e2e.0")
    assert ext["bytes_to_python"] == _raw_updates(eventlog.TO_PYTHON, "extract.0") > 0
    assert ext["bytes_from_python"] > 0
    # the fold stage reads the shuffle and runs the fold UDF
    assert 0 < e2e["fold_python_ms"] <= e2e["python_ms"]
    assert e2e["fold_task_skew"] >= 1.0
    assert ext["fold_task_skew"] == 0.0
    assert e2e["tasks"] > 0 and e2e["jobs"] >= 1 and e2e["stages"] >= 2


def test_eventlog_ns_timing_converted_to_ms():
    line = json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Accumulables": [{"ID": 7, "Name": "t", "Update": "2500000"}]},
            "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Write Time": 3000000}},
        }
    )
    plan = {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": 0,
        "sparkPlanInfo": {
            "nodeName": "X",
            "children": [],
            "metrics": [{"name": "t", "accumulatorId": 7, "metricType": "nsTiming"}],
        },
    }
    log = eventlog.parse([json.dumps(plan), line])
    (task,) = log.tasks
    assert task.accums["t"] == 2.5
    assert task.shuffle_write_ms == 3.0


# ---------------------------------------------------------------------------
# output hash


def test_hash_is_order_independent_and_rejects_one_byte():
    rows = [("c1", 1, "alpha beta", "ok"), ("c1", 2, "gamma", "ok"), ("c2", 1, "", "error:x")]
    n, h = checks.content_hash(rows)
    assert n == 3
    assert checks.content_hash(reversed(rows)) == (n, h)
    for i, row in enumerate(rows):
        text = row[2] or "_"
        bumped = chr(ord(text[0]) + 1) + text[1:]
        changed = rows[:i] + [(row[0], row[1], bumped, row[3])] + rows[i + 1 :]
        assert checks.content_hash(changed) != (n, h)
    assert checks.content_hash(rows[:2])[1] != h
    assert checks.merge([checks.digest_sum(rows[:1]), checks.digest_sum(rows[1:])]) == (n, h)


def test_compare_reports_every_mismatch():
    a = {"turns": [1, "x"], "docs": [1, "y"], "error_rows": {"pdf": 1}}
    b = {"turns": [1, "x"], "docs": [1, "z"], "error_rows": {"pdf": 2}}
    assert workloads.compare(a, a, "t") == []
    assert len(workloads.compare(a, b, "t")) == 2


# ---------------------------------------------------------------------------
# names and BENCHMARK.json


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_are_valid_and_unique():
    valid = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    names = [n for n, _, _ in run.END_TO_END + run.PER_LAYER] + list(workloads.WORKLOADS)
    assert len(names) == len(set(names))
    for name in names:
        assert valid.fullmatch(name), name
    units = [u for _, u, _ in run.END_TO_END + run.PER_LAYER]
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u) for u in units)


def test_benchmark_json_matches_the_code():
    bench = _bench_json()
    assert [(w["name"], w["why"]) for w in bench["workloads"]] == [
        (name, workloads.WORKLOADS[name].why) for name in workloads.BENCHMARKED
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(run.PER_LAYER)


# ---------------------------------------------------------------------------
# recording the sample log


def _trim(ev: dict) -> dict | None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        keep = ("spark.jobGroup.id", "spark.sql.execution.id")
        return {
            "Event": kind,
            "Job ID": ev["Job ID"],
            "Stage IDs": ev["Stage IDs"],
            "Properties": {k: props[k] for k in keep if k in props},
        }
    if kind == "SparkListenerTaskEnd":
        info = ev["Task Info"]
        return {
            "Event": kind,
            "Stage ID": ev["Stage ID"],
            "Task Type": ev["Task Type"],
            "Task End Reason": ev["Task End Reason"],
            "Task Info": {
                "Failed": info["Failed"],
                "Accumulables": [
                    {k: a[k] for k in ("ID", "Name", "Update")}
                    for a in info["Accumulables"]
                    if not a["Name"].startswith("internal.")
                ],
            },
            "Task Metrics": ev["Task Metrics"],
        }
    if kind.endswith("SparkListenerDriverAccumUpdates"):
        return ev
    if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):

        def node(n):
            meta = n.get("metadata") or {}
            if "Location" in meta:
                meta = {"Location": f"InMemoryFileIndex(1 paths)[{SAMPLE_LOCATION}]"}
            else:
                meta = {}
            return {
                "nodeName": n["nodeName"],
                "metadata": meta,
                "metrics": n.get("metrics", []),
                "children": [node(c) for c in n.get("children", [])],
            }

        out = {"Event": kind, "executionId": ev["executionId"], "sparkPlanInfo": node(ev["sparkPlanInfo"])}
        if "jobGroupId" in ev:
            out["jobGroupId"] = ev["jobGroupId"]
        return out
    return None


def record() -> None:
    run_dir = os.path.join(run.CACHE, "record-eventlog")
    shutil.rmtree(run_dir, ignore_errors=True)
    run.prepare_env(run_dir)
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = run.start_session(run_dir, event_log_dir=log_dir)
    try:
        from autoscan_spark.operators.extract import extract_turns
        from autoscan_spark.sources.transcripts import synthesize_transcripts

        path = os.path.join(run_dir, "corpus")
        synthesize_transcripts(spark, SAMPLE_CONVS, seed=1).write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
        spark.sparkContext.setJobGroup("e2e.0", "extract+fold")
        workloads.noop(workloads.pipeline(df, False))
        spark.sparkContext.setJobGroup("extract.0", "extract")
        workloads.noop(extract_turns(df, mode="low"))
    finally:
        run.shutdown(spark)
    (name,) = os.listdir(log_dir)
    os.makedirs(os.path.dirname(SAMPLE_LOG), exist_ok=True)
    with open(os.path.join(log_dir, name)) as src, open(SAMPLE_LOG, "w") as dst:
        for line in src:
            ev = _trim(json.loads(line))
            if ev is not None:
                dst.write(json.dumps(ev, sort_keys=True) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__" and "--record" in sys.argv:
    record()
