"""The event-log parser, against a log captured from a traced
media_shards run (one operation's jobs, fields the parser reads) and
against hand-made event streams for the attribution rules."""

from __future__ import annotations

import os

import pytest

from perfbench.trace import Call, event_files, layer_table, read_events, summarize

DATA = os.path.join(os.path.dirname(__file__), "data")


def _captured():
    return list(read_events([os.path.join(DATA, "media_op0_events.jsonl")]))


def test_captured_log_attributes_every_job():
    totals, jobs = summarize(_captured())
    assert len(jobs) == 12
    assert all(j.group is not None and j.op == "op 0" for j in jobs)
    assert sum(t["jobs"] for t in totals.values()) == 12
    assert {g for g, _ in totals} == {
        "operators.webdataset.webdataset_samples",
        "operators.multimodal.decode_image_meta",
        "operators.multimodal.decode_wav_meta",
        "operators.webdataset.save_webdataset",
        "sink.write",
    }


def test_captured_log_metrics():
    totals, _ = summarize(_captured())
    img = totals[("operators.multimodal.decode_image_meta", "op 0")]
    assert (img["jobs"], img["stages"], img["tasks"]) == (1, 1, 4)
    assert img["python_run_s"] == pytest.approx(1.428)
    assert img["python_bytes_sent"] == 7198648
    assert img["executor_cpu_s"] == pytest.approx(0.033, abs=5e-4)
    save = totals[("operators.webdataset.save_webdataset", "op 0")]
    assert (save["jobs"], save["stages"], save["tasks"]) == (8, 8, 23)
    assert save["shuffle_write_bytes"] == save["shuffle_read_bytes"] == 8069065
    sink = totals[("sink.write", "op 0")]
    assert sink["output_bytes"] == 38547
    assert sink["shuffle_write_bytes"] == 0


def _job(jid, stages, group=None, op=None):
    props = {}
    if group:
        props = {"spark.jobGroup.id": group, "spark.job.description": op}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages, "Properties": props}


def _stage_done(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid, "Submission Time": 1}}


def _task(sid, cpu_ns=1_000_000_000, py_ms=None):
    acc = [] if py_ms is None else [{"Name": "time to run Python workers", "Update": str(py_ms)}]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 0},
    }


def test_reused_stage_counts_once_for_the_job_that_ran_it():
    events = [
        _job(0, [0], "a", "op 0"),
        _stage_done(0),
        _task(0),
        # job 1 lists stage 0 again (skipped: shuffle output reused)
        _job(1, [0, 1], "b", "op 0"),
        _stage_done(1),
        _task(1, py_ms=250),
        _task(1),
    ]
    totals, _ = summarize(events)
    assert totals[("a", "op 0")]["stages"] == 1
    assert totals[("a", "op 0")]["executor_cpu_s"] == 1.0
    b = totals[("b", "op 0")]
    assert (b["jobs"], b["stages"], b["tasks"]) == (1, 1, 2)
    assert b["python_run_s"] == 0.25


def test_jobs_without_a_group_are_unattributed():
    totals, jobs = summarize([_job(0, [0]), _stage_done(0), _task(0)])
    assert totals[(None, None)]["jobs"] == 1
    assert jobs[0].group is None


def test_layer_table_is_per_call_over_timed_operations():
    events = [
        _job(0, [0], "s", "op 0"), _stage_done(0), _task(0),
        _job(1, [1], "s", "op 1"), _stage_done(1), _task(1), _task(1),
        _job(2, [2], "s", "warmup"), _stage_done(2), _task(2),
    ]  # fmt: skip
    totals, _ = summarize(events)
    calls = [Call("s", "op 0", 1.0), Call("s", "op 1", 3.0), Call("s", "warmup", 9.0)]
    row = layer_table(totals, calls, ["s", "idle"])
    assert row["s"]["calls"] == 2
    assert row["s"]["call_s"] == 2.0
    assert row["s"]["jobs"] == 1.0
    assert row["s"]["tasks"] == 1.5
    assert row["idle"]["calls"] == 0 and row["idle"]["jobs"] == 0


def test_event_files_orders_rolling_parts(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_app").write_text("")
    (d / "appstatus_app").write_text("")
    names = [os.path.basename(p) for p in event_files(str(tmp_path))]
    assert names == ["events_1_app", "events_2_app", "events_10_app"]
