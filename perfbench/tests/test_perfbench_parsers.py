"""Parsing of StreamingQueryProgress and Spark event-log records, and the
benchmark's own Confluent-Avro decoder against the program's encoder."""

import json

import _paths  # noqa: F401
import harness as H
import pytest
from wl_collector import decode_frame

PROGRESS = {
    "id": "q", "runId": "r", "name": None, "timestamp": "2026-01-01T00:00:01.000Z", "batchId": 7,
    "numInputRows": 32,
    "durationMs": {"addBatch": 2100, "commitOffsets": 21, "getBatch": 0, "latestOffset": 1,
                   "queryPlanning": 15, "triggerExecution": 2200, "walCommit": 30},
    "sources": [{"description": "metrics_snapshot", "startOffset": "{\"tick\":100}",
                 "endOffset": {"tick": 103}, "numInputRows": 32}],
    "sink": {"description": "FileSink"},
}


def test_parse_progress():
    p = H.parse_progress(PROGRESS)
    assert p["batch_id"] == 7
    assert (p["start_tick"], p["end_tick"]) == (100, 103)
    assert p["trigger_ms"] == 2200.0
    assert p["addBatch"] == 2100.0 and p["latestOffset"] == 1.0
    assert p["rows"] == 32


def test_parse_progress_first_batch_has_no_start():
    first = dict(PROGRESS, batchId=0, sources=[dict(PROGRESS["sources"][0], startOffset=None)])
    assert H.parse_progress(first)["start_tick"] is None


def _task_end(stage, run_ms, cpu_ns, python_ms=None, shuffle=0, result=0):
    acc = [{"Name": H.PYTHON_RUN_METRIC, "Update": str(python_ms)}] if python_ms is not None else []
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": acc + [{"Name": "duration", "Update": "5"}]},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 10,
                         "Result Size": result, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                         "Shuffle Read Metrics": {"Fetch Wait Time": 2}},
    })


def test_parse_event_log_groups_jobs_and_tasks():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage Infos": [{"Stage ID": 0}],
                    "Properties": {"spark.jobGroup.id": "build:iterative:q_pagerank"}}),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1,
                    "Stage Infos": [{"Stage ID": 1}, {"Stage ID": 2}],
                    "Properties": {"spark.jobGroup.id": "exec:arrow:q_tfidf"}}),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 2, "Stage Infos": [{"Stage ID": 3}],
                    "Properties": {}}),
        _task_end(0, 100, 50_000_000, result=1000),
        _task_end(1, 200, 100_000_000, shuffle=4096),
        _task_end(2, 300, 150_000_000, python_ms=250),
        _task_end(2, 300, 150_000_000, python_ms=250),
        json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}}),
        json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}}),
        "",
    ]
    parsed = H.parse_event_log(lines)
    assert parsed["jobs"] == {0: "build:iterative:q_pagerank", 1: "exec:arrow:q_tfidf", 2: "none"}
    g = parsed["groups"]
    arrow = g["exec:arrow:q_tfidf"]
    assert (arrow["jobs"], arrow["stages"], arrow["tasks"]) == (1, 2, 3)
    assert arrow["run_s"] == pytest.approx(0.8)
    assert arrow["cpu_s"] == pytest.approx(0.4)
    assert arrow["python_s"] == pytest.approx(0.5)
    assert arrow["shuffle_write_bytes"] == 4096
    assert arrow["fetch_wait_s"] == pytest.approx(0.006)
    assert g["build:iterative:q_pagerank"]["result_bytes"] == 1000
    merged = H.merge_groups(g, lambda name: name.startswith("exec:"))
    assert merged["tasks"] == 3


def test_decoder_reads_the_programs_frames():
    from syscol_spark.functions.confluent import encode_slave_metrics, frame_confluent

    metrics = {"slave/cpus_total": 4.0, "bench/seq": 12.0}
    body = encode_slave_metrics("slave-h:1", "h", 5051, "ns", 1_767_225_600_123_456_789,
                                json.dumps(metrics).encode())
    schema_id, rec = decode_frame(frame_confluent(body, 7))
    assert schema_id == 7
    assert rec == {"SlaveID": "slave-h:1", "Hostname": "h", "Port": 5051, "Namespace": "ns",
                   "Timestamp": 1_767_225_600_123_456_789, "Metrics": metrics}


@pytest.mark.parametrize("frame", [b"", b"\x01\x00\x00\x00\x07", b"\x00\x00\x00\x00\x07\x08ab"])
def test_decoder_rejects_broken_frames(frame):
    with pytest.raises((ValueError, IndexError)):
        decode_frame(frame)


def test_sink_frames_assigns_files_to_batches_across_a_compaction(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from wl_collector import _sink_frames

    log = tmp_path / "_spark_metadata"
    log.mkdir()
    entries = []
    for b in range(11):
        path = tmp_path / f"part-{b}.parquet"
        pq.write_table(pa.table({"value": [bytes([b]), bytes([b, b])]}), path)
        entries.append(json.dumps({"path": f"file://{path}", "size": path.stat().st_size, "action": "add"}))
        # batch 9 is written as a compaction of batches 0..9
        name = f"{b}.compact" if b == 9 else str(b)
        body = entries if b == 9 else entries[-1:]
        (log / name).write_text("v1\n" + "\n".join(body) + "\n")
    frames, n_files, n_bytes = _sink_frames(str(tmp_path), {8, 9, 10})
    assert sorted(frames) == sorted((b, v) for b in (8, 9, 10) for v in (bytes([b]), bytes([b, b])))
    assert n_files == 3
    assert n_bytes == sum((tmp_path / f"part-{b}.parquet").stat().st_size for b in (8, 9, 10))
