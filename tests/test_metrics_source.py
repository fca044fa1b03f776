"""Polling HTTP source tests against a local stub /metrics/snapshot server
(the reference polls the Mesos slave endpoint; SURVEY.md §2.1 S1-S3)."""

from __future__ import annotations

import http.server
import json
import threading
import time

import pytest


def _serve(payload: dict):
    """Start a stub /metrics/snapshot server answering with ``payload``."""

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.path == "/metrics/snapshot":
                body = json.dumps(payload).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_response(404)
                self.end_headers()

        def log_message(self, *a):  # silence
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


@pytest.fixture(scope="module")
def stub_server():
    srv = _serve({"slave/cpus_total": 4.0, "slave/mem_total": 2048.0})
    yield srv.server_address[1]
    srv.shutdown()


@pytest.fixture(scope="module")
def mixed_server():
    """A host whose snapshot mixes numeric and non-numeric values."""
    srv = _serve({"slave/cpus_total": 4.0, "slave/version": "1.2.3", "slave/mem_total": "2048", "slave/tags": [1]})
    yield srv.server_address[1]
    srv.shutdown()


def test_fetch_snapshot_ok(stub_server):
    from syscol_spark.sources.metrics_http import fetch_snapshot

    metrics, err = fetch_snapshot("127.0.0.1", stub_server)
    assert err is None
    assert metrics == {"slave/cpus_total": 4.0, "slave/mem_total": 2048.0}


def test_fetch_snapshot_keeps_numeric_values(mixed_server):
    """A non-numeric value drops only its own key, and the error names it."""
    from syscol_spark.sources.metrics_http import fetch_snapshot

    metrics, err = fetch_snapshot("127.0.0.1", mixed_server)
    assert metrics == {"slave/cpus_total": 4.0, "slave/mem_total": 2048.0}
    assert err == "non-numeric values dropped: slave/version, slave/tags"


def test_fetch_snapshot_error_tolerance():
    from syscol_spark.sources.metrics_http import fetch_snapshot

    # dead port: reference logs and emits empty envelope (metrics_reporter.go:89-94)
    metrics, err = fetch_snapshot("127.0.0.1", 1, timeout=0.5)
    assert metrics == {}
    assert err is not None


def test_batch_read(spark, stub_server):
    from syscol_spark.sources.metrics_http import MetricsSnapshotDataSource

    spark.dataSource.register(MetricsSnapshotDataSource)
    df = (
        spark.read.format("metrics_snapshot")
        .option("hosts", "127.0.0.1")
        .option("port", str(stub_server))
        .option("namespace", "test")
        .load()
    )
    [row] = df.collect()
    assert row["Hostname"] == "127.0.0.1"
    assert row["Metrics"]["slave/cpus_total"] == 4.0
    assert row["error"] is None
    assert row["Timestamp"] > 1_500_000_000 * 10**9  # ns scale


def test_batch_read_dead_host_emits_empty(spark):
    from syscol_spark.sources.metrics_http import MetricsSnapshotDataSource

    spark.dataSource.register(MetricsSnapshotDataSource)
    df = (
        spark.read.format("metrics_snapshot")
        .option("hosts", "127.0.0.1")
        .option("port", "1")
        .load()
    )
    [row] = df.collect()
    assert row["Metrics"] == {}
    assert row["error"]


def test_streaming_pipeline_end_to_end(spark, stub_server, tmp_path):
    """Full M3 pipeline: stream source → enrich → serialize JSON → sink
    (parquet fallback — no Kafka broker in container), via CollectorManager."""
    from syscol_spark.config import CollectorConfig
    from syscol_spark.streaming.control import CollectorManager

    props = tmp_path / "producer.properties"
    props.write_text("bootstrap.servers=localhost:9092\n")
    mgr = CollectorManager(
        spark,
        CollectorConfig(
            producer_properties=str(props),
            topic="syscol-metrics",
            hosts=["127.0.0.1"],
            port=stub_server,
            reporting_interval_secs=0.5,
        ),
    )
    q = mgr.start(checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        deadline = time.time() + 30
        out_dir = str(tmp_path / "ckpt_out")
        rows = []
        while time.time() < deadline:
            try:
                rows = spark.read.parquet(out_dir).collect()
                if rows:
                    break
            except Exception:  # noqa: BLE001 — sink dir not yet created
                pass
            time.sleep(0.5)
    finally:
        mgr.stop()
    assert rows, "no rows reached the sink"
    assert rows[0]["key"] is None  # reference null-key semantics (X2)
    env = json.loads(bytes(rows[0]["value"]).decode())
    assert env["Hostname"] == "127.0.0.1"
    assert env["Metrics"]["slave/mem_total"] == 2048.0
    assert mgr.is_running() is False


def test_checkpoint_recovery(spark, stub_server, tmp_path):
    """Stop the pipeline mid-stream and restart from the same checkpoint:
    the query resumes (at-least-once upgrade over the reference's
    at-most-once) and keeps producing, with progress reports flowing (K4)."""
    from syscol_spark.config import CollectorConfig
    from syscol_spark.streaming.control import CollectorManager

    props = tmp_path / "p.properties"
    props.write_text("bootstrap.servers=localhost:9092\n")
    cfg = CollectorConfig(
        producer_properties=str(props),
        topic="t-recover",
        hosts=["127.0.0.1"],
        port=stub_server,
        reporting_interval_secs=0.5,
    )
    ckpt = str(tmp_path / "ckpt")
    out_dir = ckpt + "_out"

    def rows_now():
        try:
            return len(spark.read.parquet(out_dir).collect())
        except Exception:  # noqa: BLE001
            return 0

    mgr = CollectorManager(spark, cfg)
    mgr.start(checkpoint_dir=ckpt)
    deadline = time.time() + 30
    while time.time() < deadline and rows_now() == 0:
        time.sleep(0.5)
    n_before = rows_now()
    assert mgr.progress_history(), "no progress reports (K4)"
    mgr.stop()

    mgr2 = CollectorManager(spark, cfg)
    mgr2.start(checkpoint_dir=ckpt)  # same checkpoint → resume
    deadline = time.time() + 30
    while time.time() < deadline and rows_now() <= n_before:
        time.sleep(0.5)
    n_after = rows_now()
    mgr2.stop()
    assert n_before > 0
    assert n_after > n_before, "restart from checkpoint did not continue producing"


def test_stream_offset_no_recovery_stall():
    """Regression: offsets must be epoch-based, not reader-construction-based.
    A reader constructed AFTER a restart must immediately report a
    latestOffset at/past the offset a previous long-running reader committed
    — otherwise the stream stalls for the previous run's entire uptime."""
    from syscol_spark.sources.metrics_http import SOURCE_SCHEMA, MetricsSnapshotStreamReader

    opts = {"hosts": "127.0.0.1", "interval": "0.2"}
    r1 = MetricsSnapshotStreamReader(SOURCE_SCHEMA, opts)
    time.sleep(0.5)  # r1 "runs" for a while before the checkpoint
    committed = r1.latestOffset()["tick"]
    r2 = MetricsSnapshotStreamReader(SOURCE_SCHEMA, opts)  # process restart
    assert r2.latestOffset()["tick"] >= committed  # no stall at construction
    time.sleep(0.45)  # within ~one interval the offset must move PAST it
    assert r2.latestOffset()["tick"] > committed


def test_stream_offset_monotonic_guard():
    from syscol_spark.sources.metrics_http import SOURCE_SCHEMA, MetricsSnapshotStreamReader

    r = MetricsSnapshotStreamReader(SOURCE_SCHEMA, {"interval": "0.1"})
    ticks = []
    for _ in range(5):
        ticks.append(r.latestOffset()["tick"])
        time.sleep(0.05)
    assert ticks == sorted(ticks), "latestOffset went backwards"


def test_control_plane_gates(spark):
    from syscol_spark.config import CollectorConfig
    from syscol_spark.streaming.control import CollectorManager

    mgr = CollectorManager(spark, CollectorConfig())
    with pytest.raises(RuntimeError, match="cannot start"):
        mgr.start()
    # C5: update mutates config; takes effect on next start
    mgr.update(topic="t2")
    assert mgr.config.topic == "t2"
    assert mgr.status()["active"] is False
