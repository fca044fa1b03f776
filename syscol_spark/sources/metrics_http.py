"""Polling HTTP metrics source (S1/S2/S3) as a PySpark Python DataSource.

Re-expresses the reference's data plane — poll
``GET http://<host>:<port>/metrics/snapshot`` per node on a fixed interval
(/root/reference/syscol/metrics_reporter.go:75-131) — as a Structured
Streaming source:

- one logical partition per monitored host (the reference runs one collector
  task per Mesos slave; here each host's fetch is an independent task, so a
  1000-host fleet polls in parallel across executors),
- offsets are per-host tick counters → replayable/checkpointable,
- scrape-error tolerance (S3, metrics_reporter.go:89-94): fetch/decode
  failures still emit an envelope with an empty metrics map and the error
  string in an ``error`` column — a batch never fails because a node is down.

Register with ``spark.dataSource.register(MetricsSnapshotDataSource)`` then
``spark.readStream.format("metrics_snapshot").option("hosts", ...)``.
Batch reads (``spark.read``) are supported too (one tick per host).
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StringType, StructField, StructType

from syscol_spark.functions.envelope import ENVELOPE_SCHEMA

# the envelope plus the S3 scrape-error column
SOURCE_SCHEMA = StructType([*ENVELOPE_SCHEMA.fields, StructField("error", StringType(), True)])


def fetch_snapshot(host: str, port: int, timeout: float = 5.0) -> tuple[dict[str, float], str | None]:
    """One scrape (metrics_reporter.go:112-131). Returns (metrics, error);
    on any failure the metrics map is empty and error is set — mirroring the
    reference's log-and-continue semantics (:89-94). A value ``float()``
    rejects drops only its own key, which the error names; the reference
    forwards the whole map, so the other values still go out."""
    import urllib.request

    url = f"http://{host}:{port}/metrics/snapshot"
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
            payload = json.loads(resp.read().decode("utf-8"))
        metrics, dropped = {}, []
        for k, v in payload.items():
            try:
                metrics[str(k)] = float(v)
            except (TypeError, ValueError):
                dropped.append(str(k))
        return (metrics, f"non-numeric values dropped: {', '.join(dropped)}" if dropped else None)
    except Exception as e:  # noqa: BLE001
        return ({}, f"{type(e).__name__}: {e}")


def _row(host: str, port: int, namespace: str, metrics: dict[str, float], err: str | None) -> tuple:
    return (
        f"slave-{host}:{port}",
        host,
        port,
        namespace,
        time.time_ns(),  # reference stamps UnixNano (metrics_reporter.go:139)
        metrics,
        err,
    )


class _HostTickPartition(InputPartition):
    def __init__(self, host: str, port: int, namespace: str, start_tick: int, end_tick: int):
        self.host = host
        self.port = port
        self.namespace = namespace
        self.start_tick = start_tick
        self.end_tick = end_tick


class _HostReader:
    """What the batch and stream readers share: the hosts/port/namespace
    options and the one-scrape-per-host ``read``."""

    def __init__(self, schema: StructType, options: dict):
        self.hosts = [h.strip() for h in options.get("hosts", "localhost").split(",") if h.strip()]
        self.port = int(options.get("port", 5051))
        self.namespace = options.get("namespace", "")

    def read(self, partition: _HostTickPartition) -> Iterator[tuple]:
        # One scrape per micro-batch per host: ticks within a batch coalesce
        # (the reference also drops ticks when a scrape outlasts the
        # interval — ticker semantics).
        metrics, err = fetch_snapshot(partition.host, partition.port)
        yield _row(partition.host, partition.port, partition.namespace, metrics, err)


class MetricsSnapshotStreamReader(_HostReader, DataSourceStreamReader):
    """Offsets: {"tick": n} where n is the EPOCH-based tick
    ``floor(unix_time / interval)`` — not ticks since reader construction.

    Epoch ticks are globally monotonic across process restarts, which is what
    makes checkpoint recovery immediate: a reader constructed after a restart
    reports a latestOffset already past the committed offset, so the next
    micro-batch fires within one interval. (A construction-relative tick
    counter would restart near zero and the stream would stall until
    wall-clock elapsed caught up to the previous run's entire uptime.)
    A monotonic guard absorbs wall-clock steps backwards (NTP)."""

    def __init__(self, schema: StructType, options: dict):
        super().__init__(schema, options)
        self.interval = float(options.get("interval", 1.0))
        self._max_tick = self._epoch_tick()

    def _epoch_tick(self) -> int:
        return int(time.time() / self.interval)

    def initialOffset(self) -> dict:
        return {"tick": self._epoch_tick()}

    def latestOffset(self) -> dict:
        self._max_tick = max(self._max_tick, self._epoch_tick())
        return {"tick": self._max_tick}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return [
            _HostTickPartition(h, self.port, self.namespace, start["tick"], end["tick"])
            for h in self.hosts
        ]

    def commit(self, end: dict) -> None:
        pass


class MetricsSnapshotBatchReader(_HostReader, DataSourceReader):
    def partitions(self) -> list[InputPartition]:
        return [_HostTickPartition(h, self.port, self.namespace, 0, 1) for h in self.hosts]


class MetricsSnapshotDataSource(DataSource):
    """format("metrics_snapshot") — options: hosts (csv), port, namespace,
    interval (seconds, default 1 = reference ReportingInterval)."""

    @classmethod
    def name(cls) -> str:
        return "metrics_snapshot"

    def schema(self) -> StructType:
        return SOURCE_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return MetricsSnapshotBatchReader(schema, self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return MetricsSnapshotStreamReader(schema, self.options)
