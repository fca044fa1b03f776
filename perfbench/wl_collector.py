"""collector_fleet: the paper's data plane under an open loop.

The real ``streaming.pipeline.build_pipeline`` (transform=avro) polls a stub
fleet of ``N_HOSTS`` loopback hosts on a 1 s interval. The offered load is
set by the source's own wall-clock ticks, not by how fast the program keeps
up. Every committed Avro frame is decoded by the benchmark's own decoder and
compared with what the stub served that host for that request.

Accounting: the source's offsets are epoch ticks, and tick ``n`` falls due
at ``n * interval``. A micro-batch covering ticks ``(start, end]`` scrapes
each host once, so it delivers tick ``end`` and the ticks it coalesced are
missed. A delivered tick's lag is the batch's commit time minus its due time;
every host of a batch shares that commit, so lags are taken once per batch.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import subprocess
import sys
import time
import urllib.request

import harness as H
import stubfleet as S

N_HOSTS = 12
INTERVAL_S = 1.0
WARM_BATCHES = 1
NAMESPACE = "perfbench"
# The generator is the bottleneck when the stub answers healthy hosts this
# slowly or is this busy; such a run is reported invalid, not dropped.
MAX_SERVE_P95_MS = 100.0
MAX_STUB_BUSY = 0.8
# One lag per committed batch: about eight batches in a 20 s window put two
# beyond p75, the highest percentile that rests on more than one batch.
TAIL_Q = 75


# --- independent Confluent-Avro decoder ---------------------------------------------

def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return (result >> 1) ^ -(result & 1), pos
        shift += 7


def _blob(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _varint(buf, pos)
    if n < 0 or pos + n > len(buf):
        raise ValueError("bad length")
    return buf[pos:pos + n], pos + n


def decode_frame(frame: bytes) -> tuple[int, dict]:
    """Confluent frame (magic 0, big-endian schema id, Avro body) of the
    SlaveMetrics record → (schema id, record with Metrics parsed as JSON)."""
    if len(frame) < 5 or frame[0] != 0:
        raise ValueError("bad magic byte")
    schema_id = int.from_bytes(frame[1:5], "big")
    pos = 5
    rec: dict = {}
    for field, kind in (("SlaveID", "s"), ("Hostname", "s"), ("Port", "i"),
                        ("Namespace", "s"), ("Timestamp", "i"), ("Metrics", "b")):
        if kind == "i":
            rec[field], pos = _varint(frame, pos)
        else:
            raw, pos = _blob(frame, pos)
            rec[field] = raw.decode("utf-8") if kind == "s" else raw
    if pos != len(frame):
        raise ValueError("trailing bytes")
    rec["Metrics"] = json.loads(rec["Metrics"].decode("utf-8") or "{}")
    return schema_id, rec


# --- tick accounting ----------------------------------------------------------------

def tick_accounting(batches: list[dict], delivered: dict[int, set[str]], healthy: set[str],
                    interval: float, since_s: float) -> dict:
    """Steady-state cadence over the given committed batches.

    ``batches``: dicts with batch_id, start_tick, end_tick and commit_s (epoch
    seconds), in batch order. ``delivered``: batch id → healthy hosts whose
    envelope in that batch is intact. Healthy host-ticks due are every tick in
    (first start, last end] for every healthy host. ``lags_ms`` holds one lag
    per batch that delivered a healthy host. The delivery rate counts the
    window's envelopes over the time from ``since_s`` (the commit before the
    window) to the last commit."""
    if not batches:
        return {"due": 0, "delivered": 0, "missed_frac": 1.0, "lags_ms": [], "envelopes_per_s": 0.0,
                "window_s": 0.0}
    ticks = batches[-1]["end_tick"] - batches[0]["start_tick"]
    due = ticks * len(healthy)
    got = 0
    lags: list[float] = []
    for b in batches:
        hosts = delivered.get(b["batch_id"], set()) & healthy
        got += len(hosts)
        if hosts:
            lags.append((b["commit_s"] - b["end_tick"] * interval) * 1e3)
    window = batches[-1]["commit_s"] - since_s
    return {"due": due, "delivered": got, "missed_frac": 1.0 - got / due if due else 1.0,
            "lags_ms": lags, "envelopes_per_s": got / window if window > 0 else 0.0, "window_s": window}


# --- stub fleet process -------------------------------------------------------------

class StubFleet:
    """The stub fleet as a child process; ``close`` stops it and waits."""

    def __init__(self, seed: int):
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            self.port = s.getsockname()[1]
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(H.BENCH_DIR, "stubfleet.py"), "--port", str(self.port),
             "--hosts", str(N_HOSTS), "--seed", str(seed), "--interval", str(INTERVAL_S)],
            stdout=subprocess.PIPE, text=True)
        if self.proc.stdout.readline().strip() != "READY":
            self.close()
            raise RuntimeError("stub fleet did not start")
        self.roles = S.fleet_roles(N_HOSTS)

    def log(self) -> dict:
        with urllib.request.urlopen(f"http://127.0.0.1:{self.port}/_bench/log", timeout=30) as r:
            return json.loads(r.read())

    def close(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


# --- workload -----------------------------------------------------------------------

class Collector:
    name = "collector_fleet"

    def __init__(self, ctx):
        self.ctx = ctx
        self.stub: StubFleet | None = None

    def make_inputs(self) -> None:
        self.stub = StubFleet(self.ctx.seed)
        self.ctx.rss.exclude.add(self.stub.proc.pid)

    def close(self) -> None:
        if self.stub is not None:
            self.stub.close()

    def warm(self, spark) -> None:
        """Lane warm-up: one batch read of one healthy host through the
        program's source, which starts a Python worker and compiles the scan."""
        from syscol_spark.sources.metrics_http import MetricsSnapshotDataSource

        spark.dataSource.register(MetricsSnapshotDataSource)
        healthy = [S.host_address(i) for i, r in enumerate(self.stub.roles) if r == "healthy"]
        hosts = healthy[0]
        (spark.read.format("metrics_snapshot").option("hosts", hosts).option("port", str(self.stub.port))
         .load().write.format("noop").mode("overwrite").save())

    def config(self):
        from syscol_spark.config import TRANSFORM_AVRO, CollectorConfig

        return CollectorConfig(
            topic="metrics", transform=TRANSFORM_AVRO, schema_registry_url=f"http://127.0.0.1:{self.stub.port}",
            reporting_interval_secs=INTERVAL_S, namespace=NAMESPACE,
            hosts=[S.host_address(i) for i in range(N_HOSTS)], port=self.stub.port)

    def layers(self, spark) -> tuple[dict, int, int]:
        """Codec and read-back layers, timed on a seeded topic (traced runs
        only). Returns (layer metrics, attempted, failed)."""
        from codec_probe import CODECS, CodecProbe

        out, bad = CodecProbe(self.ctx.seed, self.ctx.tracer).run(spark)
        return out, len(CODECS), bad

    def measure(self, spark, phase: str, require_window: bool = True) -> dict:
        """Run the pipeline for warm-up batches plus ``seconds``; return the
        end-to-end figures, the detail and the layer figures."""
        from syscol_spark.streaming.pipeline import build_pipeline

        tr = self.ctx.tracer
        base = os.path.join(H.WORK, "collector", phase)
        shutil.rmtree(base, ignore_errors=True)
        ckpt = os.path.join(base, "ckpt")
        with tr.span("streaming.pipeline.build"):
            writer = build_pipeline(spark, self.config(), checkpoint_dir=ckpt)
        with tr.span("streaming.pipeline.run"):
            q = writer.start()
            try:
                deadline = time.time() + 60
                while (q.lastProgress is None or _progress(q.lastProgress)["batch_id"] < WARM_BATCHES - 1) \
                        and time.time() < deadline:
                    time.sleep(0.05)
                t0 = time.time()
                time.sleep(self.ctx.seconds)
                t1 = time.time()
                progress = [_progress(p) for p in q.recentProgress]
                tracker = spark.sparkContext.statusTracker()
                job_ids = list(tracker.getJobIdsForGroup(q.runId))
            finally:
                q.stop()
        with tr.span("verify.collector"):
            return self._account(tracker, job_ids, progress, ckpt, t0, t1, require_window)

    def _account(self, tracker, job_ids, progress, ckpt, t0, t1, require_window: bool) -> dict:
        commits = {}
        for b in progress:
            path = os.path.join(ckpt, "commits", str(b["batch_id"]))
            if os.path.exists(path) and b["start_tick"] is not None:
                commits[b["batch_id"]] = os.stat(path).st_mtime_ns / 1e9
        window = [dict(b, commit_s=commits[b["batch_id"]]) for b in progress
                  if b["batch_id"] >= WARM_BATCHES and b["batch_id"] in commits and t0 <= commits[b["batch_id"]] <= t1]
        frames, sink_files, sink_bytes = _sink_frames(ckpt + "_out", {b["batch_id"] for b in window})
        roles = {S.host_address(i): r for i, r in enumerate(self.stub.roles)}
        index = {S.host_address(i): i for i in range(N_HOSTS)}
        healthy = {h for h, r in roles.items() if r == "healthy"}
        delivered: dict[int, set[str]] = {}
        seq_of: dict[tuple[str, int], int] = {}
        errors = {k: 0 for k in S.HOSTILE}
        attempted = failed = 0
        for batch_id, frame in frames:
            attempted += 1
            ok, host, seq = self._check_frame(frame, roles, index)
            if not ok:
                failed += 1
                continue
            if seq is None:
                if roles[host] == "healthy":
                    failed += 1
                else:
                    errors[roles[host]] += 1
                continue
            if roles[host] == "healthy":
                delivered.setdefault(batch_id, set()).add(host)
                seq_of[(host, batch_id)] = seq
        since = max((c for b, c in commits.items() if window and b < window[0]["batch_id"]), default=t0)
        acct = tick_accounting(window, delivered, healthy, INTERVAL_S, since)
        log = self.stub.log()
        arrivals = {(r[0], r[1]): r for r in log["requests"]}
        due_at = {b["batch_id"]: b["end_tick"] * INTERVAL_S for b in window}
        delays = [(arrivals[(index[h], s)][2] / 1e9 - due_at[b]) * 1e3
                  for (h, b), s in seq_of.items() if (index[h], s) in arrivals]
        lo = window[0]["start_tick"] * INTERVAL_S if window else t0
        hi = window[-1]["commit_s"] if window else t1
        healthy_idx = {index[h] for h in healthy}
        reqs = [r for r in log["requests"] if r[0] in healthy_idx and lo <= r[2] / 1e9 <= hi]
        serve = [(r[3] - r[2]) / 1e6 for r in log["requests"] if r[0] in healthy_idx]
        busy = log["cpu_s"] / max(log["wall_s"], 1e-9)
        serve_p95 = H.percentile(serve, 95) if serve else 0.0
        invalid = []
        if serve_p95 > MAX_SERVE_P95_MS:
            invalid.append(f"stub serve p95 {serve_p95:.1f} ms > {MAX_SERVE_P95_MS} ms")
        if busy > MAX_STUB_BUSY:
            invalid.append(f"stub busy {busy:.2f} > {MAX_STUB_BUSY}")
        if require_window and len(window) < 2:
            invalid.append(f"only {len(window)} steady-state batches committed")
        lags = acct["lags_ms"] or [0.0]
        n_batches = max(len(progress), 1)
        stages = [s for j in job_ids if (info := tracker.getJobInfo(j)) for s in info.stageIds]
        tasks = sum(st.numTasks for s in stages if (st := tracker.getStageInfo(s)))
        rows_window = sum(b["rows"] for b in window) or 1
        p50, p75, p95 = (H.percentile(lags, q) for q in (50, TAIL_Q, 95))
        return {
            "attempted": attempted, "failed": failed, "invalid": invalid,
            "e2e": {
                "throughput_per_s": acct["envelopes_per_s"],
                "latency_p50_ms": p50,
                "latency_tail_ms": p75,
            },
            "detail": {
                "collector.envelopes_per_s": (acct["envelopes_per_s"], "1/s"),
                "collector.missed_tick_frac": (acct["missed_frac"], "fraction"),
                "collector.lag_p50_ms": (p50, "ms"),
                f"collector.lag_p{TAIL_Q}_ms": (p75, "ms"),
                "collector.lag_p95_ms": (p95, "ms"),
                "collector.lag_batches": (len(acct["lags_ms"]), "count"),
                f"collector.lag_beyond_p{TAIL_Q}": (H.beyond(lags, TAIL_Q), "count"),
                "collector.window_batches": (len(window), "count"),
                "collector.window_s": (acct["window_s"], "s"),
            },
            "layers": {
                "scrape.start_delay_p50_ms": H.percentile(delays, 50) if delays else 0.0,
                "scrape.start_delay_p95_ms": H.percentile(delays, 95) if delays else 0.0,
                "scrape.requests_per_due_tick": len(reqs) / acct["due"] if acct["due"] else 0.0,
                **{f"scrape.errors.{k}": float(v) for k, v in errors.items()},
                "scrape.serve_p95_ms": serve_p95,
                "scrape.stub_busy_frac": busy,
                "stream.batch_ms_p50": _med([b["trigger_ms"] for b in window]),
                **{f"stream.{k}_ms_p50": _med([b[k] for b in window]) for k in H.STREAM_PHASES},
                "stream.jobs_per_batch": len(job_ids) / n_batches,
                "stream.tasks_per_batch": tasks / n_batches,
                "stream.sink_files_per_batch": sink_files / max(len(window), 1),
                "stream.sink_bytes_per_envelope": sink_bytes / rows_window,
            },
        }

    def _check_frame(self, frame: bytes, roles: dict, index: dict):
        """(frame is right, host, request number or None for an error
        envelope). An error envelope has empty metrics; any non-empty
        metrics must equal the numeric part of what the stub served."""
        try:
            schema_id, rec = decode_frame(frame)
        except (ValueError, IndexError, UnicodeDecodeError):
            return False, None, None
        host = rec["Hostname"]
        if schema_id != S.SCHEMA_ID or host not in roles or rec["Port"] != self.stub.port \
                or rec["Namespace"] != NAMESPACE or rec["SlaveID"] != f"slave-{host}:{self.stub.port}":
            return False, host, None
        m = rec["Metrics"]
        if not m:
            return True, host, None
        seq = m.get(S.SEQ_METRIC)
        if not isinstance(seq, float) or seq != int(seq):
            return False, host, None
        return m == S.numeric_payload(self.ctx.seed, index[host], int(seq)), host, int(seq)


def _progress(p) -> dict:
    return H.parse_progress(json.loads(p.json) if hasattr(p, "json") else p)


def _med(xs: list[float]) -> float:
    return H.median(xs) if xs else 0.0


def _sink_frames(sink_dir: str, batch_ids: set[int]) -> tuple[list[tuple[int, bytes]], int, int]:
    """(batch id, value) of every frame the parquet sink committed in the
    given batches, with their file count and bytes, from the sink's metadata
    log. Every tenth log file is a compaction holding all earlier entries, so
    a batch's files are the entries not seen in an earlier batch."""
    import pyarrow.parquet as pq

    log_dir = os.path.join(sink_dir, "_spark_metadata")
    frames: list[tuple[int, bytes]] = []
    n_files = n_bytes = 0
    seen: set[str] = set()
    for b in range(max(batch_ids, default=-1) + 1):
        name = next((n for n in (str(b), f"{b}.compact") if os.path.exists(os.path.join(log_dir, n))), None)
        if name is None:
            continue
        with open(os.path.join(log_dir, name)) as fh:
            entries = [json.loads(line) for line in fh.read().splitlines()[1:] if line.strip()]
        new = [e for e in entries if e["path"] not in seen]
        seen.update(e["path"] for e in new)
        if b not in batch_ids:
            continue
        for e in new:
            n_files += 1
            n_bytes += int(e.get("size", 0))
            path = e["path"].removeprefix("file://").removeprefix("file:")
            frames.extend((b, v) for v in pq.read_table(path, columns=["value"]).column("value").to_pylist())
    return frames, n_files, n_bytes
