"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Workloads:
``collector_fleet`` and ``catalog_mix`` (see README.md).

With ``--trace 0`` the run measures the end-to-end metrics with tracing off.
With ``--trace 1`` it measures once untraced, then again with spans and
Spark's JSON event log on, and reports the per-layer metrics, the tracing
overhead and the share of wall time the spans explain.

Earlier lines of standard output carry the detail (each workload's own
metric names, host health); the last line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

import harness as H

CORES = min(os.cpu_count() or 4, 4)

# Generic end-to-end metrics; each workload's meaning is in README.md.
END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("throughput_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
]

EXEC_FIELDS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("launch_overhead_s", "s"),
               ("cpu_s", "s"), ("shuffle_write_bytes", "bytes"), ("shuffle_fetch_wait_s", "s"),
               ("gc_s", "s"), ("spill_bytes", "bytes"), ("python_s", "s")]
SELF_LAYERS = {
    "session": ("session.",),
    "streaming_pipeline": ("streaming.pipeline.",),
    "functions_envelope": ("functions.envelope.",),
    "functions_confluent": ("functions.confluent.",),
    "streaming_analytics": ("streaming.analytics.",),
    "plans": ("plans.",),
    **{f"exec_{lane}": (f"exec.{lane}",) for lane in H.LANES},
    "verify": ("verify.",),
}

PER_LAYER = [
    ("scrape.start_delay_p50_ms", "ms"), ("scrape.start_delay_p95_ms", "ms"),
    ("scrape.requests_per_due_tick", "ratio"),
    *[(f"scrape.errors.{k}", "count") for k in ("down", "http_5xx", "non_numeric", "slow")],
    ("scrape.serve_p95_ms", "ms"), ("scrape.stub_busy_frac", "fraction"),
    ("stream.batch_ms_p50", "ms"),
    *[(f"stream.{k}_ms_p50", "ms") for k in H.STREAM_PHASES],
    ("stream.jobs_per_batch", "count"), ("stream.tasks_per_batch", "count"),
    ("stream.sink_files_per_batch", "count"), ("stream.sink_bytes_per_envelope", "bytes"),
    ("codec.enrich_s", "s"), ("codec.json_encode_s", "s"), ("codec.avro_encode_s", "s"),
    ("codec.json_decode_s", "s"), ("codec.avro_decode_s", "s"),
    ("codec.json_bytes_per_envelope", "bytes"), ("codec.avro_bytes_per_envelope", "bytes"),
    ("codec.python_s", "s"),
    *[(f"topic.{c}_{k}_eps", "1/s") for c in ("json", "avro") for k in ("write", "read")],
    ("analytics.window_agg_s", "s"), ("analytics.shuffle_write_bytes", "bytes"),
    ("plans.build_ms_p50", "ms"), ("plans.eager_jobs", "count"), ("plans.collected_bytes", "bytes"),
    *[(f"exec.{lane}.{f}", u) for lane in H.LANES for f, u in EXEC_FIELDS],
    *[(f"self.{k}_s", "s") for k in SELF_LAYERS],
    ("trace.overhead_throughput_per_s", "1/s"), ("trace.overhead_latency_p50_ms", "ms"),
    ("trace.overhead_latency_tail_ms", "ms"),
    ("trace.explained_frac", "fraction"), ("trace.measure_explained_frac", "fraction"),
    ("baseline_local1.throughput_per_s", "1/s"), ("baseline_local1.latency_p50_ms", "ms"),
    ("host.loadavg_1m", "load"), ("host.steal_frac", "fraction"),
]


class Ctx:
    def __init__(self, seed: int, seconds: float, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = H.Tracer(run_id=f"seed{seed}-{os.getpid()}", enabled=trace)
        self.rss = H.RssSampler()


def _collector(ctx: Ctx):
    from wl_collector import Collector
    return Collector(ctx)


def _catalog(ctx: Ctx):
    from wl_catalog import Catalog
    return Catalog(ctx)


WORKLOADS = {"collector_fleet": _collector, "catalog_mix": _catalog}


def measure_opts(wl) -> dict:
    """Traced runs measure one catalog pass per phase and do not require a
    steady-state window of the collector: their figures carry no bound."""
    return {"passes": 1} if wl.name == "catalog_mix" else {"require_window": False}


def set_up(wl, ctx: Ctx, cores: int):
    """The cold set-up: JVM and session start plus the workload's warm-up
    (catalog import, first jobs, first Python worker). Returns (spark, seconds)."""
    t0 = time.perf_counter()
    with ctx.tracer.span("session.start"):
        spark = H.start_session(cores)
    with ctx.tracer.span("setup.warm"):
        wl.warm(spark)
    return spark, time.perf_counter() - t0


def run(args) -> dict:
    ctx = Ctx(args.seed, args.seconds, bool(args.trace))
    wl = WORKLOADS[args.workload](ctx)
    tr = ctx.tracer
    cpu0 = H.cpu_times()
    out: dict = {"attempted": 0, "failed": 0, "invalid": [], "metrics": {}, "detail": {}}
    spark = None
    with ctx.rss, tr.span("run"):
        try:
            with tr.span("inputs"):
                wl.make_inputs()
            with tr.span("setup"):
                spark, setup_s = set_up(wl, ctx, CORES)
            if hasattr(wl, "verify_pass"):
                att, bad = wl.verify_pass(spark)
                out["attempted"] += att
                out["failed"] += bad
            if ctx.trace:
                spark = traced(wl, ctx, spark, out)
            else:
                ctx.rss.sample()
                ctx.rss.peak = 0
                with tr.span("measure"):
                    res = wl.measure(spark, "main")
                ctx.rss.sample()
                merge(out, res)
                out["metrics"] = {
                    "setup_s": setup_s,
                    "peak_rss_mb": ctx.rss.peak / 2**20,
                    **res["e2e"],
                }
        finally:
            if spark is not None:
                with tr.span("teardown"):
                    spark.stop()
            if hasattr(wl, "close"):
                wl.close()
    health = H.host_health(cpu0, H.cpu_times())
    out["detail"].update({k: (v, "") for k, v in health.items()})
    if ctx.trace:
        spans = tr.spans
        out["layers"].update(health)
        out["layers"]["trace.explained_frac"] = H.explained_share(spans, spans[0])
        st = H.self_times(spans)
        for key, prefixes in SELF_LAYERS.items():
            out["layers"][f"self.{key}_s"] = sum(v for n, v in st.items() if n.startswith(prefixes))
        tr.write(os.path.join(H.WORK, "trace", f"{args.workload}-seed{args.seed}.json"))
        out["metrics"] = {name: float(out["layers"].get(name, 0.0)) for name, _ in PER_LAYER}
    return out


def merge(out: dict, res: dict) -> None:
    out["attempted"] += res["attempted"]
    out["failed"] += res["failed"]
    out["invalid"] += res["invalid"]
    out["detail"].update(res["detail"])


def traced(wl, ctx: Ctx, spark, out: dict):
    """Untraced phase, then a phase with spans and the event log on, then
    (collector only) a local[1] baseline. Returns the live session, if any."""
    tr = ctx.tracer
    out["layers"] = {}
    ctx.seconds = max(ctx.seconds / 2, 5.0)  # three measured phases share one run's time limit
    with tr.span("measure.untraced"):
        tr.enabled = False
        try:
            plain = wl.measure(spark, "untraced", **measure_opts(wl))
        finally:
            tr.enabled = True
    merge(out, plain)
    ev_dir = os.path.join(H.WORK, "eventlog", f"{wl.name}-seed{ctx.seed}")
    shutil.rmtree(ev_dir, ignore_errors=True)
    spark.stop()
    with tr.span("setup"):
        with tr.span("session.start"):
            spark = H.start_session(CORES, ev_dir)
        with tr.span("setup.warm"):
            wl.warm(spark)
    with tr.span("measure.traced"):
        res = wl.measure(spark, "traced", **measure_opts(wl))
        if hasattr(wl, "layers"):
            layers, att, bad = wl.layers(spark)
            out["layers"].update(layers)
            out["attempted"] += att
            out["failed"] += bad
    merge(out, res)
    measure_span = next(s for s in tr.spans if s["name"] == "measure.traced")
    out["layers"]["trace.measure_explained_frac"] = H.explained_share(tr.spans, measure_span)
    out["layers"].update(res["layers"])
    for k in ("throughput_per_s", "latency_p50_ms", "latency_tail_ms"):
        out["layers"][f"trace.overhead_{k}"] = res["e2e"][k] - plain["e2e"][k]
    with tr.span("teardown"):
        spark.stop()
    out["layers"].update(event_log_layers(H.read_event_logs(ev_dir), res))
    if wl.name == "collector_fleet":
        with tr.span("baseline_local1"):
            with tr.span("session.start"):
                spark = H.start_session(1)
            with tr.span("setup.warm"):
                wl.warm(spark)
            tr.enabled = False
            try:
                base = wl.measure(spark, "local1", **measure_opts(wl))
            finally:
                tr.enabled = True
        out["invalid"] += base["invalid"]
        out["layers"]["baseline_local1.throughput_per_s"] = base["e2e"]["throughput_per_s"]
        out["layers"]["baseline_local1.latency_p50_ms"] = base["e2e"]["latency_p50_ms"]
        return spark
    return None


def event_log_layers(lines: list[str], res: dict) -> dict:
    groups = H.parse_event_log(lines)["groups"]
    layers: dict[str, float] = {}
    wall = res.get("phase_wall", {})
    for lane in H.LANES:
        t = H.merge_groups(groups, lambda g, lane=lane: g.startswith(f"exec:{lane}:"))
        if not t:
            continue
        layers.update({
            f"exec.{lane}.jobs": t["jobs"], f"exec.{lane}.stages": t["stages"], f"exec.{lane}.tasks": t["tasks"],
            f"exec.{lane}.launch_overhead_s": wall.get(lane, 0.0) - t["run_s"] / CORES,
            f"exec.{lane}.cpu_s": t["cpu_s"], f"exec.{lane}.shuffle_write_bytes": t["shuffle_write_bytes"],
            f"exec.{lane}.shuffle_fetch_wait_s": t["fetch_wait_s"], f"exec.{lane}.gc_s": t["gc_s"],
            f"exec.{lane}.spill_bytes": t["spill_bytes"], f"exec.{lane}.python_s": t["python_s"],
        })
    passes = res["detail"].get("catalog.passes", (1, ""))[0] or 1
    build = H.merge_groups(groups, lambda g: g.startswith("build:"))
    if build:
        layers["plans.eager_jobs"] = build["jobs"] / passes
        layers["plans.collected_bytes"] = build["result_bytes"] / passes
    codec = H.merge_groups(groups, lambda g: g.startswith("functions.confluent."))
    if codec:
        layers["codec.python_s"] = codec["python_s"]
    window = H.merge_groups(groups, lambda g: g == "streaming.analytics.window")
    if window:
        layers["analytics.shuffle_write_bytes"] = window["shuffle_write_bytes"]
    return layers


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated run still stops its stub fleet and Spark in the finally blocks.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(H.ROOT, "syscol_spark")):
        print(f"no syscol_spark package beside {H.BENCH_DIR}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    H.prepare_environment()
    sys.path.insert(0, H.ROOT)
    H.become_subreaper()
    try:
        out = run(args)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # a second signal must not cut the clean-up short
        H.stop_descendants()
    for reason in out["invalid"]:
        print(f"INVALID RUN: {reason}", file=sys.stderr)
    detail = {k: {"value": v, "unit": u} for k, (v, u) in out["detail"].items()}
    print("DETAIL " + json.dumps(detail, sort_keys=True))
    units = dict(PER_LAYER if args.trace else END_TO_END)
    result = {
        "correct": out["failed"] == 0 and not out["invalid"],
        "attempted": max(int(out["attempted"]), 1),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in out["metrics"].items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
