"""Codec and topic read-back probe, run inside the traced collector run.

The collector's own volume is too small to time the codec layers, so the
traced run also pushes a seeded topic (``N_HOSTS`` hosts x ``N_TICKS``
one-second ticks, 200 metrics each, the reference record shape) through
``enrich_envelope``, ``envelope_to_json`` and ``to_confluent_avro``, writes
each encoding as a topic of parquet frames, and reads each back with
``parse_serialized_stream`` and ``windowed_metric_rates``. Each layer is
timed on its own: the input of every layer (the raw rows, the enriched
envelopes, each topic, the parsed envelopes) is written to parquet untimed,
and a partial pipeline reads it, applies that one layer and writes into the
noop sink. Metric values are built so that every one-minute window's count
and average have a closed form, which both read-backs must reproduce.

The topic holds 12 000 envelopes, not the 100 000 of a full-size topic: at
that size the probe alone takes minutes, and it must fit in the traced
collector run.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import harness as H

N_HOSTS = 20
N_TICKS = 600
N_METRICS = 200
N_FRAMES = 8
BASE_S = 1_767_225_600  # 2026-01-01T00:00:00Z, a minute boundary
STEP = 0.25
SCHEMA_ID = 7
CODECS = {"json": ("none", "functions.envelope"), "avro": ("avro", "functions.confluent")}


def metric_names() -> list[str]:
    return [f"slave/metric_{j:03d}" for j in range(N_METRICS)]


def base_values(seed: int) -> list[list[float]]:
    """Per host, per metric offset; a value is offset + STEP * (tick % 60)."""
    rng = random.Random(seed)
    return [[rng.randrange(0, 10**9) / 1000.0 for _ in range(N_METRICS)] for _ in range(N_HOSTS)]


def expected_windows(seed: int) -> dict[tuple[int, str, str], tuple[int, float]]:
    """(window start s, hostname, metric) → (count, average), in closed form:
    every window holds all 60 ticks of every host."""
    names = metric_names()
    ramp = sum(STEP * k for k in range(60)) / 60
    return {(BASE_S + 60 * w, f"host-{h:03d}", name): (60, row[j] + ramp)
            for h, row in enumerate(base_values(seed))
            for w in range(N_TICKS // 60)
            for j, name in enumerate(names)}


def envelopes(spark, seed: int):
    """The seeded input: one row per (host, tick) in the envelope's fields."""
    import pyspark.sql.functions as F

    bases = spark.createDataFrame(list(enumerate(base_values(seed))), "h INT, base ARRAY<DOUBLE>")
    names = F.array(*[F.lit(n) for n in metric_names()])
    t = F.col("id") % N_TICKS
    h = (F.col("id") / N_TICKS).cast("int")
    return (
        spark.range(0, N_HOSTS * N_TICKS, numPartitions=N_FRAMES)
        .select(h.alias("h"), t.alias("t"))
        .join(F.broadcast(bases), "h")
        .select(
            F.format_string("slave-host-%03d", "h").alias("SlaveID"),
            F.format_string("host-%03d", "h").alias("Hostname"),
            F.lit(5051).alias("Port"),
            F.lit("perfbench").alias("Namespace"),
            ((F.lit(BASE_S) + F.col("t")) * 1_000_000_000 + F.col("h") * 1000).alias("Timestamp"),
            F.map_from_arrays(names, F.transform("base", lambda b: b + F.lit(STEP) * (F.col("t") % 60)))
            .alias("Metrics"))
    )


class CodecProbe:
    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.dir = os.path.join(H.WORK, "codec")

    def _path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    @staticmethod
    def _enriched(inp):
        import pyspark.sql.functions as F

        from syscol_spark.functions.envelope import enrich_envelope

        return inp.select(enrich_envelope(
            F.col("Metrics"), slave_id=F.col("SlaveID"), hostname=F.col("Hostname"), port=F.col("Port"),
            namespace=F.col("Namespace"), timestamp_ns=F.col("Timestamp")).alias("envelope"))

    @staticmethod
    def _encoded(env, codec: str):
        import pyspark.sql.functions as F

        from syscol_spark.functions.confluent import to_confluent_avro
        from syscol_spark.functions.envelope import envelope_to_json

        e = F.col("envelope")
        v = envelope_to_json(e).cast("binary") if codec == "json" else to_confluent_avro(e, SCHEMA_ID)
        return env.select(v.alias("value"))

    def _parsed(self, spark, codec: str):
        from syscol_spark.streaming.analytics import parse_serialized_stream

        return parse_serialized_stream(spark.read.parquet(self._path(f"topic_{codec}")), transform=CODECS[codec][0])

    def _windows(self, spark, codec: str):
        from syscol_spark.streaming.analytics import windowed_metric_rates

        return windowed_metric_rates(self._parsed(spark, codec))

    def run(self, spark) -> tuple[dict, int]:
        """Time every layer; returns (layer metrics, read-backs that differ
        from the closed form)."""
        import pyspark.sql.functions as F

        from syscol_spark.streaming.analytics import windowed_metric_rates

        shutil.rmtree(self.dir, ignore_errors=True)
        sc = spark.sparkContext
        n = N_HOSTS * N_TICKS

        def timed(group: str, action) -> float:
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            with self.tracer.span(group):
                action()
            return time.perf_counter() - t0

        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()

        def materialize(df, name: str) -> None:
            sc.setJobGroup("codec.inputs", "codec.inputs")
            with self.tracer.span("inputs.codec"):
                df.write.mode("overwrite").parquet(self._path(name))

        materialize(envelopes(spark, self.seed), "input")
        inp = spark.read.parquet(self._path("input"))
        out = {"codec.enrich_s": timed("functions.envelope.enrich", noop(self._enriched(inp)))}
        materialize(self._enriched(inp), "enriched")
        env = spark.read.parquet(self._path("enriched"))
        for codec, (_, layer) in CODECS.items():
            out[f"codec.{codec}_encode_s"] = timed(f"{layer}.encode", noop(self._encoded(env, codec)))
            write_s = timed(f"{layer}.write", lambda c=codec: self._encoded(self._enriched(inp), c)
                            .write.mode("overwrite").parquet(self._path(f"topic_{c}")))
            out[f"codec.{codec}_decode_s"] = timed(f"{layer}.decode", noop(self._parsed(spark, codec)))
            read_s = timed(f"streaming.analytics.window_{codec}", noop(self._windows(spark, codec)))
            sc.setJobGroup("codec.bytes", "codec.bytes")
            with self.tracer.span("codec.bytes"):
                size = spark.read.parquet(self._path(f"topic_{codec}")).select(F.sum(F.length("value"))).first()[0]
            out[f"codec.{codec}_bytes_per_envelope"] = size / n
            out[f"topic.{codec}_write_eps"] = n / write_s
            out[f"topic.{codec}_read_eps"] = n / read_s
        materialize(self._parsed(spark, "json"), "parsed")
        parsed = spark.read.parquet(self._path("parsed"))
        out["analytics.window_agg_s"] = timed("streaming.analytics.window", noop(windowed_metric_rates(parsed)))
        sc.setJobGroup("verify", "verify")
        with self.tracer.span("verify.codec"):
            bad = self.verify(spark)
        return out, bad

    def verify(self, spark) -> int:
        """Both read-backs against the closed form; returns how many differ."""
        import pyspark.sql.functions as F

        want = expected_windows(self.seed)
        bad = 0
        for codec in CODECS:
            rows = self._windows(spark, codec).select(
                F.col("window_start").cast("long").alias("ws"), "hostname", "metric", "n", "avg_value").collect()
            got = {(r["ws"], r["hostname"], r["metric"]): (r["n"], r["avg_value"]) for r in rows}
            ok = got.keys() == want.keys() and all(
                got[k][0] == n and abs(got[k][1] - a) <= 1e-9 * max(1.0, abs(a)) for k, (n, a) in want.items())
            if not ok:
                print(f"{codec} topic read-back differs from the closed form", flush=True)
                bad += 1
        return bad
