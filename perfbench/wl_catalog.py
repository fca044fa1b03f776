"""catalog_mix: passes over a fixed list of catalog queries, closed loop,
one client, each query into the noop sink.

The list spans three execution lanes: ``jvm`` (codegen'd relational plans),
``arrow`` (pandas UDFs / mapInPandas) and ``iterative`` (localCheckpoint or
driver loops). The seed rotates the pass order. The input tables are
generated once per checkout (``catalog_data``, fixed content) so that every
seed measures the same per-query work. An untimed first pass compares each
query's rows with its DuckDB oracle and runs it once into noop as a warm-up.
"""

from __future__ import annotations

import os
import time

import harness as H

SCALE = 0.01
DATA_SEED = 42
# A query's lane is what its plan runs: q_tfidf and q_minhash_lsh cut their
# lineage with localCheckpoint and start no Python worker, so they are
# iterative; q_multimodal_features runs mapInPandas.
QUERIES = {
    "jvm": ["q01_pricing_summary", "q_ev_dedup", "q_ev_funnel", "q_cdc_compact"],
    "arrow": ["q_multimodal_features"],
    "iterative": ["q_tfidf", "q_minhash_lsh", "q_nearest_centroid", "q_dedup_keep_best"],
}
LANE_OF = {q: lane for lane, qs in QUERIES.items() for q in qs}
TAIL_Q = 75
MIN_BEYOND = 10
# A run is a fixed amount of work, five passes (45 samples, 11 beyond p75;
# about 30 s on 4 cores), so every run measures the same samples.
PASSES = 5


def pass_order(seed: int) -> list[str]:
    names = [q for qs in QUERIES.values() for q in qs]
    k = seed % len(names)
    return names[k:] + names[:k]


class Catalog:
    name = "catalog_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(H.WORK, f"catalog-sf{SCALE}-seed{DATA_SEED}")
        self.order = pass_order(ctx.seed)

    def make_inputs(self) -> None:
        import catalog_data

        if not os.path.exists(os.path.join(self.data, "_DONE")):
            catalog_data.generate(self.data, SCALE, DATA_SEED)
            open(os.path.join(self.data, "_DONE"), "w").close()

    def warm(self, spark) -> None:
        """Lane warm-up: catalog import plus one tiny job per lane."""
        import pandas as pd
        import pyspark.sql.functions as F

        from syscol_spark.plans.catalog import QUERIES as SPECS
        from syscol_spark.plans.catalog import _ensure_loaded

        _ensure_loaded()
        missing = [q for q in LANE_OF if q not in SPECS]
        if missing:
            raise KeyError(f"catalog lacks {missing}")
        df = spark.range(64, numPartitions=2)
        df.groupBy((F.col("id") % 4).alias("k")).count().write.format("noop").mode("overwrite").save()
        df.mapInPandas(lambda it: (pd.DataFrame({"id": b["id"] + 1}) for b in it), "id long") \
            .write.format("noop").mode("overwrite").save()
        df.localCheckpoint().count()

    def verify_pass(self, spark) -> tuple[int, int]:
        """Untimed pass: every query's rows against its DuckDB oracle, then
        the query once more into noop, so that the JIT has compiled the
        measured path before the first timed pass. Returns (attempted, failed)."""
        from scripts.parity import duck_connection, normalize, values_equal
        from syscol_spark.plans.catalog import QUERIES as SPECS

        def same_rows(a: list[tuple], b: list[tuple]) -> bool:
            return len(a) == len(b) and all(len(r) == len(s) and all(map(values_equal, r, s)) for r, s in zip(a, b))

        con = duck_connection(self.data)
        failed = 0
        sc = spark.sparkContext
        for q in self.order:
            spec = SPECS[q]
            sc.setJobGroup(f"verify:{q}", q)
            with self.ctx.tracer.span("verify.catalog"):
                try:
                    sdf = spec.builder(spark, self.data)
                    got = normalize([tuple(r) for r in sdf.collect()], [c.lower() for c in sdf.columns])
                    ok = True
                    if spec.oracle is not None:
                        rel = con.sql(spec.oracle)
                        ok = same_rows(got, normalize(rel.fetchall(), [c.lower() for c in rel.columns]))
                    spec.builder(spark, self.data).write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 — a failing query is counted, the pass goes on
                    print(f"catalog {q} failed: {type(e).__name__}: {str(e)[:300]}", flush=True)
                    ok = False
            failed += not ok
        con.close()
        return len(self.order), failed

    def measure(self, spark, phase: str, passes: int = PASSES) -> dict:
        from syscol_spark.plans.catalog import QUERIES as SPECS

        tr = self.ctx.tracer
        sc = spark.sparkContext
        lat: list[float] = []
        build: list[float] = []
        pass_s: list[float] = []
        lane_wall = {lane: 0.0 for lane in QUERIES}
        attempted = failed = 0
        for _ in range(passes):
            p0 = time.perf_counter()
            for q in self.order:
                lane = LANE_OF[q]
                attempted += 1
                try:
                    sc.setJobGroup(f"build:{lane}:{q}", q)
                    t0 = time.perf_counter()
                    with tr.span("plans.build"):
                        df = SPECS[q].builder(spark, self.data)
                    t1 = time.perf_counter()
                    sc.setJobGroup(f"exec:{lane}:{q}", q)
                    with tr.span(f"exec.{lane}"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                except Exception as e:  # noqa: BLE001 — a failing query is counted, the pass goes on
                    print(f"catalog {q} failed: {type(e).__name__}: {str(e)[:300]}", flush=True)
                    failed += 1
                    continue
                lat.append(1e3 * (t2 - t0))
                build.append(1e3 * (t1 - t0))
                lane_wall[lane] += t2 - t1
            pass_s.append(time.perf_counter() - p0)
        mix = H.median(pass_s)
        beyond = H.beyond(lat, TAIL_Q)
        invalid = []
        if passes == PASSES and beyond < MIN_BEYOND:
            invalid.append(f"{beyond} query samples beyond p{TAIL_Q}, fewer than {MIN_BEYOND}")
        return {
            "attempted": attempted, "failed": failed, "invalid": invalid,
            "e2e": {
                "throughput_per_s": len(self.order) / mix,
                "latency_p50_ms": H.percentile(lat, 50),
                "latency_tail_ms": H.percentile(lat, TAIL_Q),
            },
            "detail": {
                "catalog.mix_s": (mix, "s"),
                "catalog.query_p50_ms": (H.percentile(lat, 50), "ms"),
                f"catalog.query_p{TAIL_Q}_ms": (H.percentile(lat, TAIL_Q), "ms"),
                "catalog.samples": (len(lat), "count"),
                f"catalog.beyond_p{TAIL_Q}": (beyond, "count"),
                "catalog.passes": (len(pass_s), "count"),
                "catalog.pass_min_s": (min(pass_s), "s"),
                "catalog.pass_max_s": (max(pass_s), "s"),
            },
            "phase_wall": lane_wall,
            "layers": {"plans.build_ms_p50": H.percentile(build, 50)},
        }
