"""Streaming analytics operators over the envelope stream (SURVEY.md §2.11):
event-time windows with watermark late-data handling, streaming dedup, and a
custom stateful operator via applyInPandasWithState.

These are the streaming twins of the batch queries in plans/events.py — the
column semantics are identical, so the oracle-checked batch results validate
this logic; tests here exercise the incremental/stateful execution itself.

Watermark policy: the envelope Timestamp is Unix-ns; event time is the
derived µs TimestampType. At 100 TB-scale ingest, the watermark bounds state:
window state is dropped ``delay`` behind the max observed event time, so
state size is O(hosts × windows-in-delay), independent of stream length.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from syscol_spark.functions.envelope import explode_envelope, parse_envelope_json


def with_event_time(stream: DataFrame, ts_ns_col: str = "envelope.Timestamp") -> DataFrame:
    return stream.withColumn("event_time", F.timestamp_micros(F.expr(f"{ts_ns_col} div 1000")))


def parse_serialized_stream(raw: DataFrame, *, transform: str = "none", value_col: str = "value") -> DataFrame:
    """Consumer side of the wire formats: a Kafka-shaped frame (binary
    ``value`` column) → typed envelope column, for either transform mode.
    Chain with the operators below exactly like the producer-side stream."""
    from syscol_spark.functions.confluent import from_confluent_avro

    v = F.col(value_col)
    if transform == "none":
        parsed = parse_envelope_json(v.cast("string"))
    elif transform == "avro":
        parsed = parse_envelope_json(from_confluent_avro(v))
    else:
        raise ValueError(f"unknown transform {transform!r}")
    return raw.select(parsed.alias("envelope"))


def long_view(stream: DataFrame) -> DataFrame:
    """Envelope stream → canonical long/narrow analytics view
    (SURVEY.md §1.5): one row per metric with µs event time + ns fidelity."""
    return explode_envelope(stream)


def windowed_metric_rates(
    stream: DataFrame,
    *,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-host per-window event-time aggregation with late-data handling:
    the M1 flagship query, incremental. Input: enriched_stream() output."""
    s = with_event_time(stream).withWatermark("event_time", watermark)
    win = F.window("event_time", window, slide) if slide else F.window("event_time", window)
    return (
        s.select(F.col("envelope.Hostname").alias("hostname"), "event_time",
                 F.explode("envelope.Metrics").alias("metric", "value"))
        .groupBy(win.alias("w"), "hostname", "metric")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "hostname", "metric", "n", "avg_value")
    )


def session_rollup(
    stream: DataFrame, *, gap: str = "30 seconds", watermark: str = "2 minutes"
) -> DataFrame:
    """Streaming session windows per host: sessions close ``gap`` after the
    last event and are finalized once the watermark passes the session end
    (SURVEY.md §7 hard-part 2: session windows + watermark, incremental).
    Batch twin: plans/events.py q_ev_session (oracle-checked)."""
    s = with_event_time(stream).withWatermark("event_time", watermark)
    return (
        s.groupBy(
            F.session_window("event_time", gap).alias("sw"),
            F.col("envelope.Hostname").alias("hostname"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum(F.size("envelope.Metrics")).alias("n_metrics"),
        )
        .select(
            "hostname",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_ticks",
            "n_metrics",
        )
    )


def dedup_stream(stream: DataFrame, *, watermark: str = "2 minutes") -> DataFrame:
    """Streaming exact-once-per-key dedup: dropDuplicates scoped by watermark
    so the dedup state ages out (unbounded keys would otherwise grow state
    forever — the reference has no dedup at all; SURVEY §2.11)."""
    s = (
        with_event_time(stream)
        .withColumn("slave_id", F.col("envelope.SlaveID"))  # dedup keys must be top-level
        .withWatermark("event_time", watermark)
    )
    if hasattr(s, "dropDuplicatesWithinWatermark"):
        return s.dropDuplicatesWithinWatermark(["slave_id", "event_time"])
    return s.dropDuplicates(["slave_id", "event_time"])


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    watermark: str = "2 minutes",
    band_seconds: int = 60,
) -> DataFrame:
    """Stream-stream inner join within a time band: left rows match right
    rows with the same key whose event time is within ``band_seconds`` at or
    before the left's. Both sides carry watermarks so Spark can bound the
    join state buffers (unwatermarked stream-stream joins grow state forever).

    Expects both inputs to already have ``event_time`` + the key column.
    """
    l = left.withWatermark("event_time", watermark).alias("l")
    r = right.withWatermark("event_time", watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"""
            l.{on} = r.{on} AND
            r.event_time BETWEEN l.event_time - INTERVAL {band_seconds} SECONDS
                             AND l.event_time
            """
        ),
    )


_COUNTER_SCHEMA = StructType(
    [
        StructField("hostname", StringType(), False),
        StructField("n_ticks", LongType(), False),
        StructField("ewma_metric_count", DoubleType(), False),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("ewma", DoubleType())]
)


def stateful_host_counters(stream: DataFrame, *, alpha: float = 0.3) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-host running
    tick count + EWMA of metrics-per-tick. The kind of operator the built-in
    window aggs can't express (cross-batch recursive state)."""

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (hostname,) = key
        n, ewma = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            for cnt in pdf["n_metrics"]:
                n += 1
                ewma = alpha * float(cnt) + (1 - alpha) * ewma
        state.update((n, ewma))
        yield pd.DataFrame({"hostname": [hostname], "n_ticks": [n], "ewma_metric_count": [ewma]})

    prepared = stream.select(
        F.col("envelope.Hostname").alias("hostname"),
        F.size("envelope.Metrics").alias("n_metrics"),
    )
    return prepared.groupBy("hostname").applyInPandasWithState(
        update,
        outputStructType=_COUNTER_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_ZSCORE_STATE = StructType([StructField("vals", ArrayType(DoubleType()))])
_ZSCORE_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("value", DoubleType()),
        StructField("zscore", DoubleType()),
    ]
)


def streaming_zscore_anomalies(
    stream: DataFrame,
    *,
    window: int = 20,
    min_n: int = 8,
    threshold: float = 3.0,
) -> DataFrame:
    """Streaming twin of q_ev_anomaly (plans/events.py): per-user rolling
    z-score over the trailing ``window`` values, self-excluded, sample
    variance, flag |z| > threshold once ``min_n`` priors exist.

    State is BOUNDED: one array of at most ``window`` doubles per user —
    independent of stream length, the invariant every stateful operator
    here maintains. Input must carry (user_id, event_id, ts_us, value);
    rows are processed in (ts_us, event_id) order within each micro-batch,
    so on an in-order stream the flagged set matches the batch twin exactly.
    """

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        (vals,) = state.get if state.exists else ([],)
        buf = list(vals)
        out: dict[str, list] = {"user_id": [], "event_id": [], "ts_us": [], "value": [], "zscore": []}
        for pdf in pdfs:
            for row in pdf.sort_values(["ts_us", "event_id"]).itertuples():
                v = float(row.value)
                n = len(buf)
                if n >= min_n:
                    s = sum(buf)
                    sq = sum(x * x for x in buf)
                    var = (sq - s * s / n) / (n - 1)
                    if var > 0:
                        z = (v - s / n) / var**0.5
                        if abs(z) > threshold:
                            out["user_id"].append(user_id)
                            out["event_id"].append(row.event_id)
                            out["ts_us"].append(row.ts_us)
                            out["value"].append(v)
                            out["zscore"].append(z)
                buf.append(v)
                if len(buf) > window:
                    buf = buf[-window:]
        state.update((buf,))
        yield pd.DataFrame(out)

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_ZSCORE_OUT,
        stateStructType=_ZSCORE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_MINHASH_PAIR_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("est_jaccard", DoubleType()),
    ]
)
_MINHASH_BUCKET_STATE = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("sigs", ArrayType(ArrayType(LongType()))),
        StructField("ts_ms", ArrayType(LongType())),
    ]
)


def streaming_minhash_dedup(
    docs: DataFrame,
    *,
    content_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_n: int = 3,
    n_bands: int = 4,
    rows_per_band: int = 4,
    kernel: str = "xxhash64",
    watermark: str = "10 minutes",
    bucket_ttl_ms: int = 3_600_000,
) -> DataFrame:
    """Ingest-time MinHash-LSH near-dedup: the streaming twin of the batch
    minhash_lsh_candidates operator (operators/dedup.py). Each arriving doc
    is signed with the SAME signature kernel (minhash_signature_col — shared
    by construction), exploded to its LSH band buckets, and checked against
    the bucket's current members via applyInPandasWithState; candidate pairs
    (id_a < id_b, MinHash-estimated Jaccard) stream out as they are
    discovered, across micro-batch boundaries.

    State is BOUNDED two ways, which is what makes this safe at ingest
    scale: (1) members whose event time has fallen behind the current
    watermark are pruned on every bucket visit — the dedup horizon is the
    watermark delay, matching Spark's own late-data contract; (2) a bucket
    untouched for ``bucket_ttl_ms`` of event time is evicted wholesale via
    EventTimeTimeout. So per-bucket state is O(docs within the watermark
    window that share the bucket), independent of stream length.

    Against the batch operator at the same params, the emitted pair set is
    identical for docs within one watermark horizon, except that a pair
    colliding in several bands may be emitted once per band (the batch op
    dropDuplicates globally; a streaming global dedup would need a second
    unbounded stateful stage — consumers dedup on (id_a, id_b) downstream,
    e.g. with dropDuplicatesWithinWatermark).

    Input must carry (id_col long, content_col string, event_time
    timestamp). est_jaccard is rounded via F.round like the batch op, so
    the values hash-match the batch twin's.
    """
    from syscol_spark.operators.dedup import minhash_signature_col

    sig = minhash_signature_col(content_col, n_hashes=n_hashes, shingle_n=shingle_n, kernel=kernel)

    def bucket(b: int) -> F.Column:
        comps = [F.col("signature")[b * rows_per_band + r] for r in range(rows_per_band)]
        return F.hash(*comps).cast("long")

    bands = F.array(
        *[F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket")) for b in range(n_bands)]
    )
    exploded = (
        docs.withWatermark("event_time", watermark)
        .select(F.col(id_col).alias("id"), sig.alias("signature"), "event_time")
        .select("id", "signature", "event_time", F.explode(bands).alias("bb"))
        .select("id", "signature", "event_time", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"id_a": [], "id_b": [], "est_jaccard": []})
            return
        ids, sigs, ts_ms = state.get if state.exists else ([], [], [])
        ids, sigs, ts_ms = list(ids), [list(s) for s in sigs], list(ts_ms)
        wm = state.getCurrentWatermarkMs()
        if wm > 0 and ids:
            keep = [i for i, t in enumerate(ts_ms) if t >= wm]
            ids, sigs, ts_ms = [ids[i] for i in keep], [sigs[i] for i in keep], [ts_ms[i] for i in keep]
        out: dict[str, list] = {"id_a": [], "id_b": [], "est_jaccard": []}
        for pdf in pdfs:
            t_ms = (pdf["event_time"].astype("int64") // 1_000_000).tolist()
            order = sorted(range(len(pdf)), key=lambda i: (t_ms[i], int(pdf["id"].iloc[i])))
            for i in order:
                doc_id = int(pdf["id"].iloc[i])
                doc_sig = [int(x) for x in pdf["signature"].iloc[i]]
                for m_id, m_sig in zip(ids, sigs):
                    if m_id == doc_id:
                        continue
                    matches = sum(1 for x, y in zip(doc_sig, m_sig) if x == y)
                    lo, hi = (m_id, doc_id) if m_id < doc_id else (doc_id, m_id)
                    out["id_a"].append(lo)
                    out["id_b"].append(hi)
                    out["est_jaccard"].append(matches / len(doc_sig))
                if doc_id in ids:  # re-arrival refreshes recency only
                    ts_ms[ids.index(doc_id)] = t_ms[i]
                else:
                    ids.append(doc_id)
                    sigs.append(doc_sig)
                    ts_ms.append(t_ms[i])
        if ids:
            state.update((ids, sigs, ts_ms))
            state.setTimeoutTimestamp(max(max(ts_ms), wm + 1) + bucket_ttl_ms)
        else:
            state.remove()
        yield pd.DataFrame(out)

    pairs = exploded.groupBy("band", "bucket").applyInPandasWithState(
        update,
        outputStructType=_MINHASH_PAIR_SCHEMA,
        stateStructType=_MINHASH_BUCKET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # F.round on the output column: one rounding definition shared with the
    # batch operator (and its DuckDB oracle), not Python/numpy ties-to-even.
    return pairs.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


_SEMDEDUP_OUT = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("cluster", IntegerType()),
        StructField("keep", BooleanType()),
    ]
)
_SEMDEDUP_STATE = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("vecs", ArrayType(ArrayType(DoubleType()))),
        StructField("ts_ms", ArrayType(LongType())),
    ]
)


def _round6_like_spark(x: float) -> float:
    """Mirror F.round(col, 6) for a double: Spark rounds the value's
    SHORTEST decimal representation HALF_UP (BigDecimal.valueOf ==
    Double.toString == Python repr), NOT the full binary expansion and NOT
    banker's rounding. The keep decision below thresholds on this rounded
    cosine, so it must match the batch scorer's F.round bit-for-bit."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def streaming_semantic_dedup(
    stream: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.35,
    watermark: str = "10 minutes",
    cluster_ttl_ms: int = 3_600_000,
) -> DataFrame:
    """Ingest-time SemDeDup: the streaming twin of semantic_dedup /
    semantic_dedup_delta (operators/similarity.py). The quantizer is the
    PERSISTED index-time model (plan-time centroid literals, exactly like
    the delta operator); each arriving vector is assigned to its nearest
    centroid JVM/Arrow-side, grouped by cluster, and checked against the
    cluster's members seen so far via applyInPandasWithState. Emits
    (vec_id, cluster, keep) as rows arrive: keep=false iff a LOWER-id
    clustermate already seen has rounded cosine >= min_cosine — the batch
    drop rule, so for monotone ingest ids (old < new, the ingest contract)
    the emitted flags equal what batch SemDeDup over the whole corpus
    decides (parity test: test_streaming_semantic_dedup_matches_batch).
    Dropped members still enter state (batch semantics: dropped vectors
    drop later lookalikes too).

    State is bounded the same two ways as streaming_minhash_dedup: members
    behind the watermark are pruned on every cluster visit, and a cluster
    untouched for ``cluster_ttl_ms`` of event time is evicted wholesale —
    per-cluster state is O(vectors within the watermark horizon), matching
    the SemDeDup design point that clusters are small.
    """
    from syscol_spark.operators.similarity import _assign_nearest

    assigned = (
        stream.withWatermark("event_time", watermark)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "event_time")
    )
    assigned = _assign_nearest(assigned, "vec", centroids).select(
        "id", "vec", F.col("__cluster").alias("cluster"), "event_time"
    )

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"vec_id": [], "cluster": [], "keep": []})
            return
        cluster = int(key[0])
        ids, vecs, ts_ms = state.get if state.exists else ([], [], [])
        ids, vecs, ts_ms = list(ids), [list(v) for v in vecs], list(ts_ms)
        wm = state.getCurrentWatermarkMs()
        if wm > 0 and ids:
            kept = [i for i, t in enumerate(ts_ms) if t >= wm]
            ids, vecs, ts_ms = [ids[i] for i in kept], [vecs[i] for i in kept], [ts_ms[i] for i in kept]
        out: dict[str, list] = {"vec_id": [], "cluster": [], "keep": []}
        for pdf in pdfs:
            t_ms = (pdf["event_time"].astype("int64") // 1_000_000).tolist()
            order = sorted(range(len(pdf)), key=lambda i: (t_ms[i], int(pdf["id"].iloc[i])))
            for i in order:
                doc_id = int(pdf["id"].iloc[i])
                v = np.array([float(x) for x in pdf["vec"].iloc[i]], dtype="float64")
                nv = float(np.sqrt(v @ v))
                keep = True
                for m_id, m_vec in zip(ids, vecs):
                    if m_id >= doc_id:
                        continue  # only lower ids drop (batch rule)
                    m = np.array(m_vec, dtype="float64")
                    cos = float(v @ m) / (nv * float(np.sqrt(m @ m)))
                    if _round6_like_spark(cos) >= min_cosine:
                        keep = False
                        break
                out["vec_id"].append(doc_id)
                out["cluster"].append(cluster)
                out["keep"].append(keep)
                if doc_id in ids:  # re-arrival refreshes recency only
                    ts_ms[ids.index(doc_id)] = t_ms[i]
                else:
                    ids.append(doc_id)
                    vecs.append([float(x) for x in v])
                    ts_ms.append(t_ms[i])
        if ids:
            state.update((ids, vecs, ts_ms))
            state.setTimeoutTimestamp(max(max(ts_ms), wm + 1) + cluster_ttl_ms)
        else:
            state.remove()
        yield pd.DataFrame(out)

    return assigned.groupBy("cluster").applyInPandasWithState(
        update,
        outputStructType=_SEMDEDUP_OUT,
        stateStructType=_SEMDEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_CDC_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n_versions", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
        StructField("last_value", DoubleType()),
    ]
)
_CDC_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
        StructField("last_eid", LongType()),
        StructField("last_value", DoubleType()),
    ]
)


def streaming_cdc_compact(stream: DataFrame) -> DataFrame:
    """Streaming twin of q_cdc_compact (plans/events.py): per
    (user_id, event_type) key, maintain the latest-wins compacted row —
    version count, first/last event time, last value under the batch twin's
    exact tie-break ((ts_us, event_id) lexicographic, so an out-of-order or
    duplicate-timestamp feed converges to the same winner) — and emit the
    updated row for every key touched in each micro-batch (update mode:
    downstream upserts by key, the CDC sink contract).

    State is O(1) per live key — five scalars, independent of stream length
    and of how many versions a key has seen; the compaction happens in
    state, never by buffering versions. Input must carry
    (user_id, event_type, event_id, ts_us, value).
    """

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id, event_type = key
        if state.exists:
            n, first_us, last_us, last_eid, last_value = state.get
        else:
            n, first_us, last_us, last_eid, last_value = 0, None, None, None, None
        for pdf in pdfs:
            for row in pdf.itertuples():
                ts, eid, v = int(row.ts_us), int(row.event_id), float(row.value)
                n += 1
                if first_us is None or ts < first_us:
                    first_us = ts
                if last_us is None or (ts, eid) > (last_us, last_eid):
                    last_us, last_eid, last_value = ts, eid, v
        state.update((n, first_us, last_us, last_eid, last_value))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "event_type": [event_type],
                "n_versions": [n],
                "first_us": [first_us],
                "last_us": [last_us],
                "last_value": [last_value],
            }
        )

    return stream.groupBy("user_id", "event_type").applyInPandasWithState(
        update,
        outputStructType=_CDC_OUT,
        stateStructType=_CDC_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_TOPK_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("rk", LongType()),
    ]
)


_TOPK_STATE = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("vals", ArrayType(DoubleType())),
    ]
)


def _topk_merge(pairs: list[tuple[int, float]], k: int) -> list[tuple[int, float]]:
    """Shared top-k merge: by (value DESC, event_id ASC), truncated to k."""
    pairs.sort(key=lambda p: (-p[1], p[0]))
    return pairs[:k]


def _topk_frame(event_type: str, pairs: list[tuple[int, float]]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "event_type": [event_type] * len(pairs),
            "event_id": [p[0] for p in pairs],
            "value": [p[1] for p in pairs],
            "rk": list(range(1, len(pairs) + 1)),
        }
    )


def transform_with_state_available() -> bool:
    """The Spark 4 arbitrary-state API (transformWithStateInPandas) speaks a
    protobuf protocol to the JVM state server; without the google.protobuf
    package the driver worker crashes at init. Gate, don't assume."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_topk_per_group(stream: DataFrame, *, k: int = 3, api: str = "auto") -> DataFrame:
    """Streaming twin of q_ev_topk_per_group (plans/events.py): per
    event_type, maintain the running top-k by (value DESC, event_id ASC)
    across micro-batches, re-emitting the group's complete current top-k
    whenever a batch delivers rows for it.

    ``api`` selects the state backend: ``"tws"`` uses the Spark 4
    arbitrary-state API (``transformWithStateInPandas``, ValueState),
    ``"apiws"`` the Spark 3-era ``applyInPandasWithState``, and ``"auto"``
    picks tws when its protobuf dependency is importable (this container
    lacks it, so the fallback is what tests exercise; the tws path is the
    same merge function behind the newer handle API).

    State is BOUNDED: exactly k (event_id, value) pairs per group —
    independent of stream length. After the source is exhausted, the LAST
    emission per group equals the batch query's rows for that group, which
    is what the twin test asserts. Input must carry (event_type, event_id,
    value).
    """
    if api == "auto":
        api = "tws" if transform_with_state_available() else "apiws"
    prepared = stream.select("event_type", "event_id", "value")

    if api == "tws":
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class TopK(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._state = handle.getValueState(
                    "topk", "ids array<bigint>, vals array<double>"
                )

            def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
                (event_type,) = key
                held = self._state.get() if self._state.exists() else None
                pairs = list(zip(held[0], held[1])) if held else []
                for pdf in rows:
                    pairs.extend(
                        zip((int(i) for i in pdf["event_id"]), (float(v) for v in pdf["value"]))
                    )
                pairs = _topk_merge(pairs, k)
                self._state.update(([p[0] for p in pairs], [p[1] for p in pairs]))
                yield _topk_frame(event_type, pairs)

            def close(self) -> None:
                pass

        return prepared.groupBy("event_type").transformWithStateInPandas(
            statefulProcessor=TopK(),
            outputStructType=_TOPK_OUT,
            outputMode="Update",
            timeMode="None",
        )

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        ids, vals = state.get if state.exists else ([], [])
        pairs = list(zip(ids, vals))
        for pdf in pdfs:
            pairs.extend(
                zip((int(i) for i in pdf["event_id"]), (float(v) for v in pdf["value"]))
            )
        pairs = _topk_merge(pairs, k)
        state.update(([p[0] for p in pairs], [p[1] for p in pairs]))
        yield _topk_frame(event_type, pairs)

    return prepared.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_TOPK_OUT,
        stateStructType=_TOPK_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_MG_STATE = StructType(
    [
        StructField("items", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("decrements", LongType()),
        StructField("n_seen", LongType()),
    ]
)
_MG_OUT = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("item", StringType()),
        StructField("lower", LongType()),
        StructField("upper", LongType()),
        StructField("shard_n", LongType()),
    ]
)


def streaming_heavy_hitters(
    stream: DataFrame,
    item_col: str,
    *,
    capacity: int = 64,
    n_shards: int = 8,
) -> DataFrame:
    """Ingest-time heavy hitters with BOUNDED state: the streaming twin of
    operators/sketch.py::heavy_hitters (batch Misra-Gries + recount).

    Items hash-partition across ``n_shards`` state keys; each shard keeps a
    Misra-Gries summary of AT MOST ``capacity`` counters no matter how many
    distinct items flow through it — the property that makes this safe on
    an unbounded keyspace, where the exact stateful word count the built-in
    aggs give would grow state linearly with distinct items. Because every
    occurrence of one item lands on the same shard, per-shard MG guarantees
    apply globally: any item with true shard frequency > shard_n/capacity
    is guaranteed present, and each emitted counter brackets the item's
    true count as [lower, lower + decrements] = [lower, upper].

    Each trigger re-emits the shard's full current summary (update mode) —
    downstream takes the latest snapshot per shard, unions shards, and
    optionally recounts candidates exactly (the batch operator's recount
    join) for exact-top-k serving.
    """
    if capacity <= 0 or n_shards <= 0:
        raise ValueError("capacity and n_shards must be positive")

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (shard,) = key
        if state.exists:
            items, counts, decrements, n_seen = state.get
            summary = dict(zip(items, counts))
        else:
            summary, decrements, n_seen = {}, 0, 0
        for pdf in pdfs:
            for it in pdf["item"]:
                n_seen += 1
                if it in summary:
                    summary[it] += 1
                elif len(summary) < capacity:
                    summary[it] = 1
                else:
                    # MG decrement step: all counters down 1, drop zeros.
                    # Every surviving counter now undercounts by <= one
                    # more — tracked in `decrements` for the upper bound.
                    decrements += 1
                    summary = {k: c - 1 for k, c in summary.items() if c > 1}
        state.update(
            (list(summary.keys()), list(summary.values()), decrements, n_seen)
        )
        its = sorted(summary)
        yield pd.DataFrame(
            {
                "shard": [int(shard)] * len(its),
                "item": its,
                "lower": [summary[i] for i in its],
                "upper": [summary[i] + decrements for i in its],
                "shard_n": [n_seen] * len(its),
            }
        )

    prepared = stream.select(
        F.col(item_col).cast("string").alias("item"),
        F.pmod(F.xxhash64(F.col(item_col).cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
    )
    return prepared.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=_MG_OUT,
        stateStructType=_MG_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_BURN_STATE = StructType(
    [
        StructField("h_starts", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
        StructField("errs", ArrayType(LongType())),
    ]
)
_BURN_OUT = StructType(
    [
        StructField("h_start", LongType()),
        StructField("n_1h", LongType()),
        StructField("err_1h", LongType()),
        StructField("n_6h", LongType()),
        StructField("err_6h", LongType()),
    ]
)


def streaming_burn_rate(
    stream: DataFrame,
    *,
    event_time_col: str = "event_time",
    type_col: str = "event_type",
    error_value: str = "error",
    budget: float = 0.25,
    threshold: float = 1.2,
    watermark: str = "1 hour",
    evict_grace_ms: int = 3_600_000,
) -> DataFrame:
    """Continuous multiwindow SLO burn-rate alerting: the streaming twin of
    q_ev_burn_rate (plans/events.py). The SRE-workbook construction — error
    ratio vs the error budget on a short (1 h) and long (6 h) window, alert
    only when BOTH burn rates exceed ``threshold`` — evaluated incrementally
    as events arrive instead of over a finished table.

    Shape: one stateful key per 6 h bucket holding its six 1 h sub-counters
    (integers only — the burn-rate division and 6dp rounding happen in a
    downstream Spark projection using the IDENTICAL expressions as the
    batch query, so the two cannot drift arithmetically). Update mode
    re-emits the bucket's refreshed rows each trigger; downstream takes the
    latest snapshot per h_start (counts grow monotonically). State is
    evicted via event-time timeout once the watermark passes the bucket end
    plus ``evict_grace_ms`` — bounded by the watermark horizon, independent
    of stream length.
    """
    us = F.unix_micros(F.col(event_time_col))
    prepared = stream.withWatermark(event_time_col, watermark).select(
        F.col(event_time_col),
        ((us - F.pmod(us, F.lit(21_600_000_000))) / 1_000_000).cast("long").alias("s_start"),
        ((us - F.pmod(us, F.lit(3_600_000_000))) / 1_000_000).cast("long").alias("h_start"),
        (F.col(type_col) == error_value).cast("int").alias("is_err"),
    )

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (s_start,) = key
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            h_starts, ns, errs = state.get
            acc = {int(h): [int(n), int(e)] for h, n, e in zip(h_starts, ns, errs)}
        else:
            acc = {}
        for pdf in pdfs:
            for h, e in zip(pdf["h_start"], pdf["is_err"]):
                c = acc.setdefault(int(h), [0, 0])
                c[0] += 1
                c[1] += int(e)
        hs = sorted(acc)
        state.update((hs, [acc[h][0] for h in hs], [acc[h][1] for h in hs]))
        state.setTimeoutTimestamp((int(s_start) + 21_600) * 1000 + evict_grace_ms)
        n6 = sum(acc[h][0] for h in hs)
        e6 = sum(acc[h][1] for h in hs)
        yield pd.DataFrame(
            {
                "h_start": hs,
                "n_1h": [acc[h][0] for h in hs],
                "err_1h": [acc[h][1] for h in hs],
                "n_6h": [n6] * len(hs),
                "err_6h": [e6] * len(hs),
            }
        )

    counts = prepared.groupBy("s_start").applyInPandasWithState(
        update,
        outputStructType=_BURN_OUT,
        stateStructType=_BURN_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # burn rates + alert in Spark expressions IDENTICAL to the batch query
    burn_1h = F.round((F.col("err_1h").cast("double") / F.col("n_1h")) / budget, 6)
    burn_6h = F.round((F.col("err_6h").cast("double") / F.col("n_6h")) / budget, 6)
    return counts.select(
        "h_start",
        "n_1h",
        "err_1h",
        burn_1h.alias("burn_1h"),
        "n_6h",
        "err_6h",
        burn_6h.alias("burn_6h"),
        ((burn_1h > threshold) & (burn_6h > threshold)).alias("alert"),
    )


_SESS_STATE = StructType(
    [
        StructField("anchor_us", LongType()),
        StructField("last_us", LongType()),
        StructField("subs", ArrayType(LongType())),
        StructField("sub_start", ArrayType(LongType())),
        StructField("sub_max", ArrayType(LongType())),
        StructField("sub_n", ArrayType(LongType())),
    ]
)
_SESS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("sub_session", LongType()),
        StructField("sub_start_us", LongType()),
        StructField("n_events", LongType()),
        StructField("duration_us", LongType()),
    ]
)


def streaming_capped_sessions(
    stream: DataFrame,
    *,
    event_time_col: str = "event_time",
    id_col: str = "user_id",
    seq_col: str = "event_id",
    gap_us: int = 600_000_000,
    cap_us: int = 240_000_000,
    watermark: str = "1 hour",
    evict_grace_ms: int = 3_600_000,
) -> DataFrame:
    """Continuous capped-duration sessionization: the streaming twin of
    q_ev_session_capped (plans/events.py) — inactivity-gap sessions
    (``gap_us``) additionally SPLIT at fixed ``cap_us`` offsets from each
    session's first event, the GA-style rule native session_window cannot
    express.

    State per user is ONLY the open session (anchor + per-sub-bucket
    start/max/count) — closed sessions leave state the moment a gap closes
    them, and idle users are evicted via event-time timeout once the
    watermark passes their last event plus the gap and ``evict_grace_ms``.
    Update mode re-emits every sub-session touched in a trigger;
    sub-session aggregates grow monotonically, so downstream takes the
    latest snapshot per (user, session_start, sub) — once a session
    closes, its last snapshot is final by construction.

    Events are processed in (event_time, seq) order within each trigger;
    cross-trigger order must be respected by the source (the same
    arrival-order contract as streaming_norm_dedup — late events behind
    the watermark are dropped by Spark before they reach the operator).
    """
    us = F.unix_micros(F.col(event_time_col))
    prepared = stream.withWatermark(event_time_col, watermark).select(
        F.col(event_time_col),
        F.col(id_col).cast("long").alias("user_id"),
        F.col(seq_col).cast("long").alias("seq"),
        us.alias("ts_us"),
    )

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            anchor, last, subs_k, subs_s, subs_m, subs_n = state.get
            subs = {
                int(k): [int(s), int(m), int(n)]
                for k, s, m, n in zip(subs_k, subs_s, subs_m, subs_n)
            }
        else:
            anchor, last, subs = None, None, {}
        events = sorted(
            (
                (int(t), int(q))
                for pdf in pdfs
                for t, q in zip(pdf["ts_us"], pdf["seq"])
            )
        )
        if not events and not state.hasTimedOut:
            # spurious invocation with no data: re-emit nothing, keep state
            if anchor is not None:
                state.setTimeoutTimestamp(int(last) // 1000 + gap_us // 1000 + evict_grace_ms)
            return
        # snapshots of every (session, sub) touched this trigger — entries
        # of a session closed mid-trigger stay here (final) after the open
        # session's dict resets
        touched: dict[tuple[int, int], list[int]] = {}
        for ts, _q in events:
            if anchor is None or ts - last >= gap_us:
                anchor = ts
                subs = {}
            sub = (ts - anchor) // cap_us
            e = subs.get(sub)
            if e is None:
                e = subs[sub] = [ts, ts, 0]
            e[1] = max(e[1], ts)
            e[2] += 1
            touched[(anchor, sub)] = e
            last = ts
        state.update(
            (
                int(anchor),
                int(last),
                [int(k) for k in subs],
                [subs[k][0] for k in subs],
                [subs[k][1] for k in subs],
                [subs[k][2] for k in subs],
            )
        )
        state.setTimeoutTimestamp(int(last) // 1000 + gap_us // 1000 + evict_grace_ms)
        keys = sorted(touched)
        yield pd.DataFrame(
            {
                "user_id": [int(user_id)] * len(keys),
                "session_start_us": [a for a, _s in keys],
                "sub_session": [s for _a, s in keys],
                "sub_start_us": [touched[k][0] for k in keys],
                "n_events": [touched[k][2] for k in keys],
                "duration_us": [touched[k][1] - touched[k][0] for k in keys],
            }
        )

    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_SESS_OUT,
        stateStructType=_SESS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_norm_dedup(
    docs: DataFrame,
    *,
    content_col: str = "text",
    id_col: str = "doc_id",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Ingest-time normalization-aware exact dedup: the streaming twin of
    q_norm_dedup's batch kernel. Each arriving doc is canonicalized with
    normalize_text (lower → strip punct → collapse ws → trim — the SAME
    shared expression as the batch query, so the two cannot drift) and only
    the FIRST doc per canonical digest within the watermark horizon
    survives. Built-in watermarked dropDuplicates does all the state work —
    digest state ages out with the watermark, so state is O(distinct
    canonical docs per horizon), independent of stream length.

    First-wins (arrival order) rather than batch's min-id-wins: across
    micro-batch boundaries Spark keeps whichever digest holder it saw
    first. The parity test feeds docs in id order so the two policies
    coincide and the kept set matches the batch canonical set exactly.
    """
    from syscol_spark.functions.text import normalize_text

    s = docs.withColumn("norm_hash", F.md5(normalize_text(content_col))).withWatermark(
        "event_time", watermark
    )
    if hasattr(s, "dropDuplicatesWithinWatermark"):
        return s.dropDuplicatesWithinWatermark(["norm_hash"])
    # Pre-3.5 fallback: keep the documented first-per-digest contract by
    # deduping on the digest ALONE (state never ages out — unbounded over an
    # infinite stream, the price of the missing API). Deduping on
    # ['norm_hash', 'event_time'] instead would only drop same-timestamp
    # twins — silently no canonical dedup at all.
    return s.dropDuplicates(["norm_hash"])


_CUSUM_STATE = StructType(
    [
        StructField("p", LongType()),
        StructField("minp", LongType()),
        StructField("minutes", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)
_CUSUM_OUT = StructType(
    [
        StructField("minute_idx", LongType()),
        StructField("n_events", LongType()),
        StructField("s_plus_micro", LongType()),
        StructField("alarm", BooleanType()),
    ]
)


def streaming_cusum(
    stream: DataFrame,
    *,
    mu_micro: int,
    sd_micro: int,
    event_time_col: str = "event_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Continuous CUSUM mean-shift monitor: the streaming twin of
    q_ev_cusum (plans/mining.py). The batch query estimates μ/σ from the
    finished series; the monitor takes them as calibration parameters (the
    standard control-chart split: train the baseline, then watch) and
    maintains the one-sided cumulative sum incrementally.

    Shape: one stateful key per monitored metric (here the single event
    stream; in production the group key is the metric id, giving one O(1)
    state per monitor). The state holds the open per-minute partial counts
    plus the running prefix sum / prefix min of the drifted deviations.
    Each trigger, minutes entirely behind the watermark are CLOSED in
    minute order and folded exactly like the batch closed form
    S⁺ = P − min(0, min-prefix P); closed minutes emit once (append mode)
    with the same integer micro units and the same 5σ alarm flag, so the
    streamed rows are bit-identical to a batch run over the same closed
    prefix. Open-minute state is bounded by the watermark horizon; the
    fold state itself is two longs.
    """
    k_micro = sd_micro // 2
    h_micro = 5 * sd_micro
    # the watermark column must survive the projection or Spark loses the
    # watermark association for the stateful operator
    prepared = stream.withWatermark(event_time_col, watermark).select(
        F.col(event_time_col),
        F.expr(f"unix_micros({event_time_col}) div 60000000").alias("m"),
        F.lit(0).alias("metric"),
    )

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            p, minp, minutes, counts = state.get
            acc = {int(m): int(c) for m, c in zip(minutes, counts)}
        else:
            p, minp, acc = 0, 0, {}
        for pdf in pdfs:
            for m in pdf["m"]:
                acc[int(m)] = acc.get(int(m), 0) + 1
        wm_ms = state.getCurrentWatermarkMs()
        out_m, out_x, out_s, out_a = [], [], [], []
        for m in sorted(acc):
            if (m + 1) * 60_000 > wm_ms:
                break
            x = acc.pop(m)
            p += x * 1_000_000 - mu_micro - k_micro
            minp = min(minp, p)
            s_plus = p - min(0, minp)
            out_m.append(m)
            out_x.append(x)
            out_s.append(s_plus)
            out_a.append(s_plus > h_micro)
        ms = sorted(acc)
        state.update((p, minp, ms, [acc[m] for m in ms]))
        if out_m:
            yield pd.DataFrame(
                {
                    "minute_idx": out_m,
                    "n_events": out_x,
                    "s_plus_micro": out_s,
                    "alarm": out_a,
                }
            )

    return prepared.groupBy("metric").applyInPandasWithState(
        update,
        outputStructType=_CUSUM_OUT,
        stateStructType=_CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_INVIDX_STATE = StructType(
    [
        StructField("df", LongType()),
        StructField("tf_total", LongType()),
        StructField("first_doc", LongType()),
        StructField("pos_checksum", LongType()),
    ]
)
_INVIDX_OUT = StructType(
    [
        StructField("term", StringType()),
        StructField("df", LongType()),
        StructField("tf_total", LongType()),
        StructField("first_doc", LongType()),
        StructField("pos_checksum", LongType()),
    ]
)


def streaming_inverted_index(
    docs: DataFrame, *, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Continuous inverted-index maintenance: the streaming twin of
    q_inverted_index / q_inverted_delta (plans/retrieval.py). Each arriving
    document explodes to positional postings (the SAME whitespace split as
    the batch build, so the two cannot drift), and one stateful key per TERM
    folds the batch delta algebra incrementally: df += this batch's distinct
    new docs, tf_total += postings, first_doc = min, pos_checksum += sum.

    Exactness rests on the same contract the batch delta path states: a
    document is ingested exactly once (doc-disjoint shards/batches), so the
    per-batch distinct-doc count sums to the true document frequency — the
    algebra q_inverted_delta's merge theorem proves against the full
    rebuild. State is 4 longs per term (index-sized, never corpus-sized);
    update mode re-emits a term's current stats whenever a batch touches it,
    so the sink always holds the freshest posting statistics per term.
    """
    postings = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(F.split(F.trim(F.col(content_col)), r"\s+")).alias("pos", "term"),
    )

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            df_n, tf, first_doc, checksum = state.get
        else:
            df_n, tf, first_doc, checksum = 0, 0, None, 0
        for pdf in pdfs:
            if pdf.empty:
                continue
            df_n += int(pdf["doc_id"].nunique())
            tf += int(len(pdf))
            batch_min = int(pdf["doc_id"].min())
            first_doc = batch_min if first_doc is None else min(first_doc, batch_min)
            checksum += int(pdf["pos"].sum())
        state.update((df_n, tf, first_doc, checksum))
        yield pd.DataFrame(
            {
                "term": [key[0]],
                "df": [df_n],
                "tf_total": [tf],
                "first_doc": [first_doc],
                "pos_checksum": [checksum],
            }
        )

    return postings.groupBy("term").applyInPandasWithState(
        update,
        outputStructType=_INVIDX_OUT,
        stateStructType=_INVIDX_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- continuous count-min sketch maintenance -------------------------------------
_CMS_STATE = StructType([StructField("cell_cnt", LongType())])
_CMS_OUT = StructType(
    [
        StructField("depth", IntegerType()),
        StructField("bucket", LongType()),
        StructField("cell_cnt", LongType()),
    ]
)


def streaming_cms(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    seeds: tuple[int, ...] = (11, 13, 17),
    width: int = 256,
) -> DataFrame:
    """Continuous count-min sketch maintenance: the streaming twin of
    q_cms_shards (plans/quality.py). Each arriving event maps to one cell
    per depth row via the SAME engine-portable md5 bucket as the batch
    build (operators/sampling.py hash_bucket — the two cannot drift), and
    one stateful key per (depth, bucket) CELL folds the count. Count-min is
    linear, so per-batch increments sum to exactly the one-shot build — the
    same merge theorem the batch shard path proves.

    State is ONE long per cell: depth x width cells total (768 at the
    registered config) REGARDLESS of key or event count — the textbook
    bounded-state sketch. Update mode re-emits a cell whenever a batch
    touches it, so the sink always holds the freshest sketch; a point
    estimate is min over depths of the key's cells, served from the sink
    without touching the stream.
    """
    from syscol_spark.operators.sampling import hash_bucket

    cells = events.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        hash_bucket(key_col, seed, width).alias("bucket"),
                    )
                    for d, seed in enumerate(seeds)
                ]
            )
        ).alias("c")
    ).select("c.depth", "c.bucket")

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (cnt,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            cnt += int(len(pdf))
        state.update((cnt,))
        yield pd.DataFrame(
            {"depth": [key[0]], "bucket": [key[1]], "cell_cnt": [cnt]}
        )

    return cells.groupBy("depth", "bucket").applyInPandasWithState(
        update,
        outputStructType=_CMS_OUT,
        stateStructType=_CMS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- continuous (counting) bloom-filter maintenance --------------------------------
_BLOOM_STATE = StructType([StructField("n_keys", LongType())])
_BLOOM_OUT = StructType(
    [
        StructField("pos", LongType()),
        StructField("n_keys", LongType()),
    ]
)


def streaming_bloom(
    keys: DataFrame,
    *,
    key_col: str = "o_custkey",
    seeds: tuple[int, ...] = (101, 103),
    m: int = 8192,
) -> DataFrame:
    """Continuous COUNTING-bloom maintenance: the streaming twin of
    q_bloom_prefilter's build side (plans/quality.py). Each arriving key
    sets its k md5 positions (the SAME hash_bucket as the batch build), and
    one stateful key per POSITION folds how many build-side keys hash
    there — a counting bloom, the variant that also supports deletes by
    decrement. A position is "set" iff n_keys > 0, so the streamed filter's
    set-position set equals the batch bits table exactly (distinct-union
    merge = positions touched at least once).

    State is ONE long per position: <= m longs total REGARDLESS of key
    count — the same by-construction bound that makes the batch bits table
    broadcast-safe. Update mode re-emits a position when a batch touches
    it; the sink is the live filter a prefilter join reads.
    """
    from syscol_spark.operators.sampling import hash_bucket

    pos = keys.select(
        F.explode(
            F.array(*[hash_bucket(key_col, seed, m) for seed in seeds])
        ).alias("pos")
    )

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += int(len(pdf))
        state.update((n,))
        yield pd.DataFrame({"pos": [key[0]], "n_keys": [n]})

    return pos.groupBy("pos").applyInPandasWithState(
        update,
        outputStructType=_BLOOM_OUT,
        stateStructType=_BLOOM_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
