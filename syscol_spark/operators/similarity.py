"""Similarity search over embedding columns (north-star).

Two paths:
- brute_force_topk: exact cosine top-k. The query set is broadcast (it is
  small by construction); the corpus is scanned once, scored JVM-side, and
  reduced with a per-query ranking window. Linear in corpus size — the right
  baseline even at 100 TB (one scan, no shuffle of the corpus itself).
- srp_topk: sign-random-projection LSH. Corpus hashed once into 2^n_planes
  buckets with deterministic pseudo-random hyperplanes (seeded from
  xxhash64 — reproducible across runs/clusters, no stored model); queries
  probe only their own bucket (+ optional multi-probe neighbors), so the
  scored candidate set is ~corpus/2^n_planes per query.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.functions import broadcast

from syscol_spark.functions.vectors import cosine_similarity


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors by cosine: (query_id, neighbor_id, cosine, rk).
    Deterministic ties: (cosine desc, neighbor_id asc)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.select("*", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= k)
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    shortlist: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein,
    SIGIR'98): greedily select ``k`` results that balance query relevance
    against redundancy with what's already selected —
    ``argmax lam*sim(q,d) - (1-lam)*max_{s in S} sim(d,s)``. The retrieval
    op a RAG/training-data pipeline runs when plain top-k returns k copies
    of the same document.

    Plan shape: one exact top-``shortlist`` pass (brute_force_topk — swap in
    any ANN index for the shortlist at scale; the MMR stage is agnostic),
    one pairwise-cosine self-join WITHIN each query's shortlist (shortlist²
    rows per query, never corpus-proportional), then k-1 bounded rounds of
    join+groupBy+window over that pair table. Everything stays distributed;
    per-round lineage is truncated with localCheckpoint.

    Determinism: all cosines round to 6dp before the MMR arithmetic, ties
    break on candidate id — so the greedy trajectory is reproducible
    bit-for-bit in the SQL oracle (q_mmr_diverse unrolls the k-step loop).

    Output: (query_id, neighbor_id, simq, step 1..k) — step is selection
    order, not similarity rank.
    """
    short = brute_force_topk(corpus, queries, vec_col=vec_col, id_col=id_col, k=shortlist)
    sv = short.select(
        "query_id", F.col("neighbor_id").alias("cand_id"), F.col("cosine").alias("simq")
    ).localCheckpoint()
    vecs = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("__v"))
    pv = sv.join(vecs, "cand_id")
    pairs = (
        pv.select("query_id", F.col("cand_id"), F.col("__v").alias("__va"))
        .join(
            pv.select(
                "query_id", F.col("cand_id").alias("sel_id"), F.col("__v").alias("__vb")
            ),
            "query_id",
        )
        .filter(F.col("cand_id") != F.col("sel_id"))
        .select(
            "query_id", "cand_id", "sel_id",
            F.round(cosine_similarity("__va", "__vb"), 6).alias("sim"),
        )
    )
    # Driver-local greedy (r14): the MMR state is BOUNDED BY DESIGN —
    # queries are broadcast-small (brute_force_topk's contract) and the
    # per-query pool is `shortlist` rows, so (query, cand, simq) plus the
    # in-shortlist pair table are a few thousand rows. When the shortlist
    # fits the bound, pull both (the pair COSINES are still computed
    # on-plan with the same F.round, so every emitted float is produced by
    # the exact expressions the distributed loop used) and run the k-step
    # greedy in Python: 3 Spark actions total instead of one
    # join+window+checkpoint round per selection step (the k=5 catalog
    # query ran ~50 jobs; the greedy arithmetic lam*simq - (1-lam)*pen is
    # the same two IEEE-double ops in either runtime, ties on cand_id —
    # trajectories are bit-identical, pinned by
    # test_mmr_local_matches_distributed). Oversized shortlists keep the
    # distributed loop below.
    sv_rows = sv.limit(_MMR_LOCAL_LIMIT + 1).collect()
    # Gate the local path on PAIR volume too (r15, ADVICE): the pair table
    # is sum over queries of n_q*(n_q-1) rows — computable exactly from the
    # already-collected shortlist rows at zero extra Spark actions — and a
    # single 10k-row query would pass the row gate yet collect ~1e8 pair
    # rows to the driver. Oversized pair volumes fall through to the
    # distributed loop, which computes the identical trajectory.
    if len(sv_rows) <= _MMR_LOCAL_LIMIT:
        per_q: dict = {}
        for r in sv_rows:
            per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
        n_pairs = sum(n * (n - 1) for n in per_q.values())
        if n_pairs <= _MMR_LOCAL_PAIR_LIMIT:
            return _mmr_greedy_local(sv, sv_rows, pairs.collect(), k, lam)
    pairs = pairs.localCheckpoint()
    # step-1 argmax as ONE aggregate (r15): min_by over (-simq, cand_id)
    # == the former (simq DESC, cand_id ASC) window order; (simq, cand_id)
    # is unique per query because cand_id is, so the same row wins.
    selected = (
        sv.groupBy("query_id")
        .agg(
            F.min_by(
                F.struct("cand_id", "simq"),
                F.struct((-F.col("simq")).alias("__ns"), F.col("cand_id")),
            ).alias("__b")
        )
        .select(
            "query_id",
            F.col("__b.cand_id").alias("cand_id"),
            F.col("__b.simq").alias("simq"),
            F.lit(1).cast("long").alias("step"),
        )
        .localCheckpoint()
    )
    for t in range(2, k + 1):
        cand = (
            sv.join(selected.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_anti")
            .join(
                selected.select("query_id", F.col("cand_id").alias("sel_id")), "query_id"
            )
            .join(pairs, ["query_id", "cand_id", "sel_id"])
            .groupBy("query_id", "cand_id", "simq")
            .agg(F.max("sim").alias("__pen"))
        )
        score = F.lit(lam) * F.col("simq") - F.lit(1.0 - lam) * F.col("__pen")
        # per-step argmax as ONE aggregate (same uniqueness argument as
        # step 1: cand_id is unique within each query's candidate pool)
        pick = (
            cand.groupBy("query_id")
            .agg(
                F.min_by(
                    F.struct("cand_id", "simq"),
                    F.struct((-score).alias("__ns"), F.col("cand_id")),
                ).alias("__b")
            )
            .select(
                "query_id",
                F.col("__b.cand_id").alias("cand_id"),
                F.col("__b.simq").alias("simq"),
                F.lit(t).cast("long").alias("step"),
            )
        )
        selected = selected.unionAll(pick).localCheckpoint()
    return selected.select(
        "query_id", F.col("cand_id").alias("neighbor_id"), "simq", "step"
    )


#: bounds for mmr_topk's driver-local greedy: 10k (query, cand) shortlist
#: rows AND at most 2M in-shortlist pair rows (~64 MB of Row objects) —
#: the pair table is sum(n_q^2) so the row gate alone admits a single
#: 10k-shortlist query with ~1e8 pairs (r15, ADVICE). Above either bound
#: the distributed per-step loop runs unchanged.
_MMR_LOCAL_LIMIT = 10_000
_MMR_LOCAL_PAIR_LIMIT = 2_000_000


def _mmr_greedy_local(sv, sv_rows: list, pair_rows: list, k: int, lam: float):
    """Pure-Python twin of mmr_topk's distributed selection loop over the
    collected shortlist. Inputs are the SAME engine-computed 6dp-rounded
    cosines the distributed loop consumes; the per-step arithmetic
    (lam*simq - (1-lam)*pen, double precision) and tie-breaks
    ((score desc, cand_id) / step-1 (simq desc, cand_id)) are replicated
    op-for-op, so the greedy trajectory is bit-identical."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    one_minus = 1.0 - lam  # precomputed ONCE, as F.lit(1.0 - lam) was
    by_q: dict = {}
    for r in sv_rows:
        by_q.setdefault(r["query_id"], []).append((r["cand_id"], r["simq"]))
    sim: dict = {}
    for r in pair_rows:
        sim[(r["query_id"], r["cand_id"], r["sel_id"])] = r["sim"]
    out = []
    for qid, cands in by_q.items():
        # step 1: plain relevance, ties to the lowest cand_id
        first = min(cands, key=lambda c: (-c[1], c[0]))
        selected = [first]
        remaining = {c for c in cands if c[0] != first[0]}
        for step in range(2, k + 1):
            best = None
            for cand_id, simq in remaining:
                pen = max(sim[(qid, cand_id, s[0])] for s in selected)
                score = lam * simq - one_minus * pen
                key = (-score, cand_id)
                if best is None or key < best[0]:
                    best = (key, cand_id, simq)
            if best is None:
                break
            selected.append((best[1], best[2]))
            remaining = {c for c in remaining if c[0] != best[1]}
        out.extend(
            (qid, cand_id, simq, step + 1)
            for step, (cand_id, simq) in enumerate(selected)
        )
    schema = StructType(
        [
            sv.schema["query_id"],
            StructField("neighbor_id", sv.schema["cand_id"].dataType),
            StructField("simq", DoubleType()),
            StructField("step", LongType()),
        ]
    )
    return sv.sparkSession.createDataFrame(out, schema)


def _srp_plane(dim: int, plane: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random hyperplane: unit-free gaussian-ish values
    from a splitmix-style integer hash. Pure python at plan time."""
    vals = []
    for d in range(dim):
        x = (plane * 1_000_003 + d * 19_349_663 + seed * 83_492_791) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 33
        x = (x * 0xFF51AFD7ED558CCD) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 33
        u = (x & 0xFFFFFFFF) / 2**32  # uniform [0,1)
        vals.append(math.sqrt(-2 * math.log(u + 1e-12)) * math.cos(2 * math.pi * ((x >> 32) / 2**32)))
    return vals


def srp_gaussian_dots(vec: Column | str, dim: int, n_planes: int, seed: int = 42) -> Column:
    """Array of <vec, plane_p> for the gaussian SRP hyperplanes, computed in
    one Arrow-batched numpy pass per batch.

    Bit-identical to the interpreted left-fold it replaces (and to the
    DuckDB oracle's list_reduce twin): the elementwise multiply is the same
    IEEE float64 op, and ``np.add.accumulate`` applies ``+`` strictly
    sequentially in index order (the fold starts at 0.0 and 0.0+x == x), so
    every intermediate rounding matches the fold's. A BLAS matmul would NOT
    be safe here — it reorders the sum, and gaussian addends are inexact
    (unlike the ±1 rademacher planes in srp_plane_sums, where any order
    sums the same exact addends). The fold this replaces evaluated at
    ~1.4M interpreted lambda-ops/s — ~1 s for 2000 rows x 6 planes x 64
    dims — vs effectively free for the vectorized accumulate."""
    from pyspark.sql.functions import pandas_udf

    planes = np.array([_srp_plane(dim, p, seed) for p in range(n_planes)], dtype="float64")

    @pandas_udf("array<double>")
    def _dots(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype("float64")
        out = np.empty((m.shape[0], planes.shape[0]))
        for p in range(planes.shape[0]):
            out[:, p] = np.add.accumulate(m * planes[p], axis=1)[:, -1]
        return pd.Series(list(out))

    return _dots(F.col(vec) if isinstance(vec, str) else vec)


def _pack_sign_bits(dots: Column, n_planes: int) -> Column:
    """Bucket id: sign bits of the plane dots packed into a long."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        d = F.element_at(dots, p + 1)
        bucket = bucket.bitwiseOR(F.when(d >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long")))
    return bucket


def srp_bucket(vec: Column | str, dim: int, n_planes: int = 8, seed: int = 42) -> Column:
    """LSH bucket id: sign bits of <vec, plane_i> packed into a long.

    Convenience single-expression form; hot paths should project
    srp_gaussian_dots into a column first and pack from it, so the Arrow
    UDF is evaluated once rather than once per bit reference."""
    return _pack_sign_bits(srp_gaussian_dots(vec, dim, n_planes, seed), n_planes)


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 6,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only candidates whose SRP bucket is within
    ``probe_hamming`` bit flips of the query's bucket (multi-probe LSH),
    then rank. Same output columns as brute_force_topk.

    Multi-probe closes the recall cliff at bucket boundaries: a neighbor on
    the far side of ONE hyperplane lands in a bucket at Hamming distance 1,
    which single-probe misses entirely. The query side (small by
    construction) is exploded to its probe set — sum(C(n_planes, i)) for
    i <= probe_hamming buckets — and stays broadcast; the corpus is still
    hashed and scanned exactly once, so the candidate set grows by the probe
    multiplicity, not the corpus size."""
    if not 0 <= probe_hamming <= 2:
        raise ValueError("probe_hamming in {0,1,2} (probe count grows as C(n_planes, r))")
    dots = srp_gaussian_dots(vec_col, dim, n_planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), dots.alias("_dots")
    ).select("neighbor_id", "c_vec", _pack_sign_bits(F.col("_dots"), n_planes).alias("bucket"))
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << p for p in range(n_planes)]
    if probe_hamming >= 2:
        masks += [(1 << p) | (1 << q) for p in range(n_planes) for q in range(p + 1, n_planes)]
    b = _pack_sign_bits(F.col("_dots"), n_planes)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), dots.alias("_dots")
    ).select(
        "query_id",
        "q_vec",
        F.explode(F.array(*[b.bitwiseXOR(F.lit(m).cast("long")) for m in masks])).alias("bucket"),
    )
    # No pair dedup needed: the XOR masks are distinct, so a query's probe
    # buckets are distinct, and a neighbor (one bucket) can match a given
    # query through at most ONE probe — the join cannot duplicate pairs.
    # (An earlier version paid a full dropDuplicates shuffle here.)
    scored = (
        c.join(broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.select("*", F.row_number().over(w).cast("long").alias("rk")).filter(F.col("rk") <= k)


# --- IVF: inverted-file ANN over a coarse k-means quantizer -----------------

def matrix_dots(vec: Column | str, matrix: list[list[float]]) -> Column:
    """Array of dot products <vec, row_j> for every row of a plan-time
    matrix literal, via one Arrow-batched BLAS matmul
    (batch x dim) @ (dim x n_rows) — same rationale as srp_plane_sums:
    the interpreted higher-order fold this replaced cost O(dim*n_rows)
    lambda-ops per ROW (64*16 ≈ 1k for the IVF quantizer), the matmul is
    effectively free per batch. Summation order differs from a fold, but
    the SQL oracle twin sums in ITS own (group-by) order too — both
    engines' scores agree to ~1e-13 relative, far beyond any argmax
    margin observed in the fixtures (see srp_plane_sums for the same
    argument with measured margins)."""
    from pyspark.sql.functions import pandas_udf

    m_t = np.array(matrix, dtype="float64").T  # (dim, n_rows)

    @pandas_udf("array<double>")
    def _dots(v: pd.Series) -> pd.Series:
        b = np.stack(v.to_numpy()).astype("float64")
        return pd.Series(list(b @ m_t))

    return _dots(F.col(vec) if isinstance(vec, str) else vec)


def _stride_predicate(df: DataFrame, id_col: str, stride: int):
    """Deterministic 1-in-``stride`` training sample. Numeric ids keep the
    oracle-mirrorable ``id % stride == 0`` (dense ids → uniform; the catalog
    oracles reproduce it as WHERE id % stride = 0). Non-numeric ids (string
    doc UUIDs) stride on a stable hash instead — same uniformity and
    determinism, just not CTE-mirrored (no catalog query strides on them)."""
    from pyspark.sql.types import NumericType

    if isinstance(df.schema[id_col].dataType, NumericType):
        return F.col(id_col) % stride == 0
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0


def kmeans_centroids(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    max_iter: int = 5,
    train_stride: int = 1,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means as DataFrame aggregations.

    Init = the k vectors with the LOWEST ids (deterministic — no RNG, so
    runs are reproducible across clusters; plant better seeds upstream if
    needed). Each iteration: assign every vector to its nearest centroid
    (one scan; all k distances via one matrix_dots matmul against the
    broadcast-as-literal centroid matrix) then recompute means with
    posexplode + groupBy (one shuffle of k*dim partial sums per partition —
    map-side combined, so shuffle volume is executors*k*dim, independent of
    corpus size). The driver holds only the k*dim centroid matrix; the
    corpus never leaves the cluster. Empty clusters keep their previous
    centroid. Squared-L2 argmin via the identity
    argmin |v-c|^2 = argmax (<v,c> - |c|^2/2).

    ``train_stride > 1`` trains the quantizer on the deterministic sample
    ``id % train_stride == 0`` instead of the full corpus — THE scale
    knob: a coarse quantizer needs ~1000 points per centroid, not 100 TB;
    pick stride ≈ corpus_rows / (1000 * k) so iterations scan a bounded
    sample while serving still assigns every vector exactly once. A
    stride sample (ids are dense) is uniform, deterministic, and exactly
    mirrorable in a SQL oracle twin (WHERE id % stride = 0) — unlike
    df.sample, whose RNG is engine-private."""
    train = corpus.select(id_col, vec_col)
    if train_stride > 1:
        train = train.filter(_stride_predicate(train, id_col, train_stride))
    # Driver-local fast path: a coarse quantizer's training set is small BY
    # DESIGN (that's what the stride sample is for — ~1000 points/centroid),
    # so when it fits the bound, pull it once and run Lloyd's in numpy:
    # zero Spark jobs per iteration instead of a collect-roundtrip each.
    sample = _bounded_sample(train)
    if sample is not None:
        return _kmeans_local(sample, k, max_iter)
    # Distributed path: training re-scans the (sampled) corpus max_iter+2
    # times (dim probe, seed pick, one assignment+sum per iteration).
    # Persist the projected (id, vec) slice for the duration so only the
    # FIRST action pays the source read; unpersisted before returning —
    # the serving scan reads the source.
    train = train.persist()
    try:
        seed_rows = train.orderBy(id_col).limit(k).select(vec_col).collect()
        centroids = [[float(x) for x in r[0]] for r in seed_rows]
        dim = len(centroids[0])
        for _ in range(max_iter):
            assigned = _assign_nearest(train, vec_col, centroids)
            sums = (
                assigned.select("__cluster", F.posexplode(F.col(vec_col)).alias("__i", "__x"))
                .groupBy("__cluster", "__i")
                .agg(F.sum(F.col("__x").cast("double")).alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new_c = [list(c) for c in centroids]
            acc: dict[int, list[float]] = {}
            cnt: dict[int, int] = {}
            for r in sums:
                acc.setdefault(r["__cluster"], [0.0] * dim)[r["__i"]] = r["s"]
                cnt[r["__cluster"]] = r["n"]
            for c_idx, vec in acc.items():
                new_c[c_idx] = [x / cnt[c_idx] for x in vec]
            if new_c == centroids:
                break
            centroids = new_c
        return centroids
    finally:
        train.unpersist()


_LOCAL_TRAIN_LIMIT = 200_000  # ≈100 MB of float64 at dim=64 — driver-safe

# Probe short-circuit (r15, ADVICE): the merged limit(N+1) probe transfers
# ~N full (id, vec) rows even when the frame is lake-sized and the rows are
# then discarded. When the optimizer's sizeInBytes estimate is MUCH larger
# than any under-bound frame could be, skip the probe and take the
# distributed path directly. Correctness is path-invariant (local and
# distributed twins are equivalence-pinned), so a wrong estimate costs only
# the path choice, never the result; 2 GiB is ~20x the largest possible
# under-bound transfer, far outside estimate noise at bench scale.
_SKIP_PROBE_EST_BYTES = 2 << 30


def _estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan sizeInBytes estimate; None when the py4j
    surface is unavailable. Diagnostics-grade only — callers must treat it
    as a coarse upper-bound hint, never a row count."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 - estimate is optional
        return None


def _bounded_sample(train: DataFrame) -> list | None:
    """The training rows when they fit _LOCAL_TRAIN_LIMIT, else None.

    ONE Spark action (limit(N+1).collect()) decides the bound AND fetches
    the rows — r14: the previous shape was a limit(N+1).count() probe
    followed by a separate full collect(), i.e. two actions and two scans
    of the (possibly lake-sized) train frame per quantizer training; the
    merged form halves that. The transfer stays bounded at N+1 rows
    (~100 MB at dim=64) whichever path wins, and when len(rows) <= N the
    limit returned EVERY row, so which-rows nondeterminism of limit cannot
    leak into the local path (it only truncates on the over-bound branch,
    where the rows are discarded). Frames whose optimizer size estimate is
    clearly lake-scale skip the probe transfer entirely (r15, ADVICE)."""
    est = _estimated_bytes(train)
    if est is not None and est > _SKIP_PROBE_EST_BYTES:
        return None
    rows = train.limit(_LOCAL_TRAIN_LIMIT + 1).collect()
    return rows if len(rows) <= _LOCAL_TRAIN_LIMIT else None

# ADC serving collects the query side to the driver to build distance tables
# and broadcasts them; "queries are small by contract" is enforced, not just
# documented. 10k queries × 8 subspaces × 256 centroids of float64 ≈ 160 MB
# of broadcast tables — the ceiling of comfortable.
_QUERY_SIDE_LIMIT = 10_000


def _collect_query_side(queries: DataFrame, what: str, bulk_alt: str = "pq_adc_topk_bulk") -> list:
    """Bounded collect enforcing the query-side contract in the SAME job
    that fetches the rows: limit(N+1) caps the driver transfer at ~N rows
    (a few MB at dim=64) whether or not the caller's frame is huge, and
    one row past the bound raises instead of serving a silently-oversized
    broadcast. One Spark job total — a separate count() probe would double
    the scheduling cost of every ADC query for no extra safety at this
    bound (unlike _LOCAL_TRAIN_LIMIT, whose 200k-row bound makes the
    8-byte count probe worth a job)."""
    rows = queries.limit(_QUERY_SIDE_LIMIT + 1).collect()
    if len(rows) > _QUERY_SIDE_LIMIT:
        raise ValueError(
            f"{what}: query side exceeds _QUERY_SIDE_LIMIT={_QUERY_SIDE_LIMIT} rows; "
            f"ADC serving builds driver-side distance tables per query — batch the "
            f"queries or use {bulk_alt}, whose distance tables stay a "
            f"DataFrame equi-joined to the codes (no driver materialization, "
            f"no query cap)"
        )
    return rows


def _kmeans_local(rows: list, k: int, max_iter: int) -> list[list[float]]:
    """Lloyd's on a collected (id, vec) sample — numerically the same
    procedure as the distributed path (seeds = k lowest ids, squared-L2
    argmin via argmax(<v,c> - |c|^2/2) with ties to the LOWEST cluster
    (np.argmax returns the first max), means per cluster, empty clusters
    keep their centroid, stop on exact fixpoint), so the unrolled-CTE SQL
    oracle mirrors it identically (summation-order ulps aside, as ever)."""
    rows = sorted(rows, key=lambda r: r[0])
    x = np.array([[float(v) for v in r[1]] for r in rows], dtype="float64")
    c = x[:k].copy()
    for _ in range(max_iter):
        scores = x @ c.T - 0.5 * (c * c).sum(axis=1)
        assign = scores.argmax(axis=1)
        new_c = c.copy()
        for j in range(k):
            members = x[assign == j]
            if len(members):
                new_c[j] = members.mean(axis=0)
        if np.array_equal(new_c, c):
            break
        c = new_c
    return [[float(v) for v in row] for row in c]


def _residual_rows_local(rows: list, centroids: list[list[float]]) -> list:
    """Driver-side twin of the engine's residual encoding for an
    already-collected (id, vec) sample: assign each vector to its nearest
    centroid with EXACTLY the engine's arithmetic (_assign_nearest computes
    dots via matrix_dots — a numpy float64 matmul inside a pandas_udf —
    minus half-norms built by a Python sum() fold, argmax with
    first-occurrence ties), then subtract the assigned centroid
    elementwise in float64 (the zip_with op). Same machine, same numpy,
    same op order ⇒ the residual rows are bit-identical to what a bounded
    collect of the engine-computed residual frame would return, without
    the extra scan+collect job per residual index build (r15)."""
    ids = [r[0] for r in rows]
    x = np.array([[float(v) for v in r[1]] for r in rows], dtype="float64")
    c = np.array(centroids, dtype="float64")
    half_norms = np.array([sum(v * v for v in cc) / 2.0 for cc in centroids])
    assign = (x @ c.T - half_norms).argmax(axis=1)
    res = x - c[assign]
    return [(i, row.tolist()) for i, row in zip(ids, res)]


def _matrix_lit(matrix: list[list[float]]) -> Column:
    """array<array<double>> literal built as ONE parsed SQL expression.
    Constructing it as nested F.array(F.lit(...)) costs one py4j round trip
    per element — ~0.7 s of DRIVER wall for a 16x64 coarse-centroid matrix
    (measured r14), paid once per index build AND once per serve; the
    single F.expr parse is ~5 ms. repr(float) is the shortest round-trip
    decimal and CAST('<repr>' AS DOUBLE) re-parses it to identical bits
    (verified bitwise incl. -0.0 and subnormals), so the evaluated plan
    values are unchanged."""
    return F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in row) + ")"
            for row in matrix
        ) + ")"
    )


def _assign_nearest(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Attach __cluster = index of the nearest centroid (squared L2)."""
    half_norms = [sum(x * x for x in c) / 2.0 for c in centroids]
    dots = matrix_dots(vec_col, centroids)
    base = df.withColumn("__dots", dots)  # projection barrier for the fold
    score = F.zip_with(
        F.col("__dots"), F.array(*[F.lit(h) for h in half_norms]), lambda d, h: d - h
    )
    cluster = (F.array_position(score, F.array_max(score)) - 1).cast("int")
    return base.withColumn("__cluster", cluster).drop("__dots")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    max_iter: int = 5,
    train_stride: int = 1,
) -> DataFrame:
    """IVF approximate top-k: coarse k-means quantizer, corpus partitioned
    into inverted lists by nearest centroid, queries probe their ``nprobe``
    nearest lists. Same output columns as brute_force_topk.

    Scale shape: training touches the corpus max_iter times (scan + tiny
    shuffle); serving is ONE corpus scan to assign lists, then an equi-join
    on the list id with the (small, broadcast) exploded query probes —
    scored candidates are ~corpus * nprobe / n_centroids per query. The
    centroid matrix is plan-time state (k*dim floats), not a stored model.
    Recall depends on how well the quantizer matches the data's cluster
    structure — measured against brute force in tests."""
    centroids = kmeans_centroids(
        corpus, vec_col=vec_col, id_col=id_col, k=n_centroids, max_iter=max_iter,
        train_stride=train_stride,
    )
    c = _assign_nearest(corpus, vec_col, centroids).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), F.col("__cluster").alias("list_id")
    )
    half_norms = [sum(x * x for x in cc) / 2.0 for cc in centroids]
    qb = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        matrix_dots(vec_col, centroids).alias("__dots"),
    )
    scored_lists = F.zip_with(
        F.col("__dots"), F.array(*[F.lit(h) for h in half_norms]), lambda d, h: d - h
    )
    ranked = F.transform(
        scored_lists, lambda s, i: F.struct(s.alias("score"), i.cast("int").alias("idx"))
    )
    probes = F.slice(F.reverse(F.array_sort(ranked)), 1, nprobe)
    q = qb.select(
        "query_id", "q_vec", F.explode(probes).alias("__p")
    ).select("query_id", "q_vec", F.col("__p.idx").alias("list_id"))
    scored = (
        c.join(broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.select("*", F.row_number().over(w).cast("long").alias("rk")).filter(F.col("rk") <= k)


# --- SRP sign-banding for embedding near-dup (engine + oracle-mirrorable) ---

def rademacher_signs(dim: int, plane: int, seed: int = 42) -> list[float]:
    """Deterministic ±1.0 hyperplane (Rademacher random signs — a valid SRP
    family). ±1.0 multiplication is EXACT in IEEE double, so an engine twin
    that folds the signed sum in the same element order reproduces the sign
    bit bit-for-bit — which is what lets the SQL oracle mirror the bucket
    assignment exactly instead of risking last-ulp sign flips."""
    out = []
    for d in range(dim):
        x = (plane * 1_000_003 + d * 19_349_663 + seed * 83_492_791) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 33
        x = (x * 0xFF51AFD7ED558CCD) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 33
        out.append(1.0 if x & 1 else -1.0)
    return out


def _signed_fold(vec: Column | str, signs: list[float]) -> Column:
    """Left-fold sum of sign-flipped components, in index order, starting
    from 0.0 — the fold shape a SQL list_reduce twin reproduces exactly."""
    v = F.col(vec) if isinstance(vec, str) else vec
    s = F.array(*[F.lit(x) for x in signs])
    return F.aggregate(
        F.zip_with(v, s, lambda a, b: a.cast("double") * b), F.lit(0.0), lambda acc, x: acc + x
    )


def srp_plane_sums(vec: Column | str, dim: int, n_planes: int, seed: int = 42) -> Column:
    """Array of ``n_planes`` signed sums <vec, ±1-plane_p>, via one
    Arrow-batched numpy matmul: (batch x dim) @ (dim x n_planes).

    NOT a column-expression fold on purpose: interpreted higher-order
    functions evaluate ~1.4M lambda-ops/s (measured — 2.85 s for 2000
    rows x 64 dims x 32 planes), while the BLAS matmul is effectively free
    at any batch size. Summation order differs from a left fold, but with
    ±1.0 coefficients every addend is EXACT; order only shifts the result
    by ~1e-13 relative, against a measured minimum |sum| of 4.1e-5 across
    the whole fixture (see srp_band_sql_keys) — so the downstream sign
    bits are unaffected and the SQL oracle twin (list_dot_product, its own
    order) still mirrors bucket assignment exactly."""
    from pyspark.sql.functions import pandas_udf

    signs = np.array([rademacher_signs(dim, p, seed) for p in range(n_planes)], dtype="float64")

    @pandas_udf("array<double>")
    def _sums(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype("float64")
        return pd.Series(list(m @ signs.T))

    return _sums(F.col(vec) if isinstance(vec, str) else vec)


def srp_keys_from_sums(sums: Column | str, *, n_bands: int, band_bits: int) -> list[Column]:
    """Band keys (band_bits sign bits packed into a long) from a
    srp_plane_sums column. Plane index = band*band_bits + j."""
    s = F.col(sums) if isinstance(sums, str) else sums
    keys = []
    for band in range(n_bands):
        key = F.lit(0).cast("long")
        for j in range(band_bits):
            d = F.element_at(s, band * band_bits + j + 1)
            key = key.bitwiseOR(F.when(d >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long")))
        keys.append(key)
    return keys


def srp_band_sql_keys(
    dim: int, *, n_bands: int = 8, band_bits: int = 4, seed: int = 42, vec: str = "embedding"
) -> list[str]:
    """DuckDB SQL expressions computing the same band keys as srp_band_keys:
    the same ±1 sign planes embedded as literals, with the dot product via
    native list_dot_product. Summation order may differ from Spark's
    left-fold, but with ±1.0 coefficients both engines sum the SAME exact
    addends, so the results differ by at most ~1e-13 relative — while the
    smallest |dot| across the whole test fixture is 4.1e-5 (measured over
    every (vector, plane) at sf0.001/0.01/0.1, 8 orders of magnitude of
    margin), so the sign bit — and therefore the bucket assignment and the
    candidate set — is identical across engines. That is what lets the
    catalog query keep a full value-hash oracle even though the prefilter
    is probabilistic: oracle and engine mirror the same deterministic
    bucket assignment."""
    exprs = []
    for band in range(n_bands):
        bits = []
        for j in range(band_bits):
            signs = rademacher_signs(dim, band * band_bits + j, seed)
            arr = "[" + ",".join("1.0" if s > 0 else "-1.0" for s in signs) + "]"
            dot = f"list_dot_product(CAST({vec} AS DOUBLE[]), {arr})"
            bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
        exprs.append("(" + " + ".join(bits) + ")")
    return exprs


def srp_band_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    min_cosine: float = 0.35,
    dim: int = 64,
    n_bands: int = 8,
    band_bits: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs via SRP sign-banding: candidates share the
    block key AND at least one band of SRP sign bits (OR-construction over
    ``n_bands`` bands of ``band_bits`` hyperplanes); cosine verifies each
    candidate against ``min_cosine``.

    Plan shape: explode to (band, key) → equi-join on (block, band, key) →
    distinct pairs → verify. No all-pairs scan at any block size; candidate
    count per block is ~n_bands * s^2 / 2^band_bits vs s^2 for all-pairs,
    and AQE skew-splits hot buckets.

    RECALL (documented, probabilistic — unlike prefix filtering this
    prefilter is lossy by design): a pair at angle θ collides in one band
    with prob (1-θ/π)^band_bits, so overall recall is
    1 - (1 - (1-θ/π)^band_bits)^n_bands. With the defaults: ~0.98 at
    cosine 0.8, ~0.9996 at cosine 0.9 — the regime where true near-dups
    live — but only ~0.75 at the 0.35 decision boundary (the LSH exponent ρ
    approaches 1 as θ → 90°, so NO hash family prunes borderline-dissimilar
    pairs well; use the exact path for low thresholds). Measured recall on
    the test fixture is asserted in tests/test_operators.py.
    """
    pairs = _srp_candidate_pairs(
        df, vec_col=vec_col, id_col=id_col, block_col=block_col,
        dim=dim, n_bands=n_bands, band_bits=band_bits, seed=seed,
    )
    sides = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # Arrow batch scoring, then threshold: keeping the cosine as a column
    # EXPRESSION gets it duplicated into the join condition and re-evaluated
    # per reference (the interpreted fold was ~4x the query's wall time);
    # the einsum path scores each candidate pair exactly once.
    return _score_pairs_for(pairs, sides).filter(F.col("cosine") >= min_cosine)


def _srp_candidate_pairs(
    df: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    block_col: str,
    dim: int,
    n_bands: int,
    band_bits: int,
    seed: int,
    bucket_cap: int | None = None,
    cap_window: int = 64,
) -> DataFrame:
    """Distinct candidate id pairs (id_a < id_b) sharing the block key and
    at least one SRP sign band. Narrow posting rows (id, block, band, key)
    go through the index join — the vectors are re-attached to the (much
    smaller) candidate set by callers, so 512-byte arrays never travel
    through the n_bands-exploded join.

    ``bucket_cap`` bounds the quadratic term: a (block, band, key) bucket
    of B members contributes B(B-1)/2 pairs, and over a corpus with tight
    near-duplicate clusters the bucket-size tail dominates — band WIDENING
    cannot fix it (cluster members agree on every plane sign: the sf10
    probe measured 2.95e9 pre-dedup pairs at the auto width and only -15%
    per extra bit, max bucket still ~6k at 16 bits). With a cap, buckets
    of B <= bucket_cap pair exhaustively as before, while each member of an
    OVERSIZED bucket pairs with only its ``cap_window`` forward neighbors
    in each of the bucket's TWO PROJECTION orderings — members sorted by
    round(plane-0 dot, 6) and independently by round(plane-1 dot, 6), id
    tiebreak — via offset-explode EQUI-joins, so no B^2 term survives
    anywhere in the plan (the r12 id-order single-window probe measured
    149M capped pairs vs 2.95B uncapped at sf10; the dual windows scale
    that by 2*cap_window/64, still linear in postings). Projection order,
    not id order, decides who a capped member still meets: a 1-D
    random-projection sort puts high-cosine mates at adjacent ranks, and
    the second independent order catches mates that happen to sort far
    apart in the first (measured sf10 near-dup detection recall,
    scripts/knn_recall.py: id-order 0.36, single-proj 0.48, dual-proj
    0.70 against the 0.82 SRP-banding ceiling). The 1e-6 quantization
    narrows cross-engine rank divergence to dots within the ~1e-13
    summation-order discrepancy of a rounding boundary; unlike the sign
    bits (min margin 4.1e-5 — five orders above noise, rank-proof at any
    scale) boundary distances are uniform in the quantum, so the margin
    is measured per corpus: scripts/rounding_margin.py /
    ROUNDING_MARGIN.json record zero dots within 1x the noise bound at
    every generated scale (rank orders identical under the model), but at
    sf10 the min distance (6.9e-13) is only ~1.6x the bound and 3 of 400k
    dots sit within 10x of a boundary — at larger corpora single
    adjacent-rank transpositions engine-vs-oracle become expected. The
    residual effect is bounded: one window member swapped per transposed
    rank, never a scored cosine (those share one rounding definition
    downstream). The cap
    is part of the operator's approximate semantics (a deterministic
    candidate-recall bound, like n_bands / band_bits) and is mirrored
    verbatim in the SQL oracles; callers that pass bucket_cap=None keep
    the exact pre-cap behavior."""
    if bucket_cap is not None and band_bits < 2:
        # The two capped-path orderings read plane sums 1 and 2 as band-0's
        # planes 0 and 1; with band_bits=1 element 2 is band-1/plane-0, which
        # would silently diverge from the SQL oracle's band-0/j-1 (NULL
        # there). No registered query can reach this (auto floors at 4), but
        # the operator API could.
        raise ValueError(
            f"bucket_cap requires band_bits >= 2 (got {band_bits}): the dual "
            "projection orderings use band 0's first two plane sums"
        )
    # Bind the (expensive, interpreted) plane-sum fold ONCE via a lambda
    # variable: transform over a 1-element array makes every key reference a
    # lambda-bound value instead of a copy of the fold. A plain aliased
    # select is NOT a barrier — CollapseProject re-inlines the alias into
    # each of the n_bands key expressions, re-evaluating the whole fold per
    # key (measured 8x plan blowup, ~4x wall time on q_embed_neardup).
    def keys_of(s: Column) -> Column:
        out = []
        for band in range(n_bands):
            key = F.lit(0).cast("long")
            for j in range(band_bits):
                d = F.element_at(s, band * band_bits + j + 1)
                key = key.bitwiseOR(
                    F.when(d >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
                )
            out.append(F.struct(F.lit(band).alias("band"), key.alias("key")))
        # the capped path also needs the plane-0/plane-1 dots as SCALARS:
        # computing them here, inside the same bind-once lambda, reuses the
        # one fold evaluation (element_at(sums, i) outside it would re-run
        # the whole plane-sum pass)
        return F.struct(
            F.round(F.element_at(s, 1), 6).alias("proj"),
            F.round(F.element_at(s, 2), 6).alias("proj2"),
            F.array(*out).alias("bb"),
        )

    sums = srp_plane_sums(vec_col, dim, n_bands * band_bits, seed)
    packed = F.element_at(F.transform(F.array(sums), keys_of), 1)
    # materialize the posting rows ONCE: the self-join consumes them twice,
    # and each evaluation re-runs the Arrow plane-sum pass over the whole
    # corpus; the materialized frame is narrow (id, block, proj, band, key)
    exploded = df.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("block"),
        packed.alias("pk"),
    ).select(
        "id", "block", F.col("pk.proj").alias("proj"),
        F.col("pk.proj2").alias("proj2"), F.explode("pk.bb").alias("bb")
    ).select(
        "id", "block", "proj", "proj2",
        F.col("bb.band").alias("band"), F.col("bb.key").alias("key"),
    )
    if bucket_cap is None:
        exploded = exploded.drop("proj", "proj2").localCheckpoint()
        a, b = exploded.alias("a"), exploded.alias("b")
        return (
            a.join(
                b,
                (F.col("a.block") == F.col("b.block"))
                & (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    # Bucket-capped path: size + rank every posting row inside its bucket
    # (one shuffle on the bucket key — the window ALSO restores full
    # cluster-wide parallelism downstream: the uncapped plan inherited the
    # scan's partition count, which throttled the sf10 join to 16 tasks).
    unord = Window.partitionBy("block", "band", "key")
    sized = (
        exploded.withColumn("bsz", F.count(F.lit(1)).over(unord))
        .withColumn(
            "rna", F.row_number().over(unord.orderBy("proj", "id")).cast("long")
        )
        .withColumn(
            "rnb", F.row_number().over(unord.orderBy("proj2", "id")).cast("long")
        )
        # Restore id-grouped row order after the bucket-keyed window shuffle.
        # This is a measured 6x on the candidate dedup, not a nicety: the
        # self-join streams probe rows in checkpoint order, and a pair that
        # collides in several bands is emitted once per band — id-grouped
        # order puts those duplicates within a few consecutive probe rows,
        # so the partial dedup aggregate hits a cache-hot map entry, while
        # bucket order scatters them across the whole stream and every
        # lookup becomes a cold random probe into a multi-GB map (sf1:
        # 36 s -> 6 s for the identical 52.7M-row dedup).
        .repartition(F.col("id"))
        .sortWithinPartitions("id")
        .localCheckpoint()
    )
    small = sized.filter(F.col("bsz") <= bucket_cap)
    sa, sb = small.alias("a"), small.alias("b")
    small_pairs = sa.join(
        sb,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    # Oversized buckets: member rank r pairs with (r+1 .. r+cap_window) in
    # EACH of the two projection orders, via an offset explode + EQUI-join
    # on (block, band, key, rank) — at most 2 * cap_window * postings rows,
    # never B^2. Two independent 1-D orders because one is not enough: a
    # mate pair far apart in plane-0 order (many bucket members between
    # their projections) is usually adjacent in the independent plane-1
    # order — measured at sf10, dual windows lift near-dup detection the
    # same as a single 4x-wider window at half its pair budget. Ranks are
    # projection-ordered, so emitted ids are normalized to id_a < id_b for
    # the dedup with the small-bucket pairs.
    big = sized.filter(F.col("bsz") > bucket_cap)

    def window_pairs(rank_col: str) -> DataFrame:
        src = big.select(
            "id", "block", "band", "key",
            F.explode(
                F.expr(
                    f"IF({rank_col} < bsz, sequence({rank_col} + 1L, "
                    f"least({rank_col} + {int(cap_window)}L, CAST(bsz AS BIGINT))), "
                    "CAST(array() AS ARRAY<BIGINT>))"
                )
            ).alias("rr"),
        )
        dst = big.select(
            F.col("id").alias("id_b_"), "block", "band", "key",
            F.col(rank_col).alias("rr"),
        )
        return src.join(dst, ["block", "band", "key", "rr"]).select(
            F.least("id", "id_b_").alias("id_a"),
            F.greatest("id", "id_b_").alias("id_b"),
        )

    big_pairs = window_pairs("rna").unionByName(window_pairs("rnb"))
    return small_pairs.unionByName(big_pairs).dropDuplicates(["id_a", "id_b"])


def _cosine_frame(pdf, va, vb):
    """The pair scorers' one cosine kernel: (id_a, id_b, raw cosine) for the
    row-aligned float64 vector matrices ``va``/``vb`` of an Arrow batch."""
    dots = np.einsum("ij,ij->i", va, vb)
    na = np.sqrt(np.einsum("ij,ij->i", va, va))
    nb = np.sqrt(np.einsum("ij,ij->i", vb, vb))
    out = pdf[["id_a", "id_b"]].copy()
    out["cosine"] = dots / (na * nb)
    return out


def _score_pairs_arrow(pairs_with_vecs: DataFrame) -> DataFrame:
    """Batch-score candidate pairs with numpy (Arrow transfer): one einsum
    per batch instead of one interpreted fold per pair — the mandated
    vectorized-UDF shape for bulk per-pair vector math (~10-50× the
    expression path on 10^6 pairs). The UDF emits the RAW cosine and the
    6dp rounding is applied with F.round on the output column, so every
    scorer in the module (and the DuckDB ROUND oracles) shares ONE decimal
    rounding definition — np.round's scale-then-ties-to-even could disagree
    with F.round in the 6th decimal for cosines near a .5e-6 boundary.
    numpy's pairwise summation differs from the left-fold only in the last
    ulp, which the shared rounding absorbs (same argument as the DuckDB
    list_* kernels, already hash-verified). Output id columns keep the
    input's id dtypes (string doc ids work, not just longs)."""
    import pandas as pd  # noqa: F401 — signature requirement
    from pyspark.sql.types import DoubleType, StructField, StructType

    in_schema = pairs_with_vecs.schema
    out_schema = StructType(
        [in_schema["id_a"], in_schema["id_b"], StructField("cosine", DoubleType())]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf["vec_a"].to_numpy()).astype("float64")
            vb = np.stack(pdf["vec_b"].to_numpy()).astype("float64")
            yield _cosine_frame(pdf, va, vb)

    scored = pairs_with_vecs.mapInPandas(score, out_schema)
    return scored.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


# Closure-scoring bound: the corpus matrix is captured in the python-UDF
# command and re-shipped per task, so the bound is a CLOSURE-SIZE budget —
# 65,536 vectors * 64 dims * 8 B = 32 MB — not a row-count convenience. Two
# measured failure modes above it (sf10, 200k vectors = 102 MB): (a) raw
# closure capture wedged the runner outright (workers never finished
# set-up); (b) a Spark broadcast variable avoided the per-task copy but
# sporadically deadlocked the worker-REUSE protocol (a reused worker blocks
# reading broadcast bookkeeping the JVM never sends, until the output
# socket times out and kills the job). Above the bound the join-attach path
# re-attaches vectors with plain JVM-side joins (broadcast-hash at these
# side sizes) — no python-protocol payload at all, and the right plan on a
# real cluster anyway.
_BROADCAST_SCORE_LIMIT = 65_536

# knn_graph's bucket-size cap (shared with the SQL oracles in
# plans/northstar.py so engine and oracle stay one definition): buckets over
# KNN_BUCKET_CAP members pair each member with only its KNN_CAP_WINDOW
# forward neighbors in EACH of two independent projection orders. The cap
# exceeds the largest measured bucket at every oracle/parity scale through
# sf1 (1431), so it only engages at >= sf10. The window default sits at the
# measured knee of the sf10 recall/cost curve (scripts/knn_recall.py;
# near-dup detection recall vs the 0.818 SRP ceiling): id-order single-64
# 0.477, dual-proj 64 0.591, dual-proj 128 0.705 @ 2.4x the r12 capped-pair
# budget, dual-proj 256 0.750 @ 4.8x — 128 buys 86% of the ceiling before
# the curve flattens.
KNN_BUCKET_CAP = 2048
KNN_CAP_WINDOW = 128


def _score_pairs_closure(
    pairs: DataFrame, sides: DataFrame, pdf=None
) -> DataFrame:
    """Score (id_a, id_b) candidate pairs WITHOUT attaching vectors to them:
    the whole (id, vec) corpus rides to executors in the task closure and
    each Arrow batch gathers its rows by binary search. Candidates are
    narrow (two ids), so the shuffle + Arrow payload drops from
    2·dim floats per pair to 16 bytes per pair (~30x at dim=64) — measured
    2.2 s -> 0.6 s on the 622k-pair knn_graph scoring step at sf0.1.

    Callers MUST gate on _BROADCAST_SCORE_LIMIT (see _score_pairs_for).
    It shares _cosine_frame and the final F.round with _score_pairs_arrow,
    so the two paths emit the same cosines and the DuckDB oracles hold for
    either."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    # Arrow collect (toPandas), not Row collect: at the _BROADCAST_SCORE_LIMIT
    # bound a Row collect builds hundreds of MB of boxed Python objects on the
    # driver before the matrix exists; the Arrow path lands as numpy float32
    # cells and the
    # float32 -> float64 widening is exact, so cosines are unchanged.
    # ``pdf``: _score_pairs_for already collected the (complete) corpus when
    # it routed here through its merged bound-probe — don't collect twice.
    if pdf is None:
        pdf = sides.toPandas()
    ids = pdf.iloc[:, 0].to_numpy()
    order = np.argsort(ids)
    ids_sorted = ids[order]
    mat = np.array(
        [np.asarray(v, dtype="float64") for v in pdf.iloc[:, 1]], dtype="float64"
    )[order]

    in_schema = pairs.schema
    out_schema = StructType(
        [in_schema["id_a"], in_schema["id_b"], StructField("cosine", DoubleType())]
    )

    # The matrix rides in the python command, re-shipped per task (bounded
    # by _BROADCAST_SCORE_LIMIT); shipping it as a SparkContext.broadcast
    # measured 36% slower.
    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ia = np.searchsorted(ids_sorted, pdf["id_a"].to_numpy())
            ib = np.searchsorted(ids_sorted, pdf["id_b"].to_numpy())
            yield _cosine_frame(pdf, mat[ia], mat[ib])

    scored = pairs.mapInPandas(score, out_schema)
    return scored.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _score_pairs_for(
    pairs: DataFrame, sides: DataFrame, n_sides: int | None = None
) -> DataFrame:
    """Route candidate-pair scoring: closure-shipped corpus when it fits
    _BROADCAST_SCORE_LIMIT (bounded probe, the k-means gate pattern),
    otherwise re-attach vectors by id join and score via the Arrow batch
    path. ``sides`` must be (id, vec). Callers that already counted the
    corpus (e.g. knn_graph's band_bits="auto" probe) pass ``n_sides`` to
    skip the probe. r14: the probe is ONE bounded Arrow collect
    (limit(N+1).toPandas()) that doubles as the closure path's corpus pull
    — the previous limit-count + toPandas shape scanned ``sides`` twice;
    when len <= N the limit returned every row, so the closure path sees
    the complete corpus exactly as before. Frames whose optimizer size
    estimate is clearly lake-scale skip the probe transfer and go straight
    to the join-attach path (r15, ADVICE — both paths emit identical
    cosines, so the estimate only steers cost)."""
    if n_sides is None:
        est = _estimated_bytes(sides)
        if est is not None and est > _SKIP_PROBE_EST_BYTES:
            n_sides = _BROADCAST_SCORE_LIMIT + 1  # over-bound by estimate
        else:
            pdf = sides.limit(_BROADCAST_SCORE_LIMIT + 1).toPandas()
            if len(pdf) <= _BROADCAST_SCORE_LIMIT:
                return _score_pairs_closure(pairs, sides, pdf=pdf)
            n_sides = len(pdf)
    if n_sides <= _BROADCAST_SCORE_LIMIT:
        return _score_pairs_closure(pairs, sides)
    with_vecs = pairs.join(
        sides.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")), "id_a"
    ).join(sides.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")), "id_b")
    return _score_pairs_arrow(with_vecs)


def knn_graph(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    dim: int = 64,
    n_bands: int = 8,
    band_bits: int | str = 4,
    seed: int = 42,
    target_bucket: int = 125,
    bucket_cap: int = KNN_BUCKET_CAP,
    cap_window: int = KNN_CAP_WINDOW,
) -> DataFrame:
    """Approximate k-NN graph over the WHOLE corpus: each vector's top-k
    neighbors among SRP band-collision candidates — the building block of
    SemDeDup-style semantic dedup and graph-based ANN index construction.

    Differs from the query-serving paths (brute_force_topk / srp_topk /
    ivf_topk take a small query set) in that every corpus vector is a query:
    candidates come from the same sign-band equi-join as srp_band_pairs (no
    block restriction), each undirected candidate pair is scored once, then
    mirrored into both directions and ranked per source. Candidate count is
    ~n_bands * n^2 / 2^band_bits per band bucket instead of n^2 — and the
    same deterministic ±1 planes keep the whole thing oracle-mirrorable.
    Output: (src, nbr, cosine, rk<=k).

    Scoring is the Arrow/numpy batch path, not the column-expression fold:
    the graph build scores EVERY candidate pair (~10^6 at n=2000 already),
    and one einsum per Arrow batch is 10-50× the interpreted fold.

    ``band_bits="auto"`` derives the bucket width from a corpus count
    probe: ``max(4, ceil(log2(n / target_bucket)))``, keeping the expected
    bucket occupancy near ``target_bucket`` vectors at ANY corpus size. A
    FIXED band_bits saturates: candidates grow ~n²/2^band_bits, and the
    sf1 scale probe measured exactly that — a 10× corpus against
    band_bits=4's 16 buckets/band turned the pair-scoring stage into a
    >10-minute single-straggler quadratic blowup. The derivation is part
    of the operator's semantics (buckets change when the derived width
    changes), and it intentionally lands on 4 — the historical pinned
    value — for every oracle/parity corpus up to sf0.1, so the static SQL
    oracles keep mirroring the bucket assignment bit-for-bit there.

    ``bucket_cap``/``cap_window`` bound the OTHER quadratic: band width
    controls the EXPECTED bucket size, but a clustered corpus concentrates
    near-identical vectors into buckets no extra bit can split (their
    plane signs all agree), and sum-of-B^2 over that tail — not E[B] —
    drives the pair count. The sf10 probe (200k vectors) measured 2.95e9
    pre-dedup pairs at the auto width (max bucket 9.6k vs expected 98) and
    only ~15%/bit relief out to 16 bits; the uncapped build GC-thrashed an
    8g heap in the candidate dedup. Buckets over ``bucket_cap`` therefore
    pair each member with only its ``cap_window`` forward neighbors in
    each of two PROJECTION orders (deterministic, SQL-mirrored, linear in
    postings) — the 1-D projection sorts put a member's high-cosine mates
    at adjacent ranks, so the windows keep the mates that matter. The
    first cut of the cap used vec-id order; scripts/knn_recall.py measured
    its sf10 near-dup detection recall at 0.36 (id-neighbors in a
    hash-degenerate mega-bucket are random vectors) and the retune curve
    landed on dual-projection windows of 128 at 0.70 vs the 0.82 SRP
    ceiling (full curve at KNN_CAP_WINDOW). Diverse candidates still
    arrive via the other bands' sub-cap buckets. The default cap exceeds
    the largest measured bucket at every oracle/parity scale through sf1
    (1431), so outputs below sf10 scale are bit-identical to the uncapped
    build."""
    n = None
    if band_bits == "auto":
        n = corpus.count()  # metadata-cheap count probe, one per build
        band_bits = max(4, math.ceil(math.log2(max(1, n) / target_bucket)))
    tagged = corpus.withColumn("__blk", F.lit(1))
    cand = _srp_candidate_pairs(
        tagged, vec_col=vec_col, id_col=id_col, block_col="__blk",
        dim=dim, n_bands=n_bands, band_bits=band_bits, seed=seed,
        bucket_cap=bucket_cap, cap_window=cap_window,
    )
    sides = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    pairs = _score_pairs_for(cand, sides, n_sides=n)
    # End the Python scoring stage at a shuffle write — for two reasons.
    # (1) Reuse: the sym mirror below consumes `pairs` in BOTH union
    # branches, and without an exchange between them each branch re-executes
    # the scoring stage (ReusedExchange only kicks in at a shuffle) — the
    # repartition halves the scoring cost at every scale. (2) Stability at
    # scale: without it, Spark 4's WindowGroupLimit pushdown plants a local
    # sort in the SAME task that drains the Python runner, and at sf10
    # (99M scored pairs, 32 concurrent runner+sort pipelines in one 8g heap)
    # the drain stalled long enough for worker output sockets to hit TCP
    # timeouts and kill the job. With the exchange, the Python stage is a
    # pure map stage and the partial top-k sort runs on plain shuffled rows.
    pairs = pairs.repartition("id_a", "id_b")
    sym = pairs.selectExpr("id_a AS src", "id_b AS nbr", "cosine").unionByName(
        pairs.selectExpr("id_b AS src", "id_a AS nbr", "cosine")
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("nbr"))
    return sym.select("*", F.row_number().over(w).cast("long").alias("rk")).filter(F.col("rk") <= k)


def _pq_codebooks(
    df: DataFrame,
    *,
    dim: int,
    n_subspaces: int,
    n_centroids: int,
    max_iter: int,
    train_stride: int,
    sample_rows: list | None = None,
) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks. Trains ALL subspaces from ONE pull of the
    stride sample when it fits the driver bound (n_subspaces separate
    kmeans_centroids calls would re-probe and re-collect the same rows);
    the per-subspace distributed trainer remains the fallback above the
    bound. _kmeans_local on numpy slices is numerically identical to
    slicing inside the engine (float32→float64 widening is elementwise).
    ``df`` must be (id, vec). ``sample_rows`` (r14): a caller that already
    holds the EXACT (id, vec) stride sample this function would collect
    (build_ivfpq_index's non-residual path — same source frame, same
    stride) passes it to skip the collect entirely: zero Spark actions."""
    if dim % n_subspaces:
        raise ValueError(
            f"dim={dim} not divisible by n_subspaces={n_subspaces}: the trailing "
            f"{dim % n_subspaces} dimensions would be silently dropped from every code"
        )
    sub = dim // n_subspaces
    if sample_rows is None:
        train = df.select("id", "vec")
        if train_stride > 1:
            train = train.filter(_stride_predicate(train, "id", train_stride))
        sample_rows = _bounded_sample(train)
    rows = sample_rows
    if rows is not None:
        return [
            _kmeans_local(
                [(r[0], r[1][s * sub : (s + 1) * sub]) for r in rows],
                n_centroids, max_iter,
            )
            for s in range(n_subspaces)
        ]
    return [
        kmeans_centroids(
            df.select("id", F.slice(F.col("vec"), s * sub + 1, sub).alias("__sub")),
            vec_col="__sub", id_col="id", k=n_centroids,
            max_iter=max_iter, train_stride=train_stride,
        )
        for s in range(n_subspaces)
    ]


def pq_codes(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    max_iter: int = 2,
    train_stride: int = 1,
    codebooks: list[list[list[float]]] | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantization codes (Jégou et al., TPAMI'11): split each
    vector into ``n_subspaces`` contiguous sub-vectors, train an independent
    deterministic k-means codebook per subspace (same bounded trainer as the
    IVF quantizer — stride-sampled, driver-local under the probe bound),
    and emit each vector's per-subspace nearest-centroid code plus the
    packed code word. At n_subspaces=8, n_centroids=16 a 256-byte float32
    vector compresses to a 4-byte code word (64x) — the memory layout an
    ANN index at 100 TB actually serves from.

    Serving is ONE corpus scan: all n_subspaces assignments are column
    expressions (matrix_dots against codebook literals) stacked on the same
    frame — no joins, no Python. Training cost is n_subspaces bounded
    k-means runs on the stride sample.

    Output: (id, c0..c{S-1} int codes, pq_code packed long, *passthrough),
    fully mirrorable by per-subspace unrolled-CTE oracles (q_embed_pq).
    ``passthrough`` columns of the input ride along unchanged — e.g. a
    precomputed inverted-list id — so callers composing codes with other
    per-vector state don't pay a self-join to re-attach it.
    """
    if dim % n_subspaces:
        raise ValueError(
            f"dim={dim} not divisible by n_subspaces={n_subspaces}: the trailing "
            f"{dim % n_subspaces} dimensions would be silently dropped from every code"
        )
    sub = dim // n_subspaces
    bits = max(1, (n_centroids - 1).bit_length())
    df = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), *passthrough
    )
    if codebooks is None:
        codebooks = _pq_codebooks(
            df.select("id", "vec"), dim=dim, n_subspaces=n_subspaces,
            n_centroids=n_centroids, max_iter=max_iter, train_stride=train_stride,
        )
    # one fused Arrow crossing for all n_subspaces assignments (bit-identical
    # to the former per-subspace _assign_nearest chain — see _pq_assign_codes)
    df = df.withColumn("__codes", _pq_assign_codes(F.col("vec"), codebooks, sub))
    code_cols = [
        F.element_at("__codes", s + 1).alias(f"c{s}") for s in range(n_subspaces)
    ]
    packed = F.lit(0).cast("long")
    for s in range(n_subspaces):
        packed = packed.bitwiseOR(
            F.shiftleft(F.element_at("__codes", s + 1).cast("long"), s * bits)
        )
    return df.select(
        F.col("id").alias(id_col), *code_cols, packed.alias("pq_code"), *passthrough
    )


def _tables_schema(queries: DataFrame, id_col: str, *, list_id: bool = False,
                   vec: bool = False):
    """Broadcast-side schema for ADC serving, with query_id typed from the
    caller's frame (queries.schema[id_col]) instead of a hard-coded long —
    string doc ids (UUID corpora) serve through the same plan."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StructField, StructType,
    )

    fields = [StructField("query_id", queries.schema[id_col].dataType)]
    if list_id:
        fields.append(StructField("list_id", IntegerType()))
    if vec:
        fields.append(StructField("q_vec", ArrayType(DoubleType())))
    else:
        fields.append(StructField("tables", ArrayType(ArrayType(DoubleType()))))
    return StructType(fields)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    max_iter: int = 2,
    train_stride: int = 1,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance computation (ADC —
    Jégou et al., TPAMI'11): the corpus is stored ONLY as PQ codes; each
    query precomputes one distance table per subspace (squared L2 from its
    sub-vector to every codebook centroid) and a candidate's distance is
    the sum of n_subspaces table lookups — never touching the original
    corpus vectors. This is the memory half of the billion-scale ANN
    recipe (IVF partitions, PQ compresses; the two compose).

    Plan shape: serving is ONE corpus scan emitting codes (pq_codes), one
    broadcast of the per-query tables (queries are small by contract, the
    same bound as brute_force_topk's broadcast side), and a cross join
    whose per-row cost is n_subspaces array lookups — no vector math at
    serve time. The per-query distance tables are exact float64 numpy vs
    the codebook literals, so the SQL oracle reproduces them from the
    unrolled-k-means CTEs (q_ann_pq_adc).

    Output: (query_id, neighbor_id, adc_dist rounded 6dp, rk<=k);
    deterministic ties (adc_dist asc, neighbor_id asc).
    """
    import numpy as np

    sub = dim // n_subspaces
    df = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    codebooks = _pq_codebooks(
        df, dim=dim, n_subspaces=n_subspaces, n_centroids=n_centroids,
        max_iter=max_iter, train_stride=train_stride,
    )
    codes = pq_codes(
        corpus, vec_col=vec_col, id_col=id_col, dim=dim,
        n_subspaces=n_subspaces, n_centroids=n_centroids,
        max_iter=max_iter, train_stride=train_stride, codebooks=codebooks,
    )
    # per-query distance tables: table[s][c] = |q_s - codebook[s][c]|^2
    books = [np.array(cb, dtype="float64") for cb in codebooks]
    qrows = _collect_query_side(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")),
        "pq_adc_topk",
    )
    table_rows = []
    for r in qrows:
        qv = np.array([float(x) for x in r["qvec"]], dtype="float64")
        tables = [
            [float(((qv[s * sub : (s + 1) * sub] - books[s][c]) ** 2).sum())
             for c in range(n_centroids)]
            for s in range(n_subspaces)
        ]
        table_rows.append((r["qid"], tables))
    spark = corpus.sparkSession
    # query-id type is derived from the caller's frame (real corpora key on
    # string doc UUIDs as often as integers — the reference's own SlaveID is
    # a string, syscol/metrics_reporter.go:33-40), so the broadcast
    # distance-table schema follows whatever the id column actually is
    tables_df = spark.createDataFrame(
        table_rows, _tables_schema(queries, id_col)
    )
    dist = None
    for s in range(n_subspaces):
        term = F.element_at(F.element_at("tables", s + 1), F.col(f"c{s}") + 1)
        dist = term if dist is None else dist + term
    scored = (
        codes.crossJoin(broadcast(tables_df))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(dist, 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id"))
    return scored.select("*", F.row_number().over(w).cast("long").alias("rk")).filter(
        F.col("rk") <= k
    )


def matrix_sqdists(vec: Column | str, matrix: list[list[float]]) -> Column:
    """Array of squared L2 distances |v - row_j|^2 to every row of a
    plan-time matrix literal, via one Arrow-batched numpy broadcast —
    the distance-table construction of pq_adc_topk computed ON-PLAN
    instead of on the driver. The per-element arithmetic
    ((v - row) ** 2).sum(last_axis) is the same float64 reduction the
    driver-side numpy tables use, so the two ADC paths' tables agree
    bit-for-bit."""
    from pyspark.sql.functions import pandas_udf

    m = np.array(matrix, dtype="float64")  # (n_rows, dim)

    @pandas_udf("array<double>")
    def _sqd(v: pd.Series) -> pd.Series:
        b = np.stack(v.to_numpy()).astype("float64")  # (batch, dim)
        d = ((b[:, None, :] - m[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(list(d))

    return _sqd(F.col(vec) if isinstance(vec, str) else vec)


def _pq_assign_codes(vec: Column | str, codebooks: list[list[list[float]]], sub: int) -> Column:
    """ALL n_subspaces PQ code assignments in ONE Arrow crossing, as an
    array<int> column — replaces the chained per-subspace
    slice → _assign_nearest loop, whose ~40 DataFrame/py4j transformations
    cost a measured ~1.3 s of pure DRIVER plan-construction wall per index
    build (r14). Arithmetic is replicated step-for-step so the codes are
    bit-identical to the loop's: the sub-slice is made contiguous before
    the same (batch, sub) @ (sub, k) dgemm matrix_dots ran, the half-norms
    are the same Python-float sums _assign_nearest embedded as literals
    (subtracted elementwise in float64, same as the JVM zip_with), and
    np.argmax takes the first maximum exactly like
    array_position(score, array_max(score)))."""
    from pyspark.sql.functions import pandas_udf

    mats_t = [np.array(cb, dtype="float64").T for cb in codebooks]  # (sub, k) views
    halfs = [
        np.array([sum(x * x for x in row) / 2.0 for row in cb], dtype="float64")
        for cb in codebooks
    ]

    @pandas_udf("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        b = np.stack(v.to_numpy()).astype("float64")  # (batch, dim)
        out = np.empty((b.shape[0], len(mats_t)), dtype="int32")
        for s, m_t in enumerate(mats_t):
            sl = np.ascontiguousarray(b[:, s * sub:(s + 1) * sub])
            score = sl @ m_t - halfs[s][None, :]
            out[:, s] = np.argmax(score, axis=1)
        return pd.Series(list(out))

    return _codes(F.col(vec) if isinstance(vec, str) else vec)


def _pq_dist_tables(vec: Column | str, codebooks: list[list[list[float]]], sub: int) -> Column:
    """ALL n_subspaces ADC distance tables in ONE Arrow crossing, as an
    array<array<double>> column (subspace-major) — replaces the
    per-subspace slice → matrix_sqdists withColumn loop for the same
    driver-wall reason as _pq_assign_codes. Per subspace the arithmetic is
    matrix_sqdists' own ((b - m)**2).sum(axis=2) float64 broadcast over a
    contiguous slice, so every table value is bit-identical."""
    from pyspark.sql.functions import pandas_udf

    mats = [np.array(cb, dtype="float64") for cb in codebooks]  # (k, sub)

    @pandas_udf("array<array<double>>")
    def _tables(v: pd.Series) -> pd.Series:
        b = np.stack(v.to_numpy()).astype("float64")  # (batch, dim)
        per_sub = []
        for s, m in enumerate(mats):
            sl = np.ascontiguousarray(b[:, s * sub:(s + 1) * sub])
            per_sub.append(((sl[:, None, :] - m[None, :, :]) ** 2).sum(axis=2))
        stacked = np.stack(per_sub, axis=1)  # (batch, n_subspaces, k)
        # tolist(): exact float64 -> Python float -> Arrow double round trip
        return pd.Series(stacked.tolist())

    return _tables(F.col(vec) if isinstance(vec, str) else vec)


def _adc_sum_fixed_order() -> Column:
    """Order-independent ADC distance aggregate for the bulk scorers: the
    per-subspace lookup terms are collected as (subspace, dist) structs,
    sorted by subspace, and folded left-to-right — so the float64 additions
    happen in FIXED subspace order no matter how the shuffle partitioned
    the rows. A bare ``F.sum`` accumulates in partition-arrival order, which
    is not bitwise-deterministic across runs/cluster layouts and could flip
    a 6dp rounding knife-edge; this fold is the join-based path's analogue
    of the driver-table path's fixed-order numpy reduction. collect_list
    still partially aggregates map-side (list concat), and the state is
    n_subspaces structs per (query, neighbor) — bounded."""
    return F.round(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("__s", "__d"))),
            F.lit(0.0),
            lambda acc, x: acc + x["__d"],
        ),
        6,
    )


def pq_adc_topk_bulk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    max_iter: int = 2,
    train_stride: int = 1,
    k: int = 5,
) -> DataFrame:
    """PQ-ADC top-k for LARGE query sets — the join-based scorer the
    broadcast path's _QUERY_SIDE_LIMIT error points at. Same semantics and
    output columns as pq_adc_topk (6dp-rounded ADC distance, (dist asc,
    neighbor_id asc) ties), but the per-query distance tables never touch
    the driver: they are computed on-plan (matrix_sqdists over each query's
    sub-vectors) and carried as a DataFrame keyed (query_id, subspace,
    centroid), equi-joined to the long-format codes on (subspace, code).

    Scale shape: tables side is |queries| * n_subspaces * n_centroids rows
    (128 per query at 8x16) — distributed, no broadcast, no cap. The join
    key has only n_subspaces * n_centroids distinct values; AQE skew-join
    splits the big matches, and the per-(query, neighbor) sum is partially
    aggregated map-side before its shuffle. Full-ADC scoring is inherently
    |corpus| * |queries| work in the compressed domain — at production
    scale compose with IVF pruning (ivf_pq_topk) for sublinear candidates;
    this operator is the exhaustive-scoring path at unbounded query count.
    """
    sub = dim // n_subspaces
    df = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    codebooks = _pq_codebooks(
        df, dim=dim, n_subspaces=n_subspaces, n_centroids=n_centroids,
        max_iter=max_iter, train_stride=train_stride,
    )
    codes = pq_codes(
        corpus, vec_col=vec_col, id_col=id_col, dim=dim,
        n_subspaces=n_subspaces, n_centroids=n_centroids,
        max_iter=max_iter, train_stride=train_stride, codebooks=codebooks,
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    tables = (
        q.select(
            "query_id",
            F.posexplode(_pq_dist_tables(F.col("__qvec"), codebooks, sub))
            .alias("__ts", "__dists"),
        )
        .select(
            "query_id", "__ts", F.posexplode(F.col("__dists")).alias("__tc", "__d")
        )
    )
    codes_long = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(F.array(*[F.col(f"c{s}") for s in range(n_subspaces)]))
        .alias("__s", "__code"),
    )
    scored = (
        codes_long.join(
            tables,
            (F.col("__s") == F.col("__ts")) & (F.col("__code") == F.col("__tc")),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(_adc_sum_fixed_order().alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id"))
    return scored.select("*", F.row_number().over(w).cast("long").alias("rk")).filter(
        F.col("rk") <= k
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_lists: int = 16,
    nprobe: int = 4,
    coarse_iter: int = 3,
    coarse_stride: int = 1,
    n_subspaces: int = 8,
    pq_centroids: int = 16,
    pq_iter: int = 2,
    pq_stride: int = 1,
    k: int = 5,
    residual: bool = False,
    refine: int = 0,
) -> DataFrame:
    """IVF+PQ: the composed billion-scale ANN serving recipe (Jégou et al.
    — coarse inverted lists prune the corpus, PQ asymmetric distance ranks
    the survivors from 4-byte codes). Queries probe their ``nprobe``
    nearest coarse lists; candidates in those lists are ranked by the sum
    of per-subspace distance-table lookups through their PQ codes — the
    original corpus vectors are touched only at index-build time.

    ``residual=False`` is plain PQ — codes quantize the raw vectors, which
    keeps every stage individually oracle-mirrorable (q_ann_ivfpq composes
    the VALIDATED coarse chain of q_ann_ivf with the VALIDATED subspace
    chains of q_ann_pq_adc).

    ``residual=True`` is the production recipe (IVFADC, Jégou et al. §IV):
    codebooks train on (vec - coarse_centroid[list]) so the PQ budget is
    spent on the variance the coarse quantizer did NOT explain, and each
    query builds one distance table per PROBED LIST from its own residual
    to that list's centroid. Same serving plan — one corpus scan to
    (id, list, codes), broadcast per-(query, list) tables, n_subspaces
    lookups per candidate — with strictly better recall per code byte.
    Oracle-mirrored by q_ann_ivfpq_res (residual CTE + long-format
    k-means chains).

    ``refine=R`` (IVFADC+R, Jégou et al. §V): keep the top-R ADC
    candidates per query, then re-rank ONLY those R rows with the exact
    cosine against the raw vectors. The refinement join touches R rows per
    query (broadcast shortlist vs one corpus scan), so the 100 TB shape is
    unchanged, and recall recovers to the coarse stage's ceiling — ADC
    ordering noise inside the shortlist no longer costs recall (measured:
    the fixture's recall@5 roughly doubles at R=50; see
    test_ann_ivfpq_residual_refine_recall).

    Output: (query_id, neighbor_id, adc_dist rounded 6dp, rk<=k);
    with ``refine``, (query_id, neighbor_id, cosine rounded 6dp, rk<=k).

    Implementation = build_ivfpq_index + ivfpq_serve: the index (codes +
    quantizers) is a first-class artifact that can be persisted with
    save_ivfpq_index and served later from load_ivfpq_index — the
    build-once / serve-many lifecycle a real deployment runs.
    """
    index_codes, meta = build_ivfpq_index(
        corpus, vec_col=vec_col, id_col=id_col, dim=dim, n_lists=n_lists,
        coarse_iter=coarse_iter, coarse_stride=coarse_stride,
        n_subspaces=n_subspaces, pq_centroids=pq_centroids,
        pq_iter=pq_iter, pq_stride=pq_stride, residual=residual,
    )
    return ivfpq_serve(
        index_codes, meta, queries, vec_col=vec_col, k=k, nprobe=nprobe,
        refine=refine, corpus=corpus if refine else None,
    )


def build_ivfpq_index(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_lists: int = 16,
    coarse_iter: int = 3,
    coarse_stride: int = 1,
    n_subspaces: int = 8,
    pq_centroids: int = 16,
    pq_iter: int = 2,
    pq_stride: int = 1,
    residual: bool = False,
) -> tuple[DataFrame, dict]:
    """Index half of IVF+PQ: one corpus scan to (id, c0.., pq_code,
    list_id) plus the plan-time quantizer state. Returns (codes, meta);
    meta carries the coarse centroids, PQ codebooks and hyperparameters —
    everything ivfpq_serve needs, and what save_ivfpq_index persists."""
    df = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # coarse quantizer → inverted-list assignment (one scan). The stride
    # sample is pulled HERE (one bounded action) so the non-residual PQ
    # codebook training below can reuse the identical rows instead of
    # re-collecting them — r14: the build previously cost 2 probe + 2
    # collect actions (4 passes over the sample); now 1 collect when the
    # sample fits the driver bound and the strides match.
    train = df if coarse_stride <= 1 else df.filter(
        _stride_predicate(df, "id", coarse_stride)
    )
    sample = _bounded_sample(train)
    if sample is not None:
        coarse = _kmeans_local(sample, n_lists, coarse_iter)
    else:
        coarse = kmeans_centroids(
            corpus, vec_col=vec_col, id_col=id_col, k=n_lists,
            max_iter=coarse_iter, train_stride=coarse_stride,
        )
    assigned = _assign_nearest(df, "vec", coarse).select(
        "id", "vec", F.col("__cluster").alias("list_id")
    )
    if residual:
        # residual to the assigned coarse centroid, as one column expression
        # against the plan-time centroid matrix literal — no extra scan/join
        cmat = _matrix_lit(coarse)
        enc_src = assigned.select(
            "id",
            F.zip_with(
                F.col("vec"),
                F.element_at(cmat, F.col("list_id") + 1),
                lambda a, b: a.cast("double") - b,
            ).alias("vec"),
            "list_id",
        )
    else:
        enc_src = assigned
    # PQ codebooks + one code row per corpus vector; list_id rides through
    # pq_codes (passthrough) so serving is ONE scan — no self-join to
    # re-attach the inverted-list assignment
    if sample is not None and pq_stride == coarse_stride:
        # the collected coarse sample is row-for-row the PQ training
        # sample (same source frame, same stride): non-residual trains on
        # it directly (r14); residual trains on its DRIVER-COMPUTED
        # residuals (r15) — the assignment arithmetic is the same numpy
        # matmul the engine's matrix_dots pandas_udf runs (float64, argmax
        # first-occurrence ties, half-norms via the same Python fold as
        # _assign_nearest) and the subtraction is the same elementwise
        # float64 op as the zip_with, so the rows are bit-identical and
        # the second bounded collect (scan + assign + residual per build)
        # disappears.
        pq_sample = sample if not residual else _residual_rows_local(sample, coarse)
    else:
        pq_sample = None
    codebooks = _pq_codebooks(
        enc_src.select("id", "vec"), dim=dim, n_subspaces=n_subspaces,
        n_centroids=pq_centroids, max_iter=pq_iter, train_stride=pq_stride,
        sample_rows=pq_sample,
    )
    codes = pq_codes(
        enc_src, vec_col="vec", id_col="id", dim=dim,
        n_subspaces=n_subspaces, n_centroids=pq_centroids,
        max_iter=pq_iter, train_stride=pq_stride, codebooks=codebooks,
        passthrough=("list_id",),
    ).withColumnRenamed("id", id_col)
    meta = {
        "dim": dim, "n_lists": n_lists, "n_subspaces": n_subspaces,
        "n_centroids": pq_centroids, "residual": residual, "id_col": id_col,
        "coarse": coarse, "codebooks": codebooks,
    }
    return codes, meta


def ivfpq_append(
    new_vectors: DataFrame,
    meta: dict,
    *,
    vec_col: str = "embedding",
    id_col: str | None = None,
) -> DataFrame:
    """Incremental index maintenance: encode NEW vectors with a frozen
    index's quantizers (coarse centroids + PQ codebooks from ``meta``) and
    return code rows in exactly build_ivfpq_index's schema — union them
    onto the persisted codes table and the index has grown without
    retraining or re-encoding the corpus. This is the daily-ingest
    operation every production IVF deployment runs (retraining is a rare
    offline event; appends are constant), and the missing third member of
    the index lifecycle next to build/save/load.

    Encoding is one scan of the new shard: centroid assignment and
    codebook lookup are plan-time literals, no join to the existing codes.
    By construction, append(shard, meta) on the SHARD the index was built
    from reproduces the build's own code rows bit-for-bit, and
    append(full) == build_codes ∪ append(new) — asserted in
    test_ivfpq_append_matches_full_encode. Quality caveat (standard for
    frozen-quantizer appends): new vectors from a drifted distribution
    quantize with the OLD codebooks; monitor per-list residual error and
    retrain offline when it degrades.
    """
    idc = id_col or meta["id_col"]
    df = new_vectors.select(F.col(idc).alias("id"), F.col(vec_col).alias("vec"))
    coarse = meta["coarse"]
    assigned = _assign_nearest(df, "vec", coarse).select(
        "id", "vec", F.col("__cluster").alias("list_id")
    )
    if meta["residual"]:
        cmat = _matrix_lit(coarse)
        enc_src = assigned.select(
            "id",
            F.zip_with(
                F.col("vec"),
                F.element_at(cmat, F.col("list_id") + 1),
                lambda a, b: a.cast("double") - b,
            ).alias("vec"),
            "list_id",
        )
    else:
        enc_src = assigned
    return pq_codes(
        enc_src, vec_col="vec", id_col="id", dim=meta["dim"],
        n_subspaces=meta["n_subspaces"], n_centroids=meta["n_centroids"],
        codebooks=meta["codebooks"], passthrough=("list_id",),
    ).withColumnRenamed("id", idc)


def ivfpq_residual_stats(
    vectors: DataFrame,
    meta: dict,
    *,
    vec_col: str = "embedding",
    id_col: str | None = None,
) -> DataFrame:
    """Index-staleness monitor — the concrete form of ivfpq_append's
    "monitor per-list residual error" contract: assign a shard to the
    frozen coarse quantizer and report, per inverted list, how far its
    vectors sit from their centroid (mean/max L2 residual norm). Run it on
    each appended shard and compare against the build-time baseline: a
    drifted ingest distribution shows up as rising residual norms (and
    often mass concentrating in few lists) BEFORE recall degrades in
    serving — the retrain trigger. One scan; centroids are plan-time
    literals; output is n_lists rows.
    """
    idc = id_col or meta["id_col"]
    df = vectors.select(F.col(idc).alias("id"), F.col(vec_col).alias("vec"))
    coarse = meta["coarse"]
    assigned = _assign_nearest(df, "vec", coarse).select(
        "vec", F.col("__cluster").alias("list_id")
    )
    cmat = _matrix_lit(coarse)
    res = F.zip_with(
        F.col("vec"), F.element_at(cmat, F.col("list_id") + 1), lambda a, b: a.cast("double") - b
    )
    norm = F.sqrt(F.aggregate(res, F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        assigned.select("list_id", norm.alias("residual_norm"))
        .groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("residual_norm"), 6).alias("mean_residual"),
            F.round(F.max("residual_norm"), 6).alias("max_residual"),
        )
    )


def save_ivfpq_index(codes: DataFrame, meta: dict, path: str) -> None:
    """Persist the index as lake tables: codes parquet + a long-format
    centroid table (kind, subspace, cluster, i, val) + a one-row params
    table. Doubles round-trip parquet exactly, so a loaded index serves
    bit-identically to the one it was saved from (tested)."""
    spark = codes.sparkSession
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    rows = [
        ("coarse", -1, j, i, float(v))
        for j, row in enumerate(meta["coarse"]) for i, v in enumerate(row)
    ] + [
        ("pq", s, c, i, float(v))
        for s, cb in enumerate(meta["codebooks"])
        for c, row in enumerate(cb)
        for i, v in enumerate(row)
    ]
    spark.createDataFrame(
        rows, "kind string, subspace int, cluster int, i int, val double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [(meta["dim"], meta["n_lists"], meta["n_subspaces"], meta["n_centroids"],
          meta["residual"], meta["id_col"])],
        "dim int, n_lists int, n_subspaces int, n_centroids int, residual boolean, id_col string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def load_ivfpq_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Inverse of save_ivfpq_index: (codes, meta) ready for ivfpq_serve."""
    p = spark.read.parquet(f"{path}/meta").collect()[0]
    cents = spark.read.parquet(f"{path}/centroids").collect()
    sub = p["dim"] // p["n_subspaces"]
    coarse = [[0.0] * p["dim"] for _ in range(p["n_lists"])]
    codebooks = [
        [[0.0] * sub for _ in range(p["n_centroids"])] for _ in range(p["n_subspaces"])
    ]
    for r in cents:
        if r["kind"] == "coarse":
            coarse[r["cluster"]][r["i"]] = r["val"]
        else:
            codebooks[r["subspace"]][r["cluster"]][r["i"]] = r["val"]
    meta = {
        "dim": p["dim"], "n_lists": p["n_lists"], "n_subspaces": p["n_subspaces"],
        "n_centroids": p["n_centroids"], "residual": p["residual"],
        "id_col": p["id_col"], "coarse": coarse, "codebooks": codebooks,
    }
    return spark.read.parquet(f"{path}/codes"), meta


def ivfpq_serve(
    index_codes: DataFrame,
    meta: dict,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    refine: int = 0,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Serve half of IVF+PQ: rank an index's codes for a query set.
    ``refine`` needs the raw ``corpus`` frame (exact re-rank touches
    refine rows per query). Same output contract as ivf_pq_topk."""
    import numpy as np

    dim, n_subspaces = meta["dim"], meta["n_subspaces"]
    n_lists, pq_centroids = meta["n_lists"], meta["n_centroids"]
    residual, id_col = meta["residual"], meta["id_col"]
    coarse, codebooks = meta["coarse"], meta["codebooks"]
    codes = index_codes
    sub = dim // n_subspaces
    if refine and corpus is None:
        raise ValueError("ivfpq_serve: refine>0 needs the raw corpus frame for the exact re-rank")
    books = [np.array(cb, dtype="float64") for cb in codebooks]
    coarse_m = np.array(coarse, dtype="float64")
    half = 0.5 * (coarse_m * coarse_m).sum(axis=1)
    qrows = _collect_query_side(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")),
        "ivf_pq_topk",
        bulk_alt="ivfpq_serve_bulk",
    )
    spark = queries.sparkSession
    if residual:
        # per-(query, probed list) distance tables on the query's residual
        # to THAT list's centroid: table[s][c] = |(q - C_list)_s - cb[s][c]|^2.
        # Probe ranking mirrors the Spark-side slice(reverse(array_sort)):
        # score desc, ties to the HIGHER list index.
        table_rows = []
        for r in qrows:
            qv = np.array([float(x) for x in r["qvec"]], dtype="float64")
            scores = coarse_m @ qv - half
            probe_ids = sorted(range(n_lists), key=lambda j: (-scores[j], -j))[:nprobe]
            for lid in probe_ids:
                qres = qv - coarse_m[lid]
                tables = [
                    [float(((qres[s * sub : (s + 1) * sub] - books[s][c]) ** 2).sum())
                     for c in range(pq_centroids)]
                    for s in range(n_subspaces)
                ]
                table_rows.append((r["qid"], lid, tables))
        tables_df = spark.createDataFrame(
            table_rows, _tables_schema(queries, id_col, list_id=True)
        )
        joined = codes.join(broadcast(tables_df), "list_id")
    else:
        # query probes: nprobe best coarse lists (same ranking as ivf_topk),
        # computed Spark-side so the plain-PQ oracle chain mirrors it
        half_norms = [float(h) for h in half]
        qb = queries.select(
            F.col(id_col).alias("query_id"),
            matrix_dots(vec_col, coarse).alias("__dots"),
        )
        scored_lists = F.zip_with(
            F.col("__dots"), F.array(*[F.lit(h) for h in half_norms]), lambda d, h: d - h
        )
        ranked = F.transform(
            scored_lists, lambda s, i: F.struct(s.alias("score"), i.cast("int").alias("idx"))
        )
        probes = F.slice(F.reverse(F.array_sort(ranked)), 1, nprobe)
        qp = qb.select("query_id", F.explode(probes).alias("__p")).select(
            "query_id", F.col("__p.idx").alias("list_id")
        )
        # per-query PQ distance tables (same construction as pq_adc_topk)
        table_rows = []
        for r in qrows:
            qv = np.array([float(x) for x in r["qvec"]], dtype="float64")
            tables = [
                [float(((qv[s * sub : (s + 1) * sub] - books[s][c]) ** 2).sum())
                 for c in range(pq_centroids)]
                for s in range(n_subspaces)
            ]
            table_rows.append((r["qid"], tables))
        tables_df = spark.createDataFrame(
            table_rows, _tables_schema(queries, id_col)
        )
        joined = codes.join(broadcast(qp), "list_id").join(broadcast(tables_df), "query_id")
    dist = None
    for s in range(n_subspaces):
        term = F.element_at(F.element_at("tables", s + 1), F.col(f"c{s}") + 1)
        dist = term if dist is None else dist + term
    scored = (
        joined.filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(dist, 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id"))
    if refine:
        shortlist = (
            scored.select("*", F.row_number().over(w).alias("__r"))
            .filter(F.col("__r") <= refine)
            .drop("adc_dist", "__r")
        )
        qvec_df = spark.createDataFrame(
            [(r["qid"], [float(x) for x in r["qvec"]]) for r in qrows],
            _tables_schema(queries, id_col, vec=True),
        )
        rescored = (
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
            .join(broadcast(shortlist), "neighbor_id")
            .join(broadcast(qvec_df), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
            )
        )
        w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
        return rescored.select("*", F.row_number().over(w2).cast("long").alias("rk")).filter(
            F.col("rk") <= k
        )
    return scored.select("*", F.row_number().over(w).cast("long").alias("rk")).filter(
        F.col("rk") <= k
    )


def ivfpq_serve_bulk(
    index_codes: DataFrame,
    meta: dict,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    refine: int = 0,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """IVF+PQ serving for LARGE query sets — the list-pruned counterpart of
    pq_adc_topk_bulk. Same ranking semantics and output columns as
    ivfpq_serve (plain or residual per ``meta``), but NOTHING touches the
    driver: probe selection, the (query, probed list) pairs, and the ADC
    distance tables are all plan expressions, carried as a DataFrame keyed
    (query_id, list_id, subspace, centroid) and equi-joined to the
    long-format codes on (list_id, subspace, code).

    Scale shape: tables side is |queries| * nprobe * n_subspaces *
    n_centroids rows — distributed, no broadcast, no _QUERY_SIDE_LIMIT.
    The join meets each code row only with queries that PROBED its list
    (the IVF pruning is inside the equi-join key), so join output is
    candidate-proportional, ~|corpus| * nprobe / n_lists per query, and
    the per-(query, neighbor) sum partially aggregates map-side. For the
    residual recipe the per-list residual (q - C_list) is one zip_with
    against the coarse-centroid literal before the same sqdist tables —
    the construction the broadcast path does in numpy, here in-plan.

    ``refine=R`` (IVFADC+R) re-ranks each query's top-R ADC candidates by
    exact cosine against the raw ``corpus`` vectors — both joins are plain
    distributed equi-joins on neighbor_id / query_id (R rows per query on
    the shortlist side), so the no-cap property is preserved.
    """
    dim, n_subspaces = meta["dim"], meta["n_subspaces"]
    residual, id_col = meta["residual"], meta["id_col"]
    coarse, codebooks = meta["coarse"], meta["codebooks"]
    sub = dim // n_subspaces
    half_norms = [sum(x * x for x in c) / 2.0 for c in coarse]
    if refine and corpus is None:
        raise ValueError(
            "ivfpq_serve_bulk: refine>0 needs the raw corpus frame for the exact re-rank"
        )

    # nprobe best coarse lists per query — the same ranking expression the
    # broadcast path's plain branch uses (score desc, ties to higher index)
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        matrix_dots(vec_col, coarse).alias("__dots"),
    )
    scored_lists = F.zip_with(
        F.col("__dots"), F.array(*[F.lit(h) for h in half_norms]), lambda d, h: d - h
    )
    ranked = F.transform(
        scored_lists, lambda s, i: F.struct(s.alias("score"), i.cast("int").alias("idx"))
    )
    probes = F.slice(F.reverse(F.array_sort(ranked)), 1, nprobe)
    qp = qb.select(
        "query_id", "__qvec", F.explode(probes).alias("__p")
    ).select("query_id", "__qvec", F.col("__p.idx").alias("list_id"))
    if residual:
        cmat = _matrix_lit(coarse)
        qp = qp.select(
            "query_id",
            "list_id",
            F.zip_with(
                F.col("__qvec"),
                F.element_at(cmat, F.col("list_id") + 1),
                lambda a, b: a.cast("double") - b,
            ).alias("__qvec"),
        )
    tables = (
        qp.select(
            "query_id",
            "list_id",
            F.posexplode(_pq_dist_tables(F.col("__qvec"), codebooks, sub))
            .alias("__ts", "__dists"),
        )
        .select(
            "query_id", "list_id", "__ts",
            F.posexplode(F.col("__dists")).alias("__tc", "__d"),
        )
    )
    codes_long = index_codes.select(
        F.col(id_col).alias("neighbor_id"),
        "list_id",
        F.posexplode(F.array(*[F.col(f"c{s}") for s in range(n_subspaces)]))
        .alias("__s", "__code"),
    )
    scored = (
        codes_long.join(
            tables,
            (codes_long["list_id"] == tables["list_id"])
            & (F.col("__s") == F.col("__ts"))
            & (F.col("__code") == F.col("__tc")),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(_adc_sum_fixed_order().alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id"))
    if refine:
        shortlist = (
            scored.select("*", F.row_number().over(w).alias("__r"))
            .filter(F.col("__r") <= refine)
            .drop("adc_dist", "__r")
        )
        qvecs = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        rescored = (
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
            .join(shortlist, "neighbor_id")
            .join(qvecs, "query_id")
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine_similarity("q_vec", "c_vec"), 6).alias("cosine"),
            )
        )
        w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
        return rescored.select("*", F.row_number().over(w2).cast("long").alias("rk")).filter(
            F.col("rk") <= k
        )
    return scored.select("*", F.row_number().over(w).cast("long").alias("rk")).filter(
        F.col("rk") <= k
    )


def semantic_dedup(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    min_cosine: float = 0.35,
    max_iter: int = 3,
    train_stride: int = 1,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic deduplication: partition the
    corpus with a coarse k-means quantizer, then inside each cluster drop
    every vector that has a LOWER-id clustermate with cosine >= min_cosine
    (the lowest id of each similar group survives — deterministic, no RNG).
    Output: (vec_id, cluster, keep).

    Scale shape: clustering reuses the bounded-training quantizer
    (kmeans_centroids — stride-sampled training, one serving scan to
    assign); the only pairwise work is the intra-cluster self-join, which
    is the SemDeDup design point — k is chosen so clusters are small
    (corpus_rows / k pairs-per-cluster is the knob; at 100 TB pick
    k ~ rows/50k so the per-cluster quadratic term stays bounded), and AQE
    skew-splits oversized clusters. Vectors travel once to the candidate
    pairs; scoring is the shared Arrow einsum batch path.

    Oracle-mirrorable end to end: deterministic k-means unrolls into the
    same CTE chain as the IVF oracle, and the drop rule is one EXISTS over
    the cluster equi-join (plans/northstar.py::q_semdedup).
    """
    cents = kmeans_centroids(
        corpus, vec_col=vec_col, id_col=id_col, k=n_clusters,
        max_iter=max_iter, train_stride=train_stride,
    )
    # materialize the assignment ONCE: it feeds both sides of the cluster
    # self-join, the scorer's (id, vec) corpus, and the final keep join —
    # without the checkpoint the centroid-distance fold re-runs per consumer
    # (at lake scale this is the "write cluster assignments to a table"
    # step every SemDeDup implementation takes)
    assigned = (
        _assign_nearest(corpus.select(id_col, vec_col), vec_col, cents)
        .select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
            F.col("__cluster").alias("cluster"),
        )
        .localCheckpoint()
    )
    # candidate pairs stay NARROW (two ids) through the cluster self-join;
    # vectors are attached by the routed scorer (closure-shipped corpus under
    # the bound, id join above it) — carrying both vectors through the join
    # was 2*dim floats per pair of shuffle+Arrow payload (measured 16 s vs
    # ~3 s at sf0.1)
    a = assigned.select(F.col("id").alias("id_a"), F.col("cluster"))
    b = assigned.select(F.col("id").alias("id_b"), F.col("cluster"))
    pairs = a.join(b, "cluster").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    sides = assigned.select("id", "vec")
    dropped = (
        _score_pairs_for(pairs, sides)
        .filter(F.col("cosine") >= min_cosine)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        assigned.join(dropped, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )
    )


def semantic_dedup_delta(
    new_vecs: DataFrame,
    corpus_state: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.35,
) -> DataFrame:
    """Incremental SemDeDup: dedup a NEW shard against a PERSISTED cluster
    state — the embedding-side daily-ingest path, mirroring
    minhash_dedup_delta's shape (dedup.py). The quantizer (``centroids``)
    and the corpus assignments (``corpus_state``: (id, vec, cluster) rows,
    the materialized output of the index-time run joined with its vectors)
    are precomputed lake assets; each ingest batch pays ONE assignment scan
    of its own rows plus intra-cluster joins against only the clusters it
    actually touches — O(new · cluster_occupancy), never corpus².

    Drop rule matches the batch operator exactly: a new vector is dropped
    iff a LOWER-id clustermate (old or new) has cosine >= min_cosine. With
    monotonically increasing ingest ids (old < new), this reproduces what
    batch SemDeDup over (corpus ∪ shard) decides for the shard's rows —
    the parity test runs both on a two-shard split
    (test_semantic_dedup_delta_parity). Output: (id_col, cluster, keep)
    for the NEW shard only.
    """
    new_assigned = (
        _assign_nearest(new_vecs.select(id_col, vec_col), vec_col, centroids)
        .select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
            F.col("__cluster").alias("cluster"),
        )
        .localCheckpoint()
    )
    old = corpus_state.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        F.col("cluster").cast("int").alias("cluster"),
    )
    a = new_assigned.select(F.col("id").alias("id_a"), "cluster")
    b = (
        old.select(F.col("id").alias("id_b"), "cluster")
        .unionByName(new_assigned.select(F.col("id").alias("id_b"), "cluster"))
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("id_b") < F.col("id_a"))
        .select(F.col("id_a"), F.col("id_b"))
    )
    sides = old.select("id", "vec").unionByName(new_assigned.select("id", "vec"))
    dropped = (
        _score_pairs_for(pairs, sides)
        .filter(F.col("cosine") >= min_cosine)
        .select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        new_assigned.join(dropped, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )
    )
