"""Iterative k-means (Lloyd) over embedding columns — the semantic-
clustering / IVF-codebook-training step of an LLM-data pipeline
(cluster-balanced sampling, semantic dedup, coarse ANN cells).

Beyond-reference operator (the reference has no ML primitives); the
shape follows the classic distributed Lloyd's algorithm:

* centroids are MODEL STATE, O(k·dim) — they travel as ONE broadcast
  row (small k, all-JVM HOF distances) or as a collected k-row matrix
  shipped into an Arrow GEMM kernel (large k — the SemDeDup posture;
  the collect is bounded by k, the same materialization the broadcast
  pays), so each iteration is: map-side assignment (no shuffle of the
  points) + one (cluster, dim) shuffle to re-average.  Points are
  never replicated and never shuffled; at 100 TB the per-iteration
  cost is one scan + one tiny aggregate, the textbook scale shape.
* determinism (oracle-checkable): initial centroids are the k rows
  with the smallest ids; distances are rounded to 6 dp before the
  argmin (ties break on the smaller cluster id); re-averaged centroid
  coordinates go through the repo's decimal-exact-sum formula
  (sum(DECIMAL(18,9)) / n, rounded to 6 dp).  Every step is therefore
  reproducible bit-for-bit by an independent engine.
* lineage: like ``dedup.duplicate_clusters``, long runs checkpoint the
  (small) centroid frame every few rounds so the plan does not grow
  exponentially with iterations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

_CHECKPOINT_EVERY = 4


def _centroid_row(cents: DataFrame) -> DataFrame:
    """(cluster_id, centroid array) → ONE broadcastable row holding all
    centroids as an array of structs, sorted by cluster id."""
    return cents.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("cluster_id"), F.col("centroid")))
        ).alias("cents")
    )


def _local_rows(df: DataFrame) -> list | None:
    """``df.collect()`` when the frame is a driver-local relation
    (``similarity._local_metadata``'s VALUES form, or anything Catalyst
    folds to a LocalRelation) — executeCollect on a LocalTableScan runs
    ZERO cluster jobs; returns None otherwise, and the caller keeps
    its broadcast join (the frame is not driver-scale as far as the
    plan shows).

    Why callers care (round-14, guide §5): the stored-index paths
    re-derive tiny metadata aggregations (``_centroid_row``, the
    per-sub codebook rows) per append/probe, and under AQE each such
    aggregation materializes an Exchange stage job plus a
    BroadcastExchange job — ~5 driver-sequenced jobs per appended
    batch for <=KB of metadata.  When the metadata is already
    driver-local, the aggregated shape can be folded into the
    expression tree as LITERALS instead (constant-folded by Catalyst,
    zero joins, zero broadcast builds)."""
    try:
        is_local = (
            df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
            == "LocalRelation"
        )
    except Exception:  # pragma: no cover - Spark Connect: no _jdf
        return None
    return df.collect() if is_local else None




def _sqdist(vec: Column, cent: Column) -> Column:
    """Σ (v_i − c_i)², left-to-right fold, rounded to 6 dp (the argmin
    compares ROUNDED distances so an independent engine reproduces the
    assignment exactly)."""
    return F.round(
        F.aggregate(
            F.zip_with(vec, cent, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


# above this many centroids the interpreted-HOF distance fold loses to
# the numpy GEMM kernel (n·k·dim interpreted lambda evaluations vs one
# BLAS call per Arrow batch); below it the JVM path wins by avoiding
# the Python stage floor entirely.  Measured at sf0.1·256x/dim 64:
# k=4 HOF ≈ GEMM; k=1024 HOF is minutes, GEMM seconds.
_GEMM_K_THRESHOLD = 64


def assign_clusters(
    points: DataFrame,
    cents: DataFrame,
    vec_col: str,
    id_col: str,
    method: str = "auto",
    k_hint: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment, map-only (points never shuffle).
    Output: ``(id, _v double-array, cluster_id)``.

    Two physically different kernels with IDENTICAL verdicts (distances
    rounded HALF_UP at 6 dp before the argmin, ties to the lowest
    cluster id, NULL/ragged vectors to the lowest cluster id):

    * ``hof`` — broadcast the single centroid row, ``array_min`` over
      (distance, cluster_id) structs.  All-JVM, no Python stage: wins
      for small k (the bench recipes use k=4).
    * ``gemm`` — collect the k centroids (bounded by k, the same
      materialization the broadcast pays), ship the matrix into an
      Arrow batch kernel, distances via ‖x‖² − 2·X@Cᵀ + ‖c‖² blockwise
      BLAS.  The interpreted HOF fold costs n·k·dim lambda evaluations
      — at large k (SemDeDup posture: k grows with the corpus) that is
      the dominant cost of the whole pipeline, and the GEMM kernel is
      ~100x cheaper.
    * ``auto`` — ``gemm`` when the centroid count reaches
      ``_GEMM_K_THRESHOLD`` (uses ``k_hint`` when the caller knows k,
      else one k-row count job).
    """
    if method not in ("auto", "hof", "gemm"):
        raise ValueError(f"unknown assignment method: {method}")
    if method == "auto":
        k = k_hint if k_hint is not None else cents.count()
        method = "gemm" if k >= _GEMM_K_THRESHOLD else "hof"
    if method == "gemm":
        return _assign_gemm(points, cents, vec_col, id_col)
    pts = points.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    local = _local_rows(cents)
    if local:
        # driver-local centroids fold into the expression tree as one
        # JVM-parsed constant array (see similarity._sql_lit): the
        # crossJoin + its _centroid_row aggregation + broadcast build
        # all disappear from the plan — zero metadata jobs per action
        # (guide §5; see _local_rows).  Same sorted order as
        # sort_array(collect_list(...)): cluster_id is unique.
        from cherry_pipelines_spark.operators.similarity import _sql_lit

        fields = [cents.schema["cluster_id"], cents.schema["centroid"]]
        lit = _sql_lit(
            sorted(local, key=lambda r: r["cluster_id"]),
            T.ArrayType(T.StructType(fields)),
        )
        pts = pts.withColumn("cents", F.expr(lit))
    else:
        pts = pts.crossJoin(F.broadcast(_centroid_row(cents)))
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda s: F.struct(
                _sqdist(F.col("_v"), s["centroid"]).alias("d"),
                s["cluster_id"].alias("cluster_id"),
            ),
        )
    )
    return pts.select(id_col, "_v", best["cluster_id"].alias("cluster_id"))


def _assign_gemm(
    points: DataFrame, cents: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """GEMM half of :func:`assign_clusters`.  Verdict parity with the
    HOF fold: squared distances rounded HALF_UP at 6 dp (the fold and
    the expansion differ only in float64 summation order, which the
    rounding absorbs — the same contract `semantic_dedup`'s screen
    already relies on), argmin takes the first (= lowest cluster id)
    minimum, and a NULL / ragged / non-finite-length vector lands in
    the lowest cluster id exactly as the fold's all-NULL distance
    structs do."""
    import numpy as np
    import pandas as pd

    from cherry_pipelines_spark.operators.similarity import round_half_up_np

    rows = cents.orderBy("cluster_id").collect()  # k rows, bounded by k
    if not rows:
        raise ValueError("assign_clusters: empty centroid frame")
    cids = [r["cluster_id"] for r in rows]
    C = np.array([list(r["centroid"]) for r in rows], dtype=np.float64)
    cnorm2 = (C * C).sum(axis=1)
    dim = C.shape[1]
    fallback_cid = cids[0]

    out_schema = T.StructType(
        [
            points.schema[id_col],
            T.StructField("_v", T.ArrayType(T.DoubleType())),
            T.StructField("cluster_id", T.LongType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            vs = pdf["_v"]
            n = len(pdf)
            valid = np.zeros(n, dtype=bool)
            mat = np.zeros((n, dim), dtype=np.float64)
            for i, v in enumerate(vs):
                if v is None or len(v) != dim:
                    continue
                try:
                    row = np.asarray(v, dtype=np.float64)
                except (TypeError, ValueError):
                    continue  # NULL element inside the array
                if np.isnan(row).any():
                    # NaN distances are NULL-equivalent in the fold
                    continue
                mat[i] = row
                valid[i] = True
            out_cid = np.full(n, fallback_cid, dtype=np.int64)
            if valid.any():
                X = mat[valid]
                D = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cnorm2[None, :]
                D = round_half_up_np(np.maximum(D, 0.0), 6)
                out_cid[valid] = np.asarray(cids, dtype=np.int64)[D.argmin(axis=1)]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "_v": vs,
                    "cluster_id": out_cid,
                }
            )

    pts = points.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    from cherry_pipelines_spark.operators.text import fan_out

    return fan_out(pts).mapInPandas(gen, out_schema)


def _recenter(assigned: DataFrame, dim: int | None = None) -> DataFrame:
    """New centroids from an assignment; decimal-exact mean per
    dimension, rounded HALF_UP at 6 dp.  A cluster that lost every
    point keeps no row (k shrinks, as in textbook Lloyd).

    Two physically different plans, identical results:

    * ``dim=None`` — dynamic width: posexplode → (cluster, dim)
      partial-agg shuffle → reassemble.  Handles ragged vectors; costs
      a dim-times-wider shuffle plus a second (cluster) shuffle.
    * ``dim=d`` — STATIC width (the IVF-PQ coarse path, where the
      ``dim % m == 0`` contract already pins vector width): one
      groupBy with 2·d agg columns (per-dim decimal sum + non-null
      count), partials map-side — per Lloyd iteration the n·d-row
      exploded shuffle and the reassembly shuffle both disappear
      (guide §2.3/§2.4).  Per-dim sums are exact decimal additions
      (order-independent) and counts are per-dim non-null counts, so
      the verdict matches the exploded form bit-for-bit on
      fixed-width input."""
    if dim is not None:
        v = F.col("_v")
        aggs = []
        for i in range(dim):
            aggs.append(F.sum(v[i].cast("decimal(18,9)")).alias(f"_s{i}"))
            aggs.append(F.count(v[i]).alias(f"_n{i}"))
        centroid = F.array(
            *[
                F.round(F.col(f"_s{i}").cast("double") / F.col(f"_n{i}"), 6)
                for i in range(dim)
            ]
        )
        return (
            assigned.groupBy("cluster_id")
            .agg(*aggs)
            .select("cluster_id", centroid.alias("centroid"))
        )
    per_dim = (
        assigned.select(
            "cluster_id", F.posexplode("_v").alias("dim", "val")
        )
        .groupBy("cluster_id", "dim")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                / F.count("val"),
                6,
            ).alias("cv")
        )
    )
    return per_dim.groupBy("cluster_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
        ).alias("centroid")
    )


def _lloyd(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    iters: int,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared Lloyd loop: returns (final assignment, final centroids).
    ``dim`` (when the caller pins vector width) selects
    :func:`_recenter`'s static single-shuffle plan."""
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    init = (
        df.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).cast("array<double>").alias("centroid"), F.col(id_col))
    )
    # constant partition key: `init` is k rows — one window partition is
    # the intent; the explicit key silences WindowExec's warning
    cents = init.select(
        (F.row_number().over(Window.partitionBy(F.lit(0)).orderBy(id_col)) - 1)
        .cast("long")
        .alias("cluster_id"),
        "centroid",
    )
    assigned = None
    for i in range(iters):
        assigned = assign_clusters(df, cents, vec_col, id_col, k_hint=k)
        cents = _recenter(assigned, dim)
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            # centroid frame is k rows — checkpoint resets lineage cheaply
            cents = cents.localCheckpoint(eager=True)
    return assigned, cents


def kmeans_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Per-point assignment after ``iters`` Lloyd iterations:
    ``(id, _v double-array, cluster_id)``.

    ``dim``: callers whose vectors are provably fixed-width pass it to
    select :func:`_recenter`'s static single-shuffle plan — per Lloyd
    iteration the posexploded (cluster, dim) shuffle and its
    reassembly shuffle both disappear (guide §2.3/§2.4); results are
    bit-identical on fixed-width input (see ``_recenter``).  Default
    ``None`` keeps the ragged-safe dynamic plan."""
    assigned, _ = _lloyd(df, vec_col, id_col, k, iters, dim=dim)
    return assigned


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Run ``iters`` Lloyd iterations; returns per-cluster rows
    ``(cluster_id, dim, centroid, n)`` — the final centroid coordinates
    (one row per dimension) plus the cluster's point count.

    ``dim``: fixed-width callers opt into the static single-shuffle
    recenter — same contract as :func:`kmeans_assign`."""
    assigned, cents = _lloyd(df, vec_col, id_col, k, iters, dim=dim)
    n = assigned.groupBy("cluster_id").agg(F.count("*").cast("long").alias("n"))
    return (
        cents.join(n, "cluster_id")
        .select(
            "cluster_id",
            F.posexplode("centroid").alias("dim", "centroid"),
            "n",
        )
        .select(
            "cluster_id", F.col("dim").cast("long").alias("dim"), "centroid", "n"
        )
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.5,
    scale: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pruning: k-means the
    embeddings, then inside each cluster drop every point whose cosine
    to a LOWER-id cluster-mate reaches ``threshold`` (one deterministic
    pass — the keep verdict does not depend on whether the lower-id
    mate itself survives).

    The cluster assignment is what makes the quadratic verify tractable
    at 100 TB: members shuffle once on ``cluster_id`` and each cluster
    is screened by a block-matmul kernel (blocks of rows × the member
    matrix — memory stays block×n, compute is BLAS), so cost is
    Σ|cluster|² not |corpus|², and no pair-expanded rows ever cross the
    Arrow boundary — ``k`` is the knob that bounds the largest cluster.
    Cosines are rounded to ``scale`` (exact HALF_UP replication of
    Spark's ``round``) so an independent engine reproduces the verdicts.

    Output: (id, cluster_id, kept).
    """
    import numpy as np
    import pandas as pd

    from cherry_pipelines_spark.operators.similarity import round_half_up_np

    assigned = kmeans_assign(df, vec_col, id_col, k, iters, dim=dim)
    # the assignment feeds BOTH the pair screen and the final keep join;
    # without a checkpoint the whole iterative Lloyd subtree would be
    # recomputed twice (Spark does not CSE across self-joins) — one
    # lazy materialization beats two corpus scans
    sides = assigned.select(F.col(id_col), "cluster_id", "_v").localCheckpoint(
        eager=False
    )
    id_type = sides.schema[id_col].dataType.simpleString()

    # The within-cluster pair screen in block-matmul form: one
    # applyInPandas group per cluster; each group streams BLOCKS of its
    # rows against the full member matrix (memory stays block×n, never
    # n²) and emits only the dropped higher-id members.  Same verdicts
    # as the pair self-join it replaces: cosine rounded HALF_UP at
    # ``scale`` compared >= threshold; a zero-norm side makes Spark's
    # Divide return NULL (non-ANSI zero divisor), so the comparison is
    # NULL and the pair never drops — reproduced by masking zero-denom
    # cells out of the hit set.  Float64 GEMM differs from the JVM fold
    # only in summation order — both sides of the driver oracle already
    # differ that way, which is exactly what ``scale`` rounding absorbs.
    BLOCK = 1024

    def screen(pdf: pd.DataFrame) -> pd.DataFrame:
        # ragged faithfulness: the old zip_with fold gave NULL (no
        # drop) for a pair of different-length or NULL vectors — so
        # screen each same-length subgroup separately (cross-length
        # pairs can never drop) and skip NULL vectors entirely
        pdf = pdf[pdf["_v"].notna()]
        lens = pdf["_v"].map(len)
        if lens.nunique() > 1:
            return pd.concat(
                [screen(g) for _, g in pdf.groupby(lens)], ignore_index=True
            )
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({id_col: pdf[id_col][:0]})
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        norms = np.sqrt((V * V).sum(axis=1))
        dropped: set = set()
        for lo in range(0, n, BLOCK):
            hi = min(lo + BLOCK, n)
            G = V[lo:hi] @ V.T
            denom = np.outer(norms[lo:hi], norms)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom > 0, G / denom, np.nan)
            R = round_half_up_np(C, scale)
            with np.errstate(invalid="ignore"):
                hit = R >= threshold  # NaN (NULL-divisor) compares False
            hit &= ids[lo:hi, None] < ids[None, :]
            dropped.update(ids[np.nonzero(hit)[1]].tolist())
        return pd.DataFrame({id_col: sorted(dropped)})

    dropped = sides.groupBy("cluster_id").applyInPandas(
        screen, f"{id_col} {id_type}"
    )
    return (
        sides.select(id_col, "cluster_id")
        .join(dropped.withColumn("_drop", F.lit(True)), [id_col], "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def kcenter_select(
    df: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal) —
    the diverse-subset picker for eval-set construction and coverage
    sampling: pick the lowest-id point, then repeatedly the point
    farthest from everything picked so far.  The classic
    2-approximation of the k-center objective.  Returns
    ``(rank, id, gap)``: ``rank`` is selection order (0-based), ``gap``
    is the pick's squared-L2 distance to the previously-selected set —
    the coverage radius it reduces (0.0 for the seed; gaps are
    non-increasing, the stopping signal a caller watches).

    Deterministic and engine-replayable: distances are the shared
    6-dp-rounded ``_sqdist`` fold, argmax ties break on id ascending,
    the seed is the min id among rows with a usable vector (non-NULL,
    no NULL elements — a NULL/ragged vector can never anchor the
    distance column; such rows keep NULL distances downstream and are
    never selected, NULL never wins ``max_by``).  Selected ids leave
    the candidate frame, so ``k`` larger than the distinct usable
    point count stops early instead of re-selecting with gap 0.

    NOTE the early stop is a row-count contract: the result has
    ``min(k, usable_points)`` rows, NOT always k — callers that index
    by rank must check the count (a ``UserWarning`` is emitted when
    fewer than k rows are returned).

    Scale shape: k − 1 rounds, each ONE corpus scan — the running
    min-distance column updates map-side against the new center (a
    driver-held literal, the same bounded 1-row-per-round collect
    posture as BPE's per-merge argmax), and the argmax is a 1-row
    ``max_by`` aggregate.  No pair join ever materializes (the naive
    form shuffles O(n·k) pairs; this is O(n) map work per round).  The
    running frame is localCheckpoint-ed per round so round j never
    replays rounds 0..j−1."""
    if k < 1:
        raise ValueError("k must be >= 1")
    spark = df.sparkSession
    pts = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    seed_rows = (
        pts.filter(
            F.col("_v").isNotNull()
            & ~F.exists(F.col("_v"), lambda x: x.isNull())
        )
        .orderBy("_id")
        .limit(1)
        .collect()
    )
    if not seed_rows:
        raise ValueError(
            "kcenter_select: no row has a usable vector (every candidate "
            "is NULL or contains NULL elements)"
        )
    seed = seed_rows[0]
    sel = [(0, seed["_id"], 0.0)]
    run = (
        pts.filter(F.col("_id") != F.lit(seed["_id"]))
        .select(
            "_id",
            "_v",
            _sqdist(
                F.col("_v"), F.array(*[F.lit(float(x)) for x in seed["_v"]])
            ).alias("_d"),
        )
        .localCheckpoint(eager=False)
    )
    for rank in range(1, k):
        far = (
            run.agg(
                F.max_by(
                    F.struct("_id", "_v", "_d"),
                    F.struct(F.col("_d"), -F.col("_id")),
                ).alias("_m")
            )
            .select(
                F.col("_m._id").alias("i"),
                F.col("_m._v").alias("v"),
                F.col("_m._d").alias("d"),
            )
            .collect()[0]
        )
        if far["i"] is None or far["d"] is None:
            # candidates exhausted (k > usable point count) or only
            # NULL-distance rows remain — stop instead of re-selecting
            import warnings

            warnings.warn(
                f"kcenter_select: stopped at {len(sel)} of k={k} rows "
                "(candidates exhausted)",
                UserWarning,
                stacklevel=2,
            )
            break
        sel.append((rank, far["i"], float(far["d"])))
        nv = F.array(*[F.lit(float(x)) for x in far["v"]])
        run = (
            run.filter(F.col("_id") != F.lit(far["i"]))
            .select(
                "_id", "_v", F.least(F.col("_d"), _sqdist(F.col("_v"), nv)).alias("_d")
            )
            .localCheckpoint(eager=False)
        )
    return spark.createDataFrame(sel, f"rank long, {id_col} long, gap double")
