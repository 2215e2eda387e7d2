"""Similarity search over an embedding column (``array<float>``).

* ``cosine_topk`` — brute-force cosine top-k: broadcast the (small)
  query set against the corpus, dot products via ``F.zip_with`` +
  ``F.aggregate`` (JVM-side, no Python), per-query top-k via a window.
  This is the exactness baseline; cost is |Q|·|corpus|, parallel over
  corpus partitions — fine whenever |Q| is bounded.
* ``ivf_topk`` — IVF-style scale path: corpus and queries are assigned
  to coarse buckets (quantized leading components as the cell id);
  search only within the query's bucket.  Turns the cross product into
  an equi-join on the cell id — at 100 TB this is the standard
  recall/latency trade, and cells can be salted if skewed.
* ``cosine_near_dup_pairs`` — embedding near-dup: pairs within the same
  bucket whose cosine ≥ threshold (the embedding-space analogue of
  minhash-LSH dedup).

All cosine math is done in double; outputs are rounded to a fixed scale
(decimal) for oracle-exact comparison.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@pandas_udf(T.DoubleType())
def _dot_fold(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized dot product, bit-identical to :func:`_dot`.

    The O(|pairs|·dim) dot product is the hot loop of every similarity
    operator, and Spark evaluates higher-order-function lambdas
    interpreted, per element — outside whole-stage codegen.  This UDF
    replaces that with one Arrow batch transfer + ``dim`` vectorized
    ops, accumulating left-to-right (``acc = acc + a[i]*b[i]`` in
    float64, same IEEE op order as the ``F.aggregate`` fold) so results
    — and the DuckDB-oracle hashes — are bit-equal to the JVM form.
    """

    def fold_ragged(x, y):
        if x is None or y is None or len(x) != len(y):
            # zip_with pads the shorter side with NULL → NULL product →
            # NULL fold result
            return None
        acc = 0.0
        for xi, yi in zip(x, y):
            if xi is None or yi is None:
                # JVM fold: acc + NULL = NULL and stays NULL
                return None
            acc = acc + float(xi) * float(yi)
        return acc

    try:
        av = np.stack(a.to_numpy()).astype(np.float64)
        bv = np.stack(b.to_numpy()).astype(np.float64)
    except ValueError:  # ragged / null rows — per-row sequential fold
        return pd.Series([fold_ragged(x, y) for x, y in zip(a, b)], dtype="float64")
    acc = np.zeros(av.shape[0], dtype=np.float64)
    for i in range(av.shape[1]):
        acc = acc + av[:, i] * bv[:, i]
    return pd.Series(acc)


def round_half_up_np(x: "np.ndarray", scale: int) -> "np.ndarray":
    """Spark's ``round(double, scale)`` replicated over a numpy array:
    BigDecimal of the SHORTEST decimal repr, HALF_UP.  Vectorized
    ``floor(|x|*10^s + 0.5)`` fast path with a ``Decimal(repr(x))``
    fallback for the few values inside the float-error band around a
    rounding boundary.  The band is ``max(1e-6, 4*ulp(|x|*10^s))`` per
    element: the fast path's scaling error is ~1 ulp of the SCALED
    value, so a fixed 1e-6 band is only valid up to |x|*10^s ~ 1e6 —
    scaling by ``np.spacing`` keeps the guard correct for arbitrary
    magnitudes (round-6 advice).  The band is CAPPED below 0.5: once
    ``ulp(|x|*10^s) >= 1`` (|x|*10^s >= 2^52) the scaled float is an
    integer, the fractional part is exactly 0, and the fast path is
    exact by construction — an uncapped band would instead sweep every
    large element into the fallback.  The fallback itself quantizes
    under a 60-digit local context: the default 28-digit context raises
    ``InvalidOperation`` when coefficient digits exceed it (e.g.
    ``x=1e22, scale=6`` needs 29).  Once ``ulp(|x|*10^s) >= 1``
    (|x|*10^s >= 2^52) the scaled float is already an integer, and
    ``floor(ax + 0.5)`` must NOT be applied: ``ax + 0.5`` is not
    representable there, and IEEE ties-to-even bumps every ODD scaled
    integer in [2^52, 2^53) up by one (e.g. x=5718610970.946973,
    scale=6) — the scaled value itself is used verbatim instead.
    inf/NaN pass through unchanged."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    pow10 = float(10**scale)
    quant = Decimal(1).scaleb(-scale)
    ax = np.abs(x) * pow10
    with np.errstate(invalid="ignore"):
        fl = np.floor(ax)
        # ulp >= 1 ⇒ ax is integral: use it directly; floor(ax+0.5)
        # would round ties-to-even and corrupt odd integers in
        # [2^52, 2^53) (round-7 advice).
        scaled = np.where(np.spacing(ax) >= 1.0, ax, np.floor(ax + 0.5))
        fast = np.sign(x) * scaled / pow10
        frac = ax - fl
        band = np.maximum(1e-6, np.minimum(np.spacing(ax) * 4.0, 0.4999))
        risky = np.abs(frac - 0.5) < band
    fast = np.where(np.isfinite(x), fast, x)
    if risky.any():
        xf = np.asarray(x, dtype=np.float64)
        with localcontext() as ctx:
            ctx.prec = 60
            for i in np.nonzero(risky.ravel())[0]:
                v = float(xf.flat[i])
                fast.flat[i] = float(
                    Decimal(repr(v)).quantize(quant, ROUND_HALF_UP)
                )
    return fast


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cos_pre(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with the norms precomputed per *row* instead of per pair —
    identical arithmetic (same double ops, same order) so results are
    bit-equal to :func:`cosine`, but the O(|pairs|) stage only does the
    dot product (Arrow-vectorized; norms stay JVM-side — they are
    O(|rows|), not O(|pairs|))."""
    return _dot_fold(a, b) / (norm_a * norm_b)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self): broadcast-join
    queries × corpus, windowed top-k ordered by (cos desc, neighbor id).

    The corpus side carries the pair expansion, so its partitioning IS
    the parallelism: a one-file corpus scan is spread first (no-op on
    already-parallel inputs; 0.57 → 0.49 s at sf0.1 on local[32])."""
    from cherry_pipelines_spark.operators.text import fan_out

    corpus = fan_out(corpus)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cnorm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                _cos_pre(F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm")),
                scale,
            ).cast(f"decimal(18,{scale})"),
        )
        .drop("qvec", "cvec", "qnorm", "cnorm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("long").alias("rank"))
    )


def _cell_components(vec: Column, n_components: int = 2, grid: float = 0.5) -> list[Column]:
    """Integer lattice coordinates of the coarse IVF cell (one long per
    quantized leading component)."""
    return [
        F.floor(F.element_at(vec, i + 1).cast("double") / F.lit(grid)).cast("long")
        for i in range(n_components)
    ]


def bucket_id(vec: Column, n_components: int = 2, grid: float = 0.5) -> Column:
    """Coarse IVF cell id: quantize the first ``n_components`` values on a
    ``grid``-sized lattice.  Engine-portable (floor + concat)."""
    parts = _cell_components(vec, n_components, grid)
    return F.concat_ws("_", *[p.cast("string") for p in parts])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_components: int = 2,
    grid: float = 0.5,
    scale: int = 6,
    probe_radius: int = 0,
) -> DataFrame:
    """Approximate top-k: equi-join on the coarse cell coordinates, then
    exact cosine within the probed cells.  ``probe_radius=0`` searches
    only the query's own cell; radius ``r`` probes the (2r+1)^n
    neighborhood — the standard IVF recall/latency dial: a neighbor just
    across a lattice edge is found at r=1 without shrinking the grid.
    Query rows fan out to the probe count (queries are the small side,
    broadcast), the corpus is never replicated."""
    import itertools

    comp_names = [f"_c{i}" for i in range(n_components)]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnorm"),
        *[
            c.alias(n)
            for c, n in zip(_cell_components(F.col(vec_col), n_components, grid), comp_names)
        ],
    )
    if probe_radius > 0:
        offsets = F.array(
            *[
                F.struct(*[F.lit(d).alias(f"d{i}") for i, d in enumerate(combo)])
                for combo in itertools.product(
                    range(-probe_radius, probe_radius + 1), repeat=n_components
                )
            ]
        )
        q = q.withColumn("_off", F.explode(offsets)).select(
            "query_id", "qvec", "qnorm",
            *[(F.col(n) + F.col(f"_off.d{i}")).alias(n) for i, n in enumerate(comp_names)],
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cnorm"),
        bucket_id(F.col(vec_col), n_components, grid).alias("cell"),
        *[
            cc.alias(n)
            for cc, n in zip(_cell_components(F.col(vec_col), n_components, grid), comp_names)
        ],
    )
    scored = (
        c.join(F.broadcast(q), comp_names)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .drop(*comp_names)
        .withColumn(
            "cos",
            F.round(
                _cos_pre(F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm")),
                scale,
            ).cast(f"decimal(18,{scale})"),
        )
        .drop("qvec", "cvec", "qnorm", "cnorm")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cell", "cos",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = "label",
    scale: int = 6,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold.  ``group_col`` (or the
    IVF cell if None) bounds the candidate set to an equi-join."""
    key = F.col(group_col) if group_col else bucket_id(F.col(vec_col))
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
        key.alias("g"),
    )
    # shuffle-hash self-join on the bucket key: identical l/r subplans
    # share one exchange, and the corpus is never broadcast (it is the
    # big side at scale).  The per-partition hash build grows with the
    # corpus under fixed-width partition planning (same boundary as
    # dedup._intersection_counts — see its docstring); the session
    # factory's wide AQE posture keeps the build near the 64 MB
    # advisory target on cluster deployments.
    l = base.hint("shuffle_hash").alias("l")
    r = base.hint("shuffle_hash").alias("r")
    return (
        l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.id") < F.col("r.id")))
        .withColumn(
            "cos",
            F.round(
                _cos_pre(F.col("l.v"), F.col("r.v"), F.col("l.nrm"), F.col("r.nrm")),
                scale,
            ).cast(f"decimal(18,{scale})"),
        )
        .filter(F.col("cos") >= F.lit(threshold))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.g").alias("group_key"),
            "cos",
        )
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth
    scale path for ANN: 4× smaller than float32 and integer dot
    products downstream.  ``scale = max(|v_i|)/127`` (rounded to 9 dp
    so re-quantization is engine-reproducible), ``q_i =
    round(v_i/scale)`` ∈ [-127, 127]; an all-zero vector quantizes to
    zeros with scale NULL.  Map-only, pure JVM expressions."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = F.when(amax > 0, F.round(amax / 127.0, 9))
    q = F.when(
        scale.isNotNull(),
        F.transform(v, lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col),
        q.alias("qvec"),
        scale.alias("qscale"),
    )


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Top-k neighbors over int8-QUANTIZED vectors — the exact
    brute-force baseline in its block-matmul form: the query matrix
    (driver-held, same memory class as the broadcast it replaces) rides
    into ONE ``mapInPandas`` pass over the corpus; each Arrow batch
    does an integer GEMM ``B @ Qᵀ`` and emits only its per-query top-k
    CANDIDATE rows (scalars, never pair-expanded vectors), so the
    shuffle into the final ranking window is |batches|·|Q|·k rows
    instead of |corpus|·|Q|.  Integer dots make the kernel bit-exact by
    construction: every int8 product and partial sum is ≪ 2^53, so
    float64 GEMM accumulation is exact and order-free — no fold-order
    caveat needed.  The approximate cosine ``dot_q / (‖qa‖·‖qb‖)`` is
    rounded with Spark's exact HALF_UP-on-shortest-repr semantics (fast
    vectorized path, ``Decimal`` fallback inside the boundary band).
    Self-pairs excluded; zero-norm sides give NULL qcos, ranked last.

    Per-batch top-k is sound because the global top-k under a total
    order is a merge of per-block top-k; the kernel uses the SAME
    (qcos DESC NULLS LAST, neighbor_id ASC) comparator as the final
    window, over ROUNDED values (rounding re-ties pairs, so candidate
    selection on unrounded scores would be wrong on near-duplicate
    corpora).

    Size contract: the QUERY side is driver-held (it rides into the
    corpus pass as a closure matrix), so it must be small — at most
    ``max_query_rows`` rows, enforced with a bounded ``limit(n+1)``
    collect so an oversized query frame fails with a clear error
    instead of a driver OOM (round-6 advice).  The corpus side is
    unbounded — it is never collected."""
    qrows = (
        quantize_embeddings(queries, vec_col, id_col)
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"quantized_cosine_topk: query side exceeds max_query_rows="
            f"{max_query_rows}; the query matrix is driver-held — pass a "
            "smaller query frame or raise max_query_rows explicitly"
        )
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"query_id {id_type}, neighbor_id {id_type}, dot_q long, qcos double"
    )
    # a NULL / off-dimension query vector cannot join the matrix; the
    # old pair join scored its pairs NULL (fold propagates NULL) —
    # carry those query ids separately and emit NULL-scored candidates
    from collections import Counter

    lens = Counter(len(r["qvec"]) for r in qrows if r["qvec"] is not None)
    q_dim = lens.most_common(1)[0][0] if lens else 0
    good_q = [
        r for r in qrows if r["qvec"] is not None and len(r["qvec"]) == q_dim
    ]
    null_q_ids = [
        r[id_col]
        for r in qrows
        if r["qvec"] is None or len(r["qvec"]) != q_dim
    ]
    q_ids = [r[id_col] for r in good_q]
    Q = np.array([r["qvec"] for r in good_q], dtype=np.int64)
    q_norms = (Q * Q).sum(axis=1) if len(good_q) else np.zeros(0, dtype=np.int64)

    def _round_half_up(x: np.ndarray) -> np.ndarray:
        return round_half_up_np(x, scale)

    dim = Q.shape[1] if len(good_q) else q_dim

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0 or (not q_ids and not null_q_ids):
                continue
            # ragged faithfulness: the old pair join emitted NULL
            # dot/qcos for a NULL or wrong-length corpus vector (the
            # zip_with fold propagates NULL) — such rows still surface
            # in the top-k when fewer than k conforming neighbors
            # exist, so carry them as NULL-scored candidates
            conform = pdf["qvec"].map(
                lambda v: v is not None and len(v) == dim
            )
            good, bad = pdf[conform], pdf[~conform]
            nids = good[id_col].to_numpy()
            if len(good):
                B = np.stack(good["qvec"].to_numpy()).astype(np.int64)
                nb = (B * B).sum(axis=1)
                D = B @ Q.T  # exact: |elements| ≤ dims·127² ≪ 2^31
            parts = []
            for qi, qid in enumerate(q_ids):
                na = int(q_norms[qi])
                frames = []
                if len(good):
                    keep = nids != qid  # self-pair exclusion
                    dots = D[keep, qi]
                    nbk = nb[keep]
                    qcos = np.full(len(dots), np.nan)
                    ok = (nbk > 0) & (na > 0)
                    if ok.any():
                        raw = dots[ok].astype(np.float64) / np.sqrt(
                            float(na) * nbk[ok].astype(np.float64)
                        )
                        qcos[ok] = _round_half_up(raw)
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": qid,
                                "neighbor_id": nids[keep],
                                "dot_q": dots.astype(object),
                                "qcos": qcos,
                            }
                        )
                    )
                if len(bad):
                    bids = bad[id_col][bad[id_col] != qid]
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": qid,
                                "neighbor_id": bids.to_numpy(),
                                "dot_q": None,
                                "qcos": np.nan,
                            }
                        )
                    )
                if not frames:
                    continue
                part = pd.concat(frames, ignore_index=True).sort_values(
                    ["qcos", "neighbor_id"],
                    ascending=[False, True],
                    na_position="last",
                    kind="mergesort",
                )
                parts.append(part.head(k))
            for qid in null_q_ids:
                nid = pdf[id_col][pdf[id_col] != qid].sort_values()
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": nid.to_numpy(),
                            "dot_q": None,
                            "qcos": np.nan,
                        }
                    ).head(k)
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    from cherry_pipelines_spark.operators.text import fan_out

    # a single-file corpus arrives as ONE partition, which would
    # serialize the whole GEMM pass through one Python worker — spread
    # it first (no-op on already-parallel inputs; measured 1.15→0.85 s
    # at sf0.1 on local[32])
    cz = quantize_embeddings(fan_out(corpus), vec_col, id_col).select(
        id_col, "qvec"
    )
    scored = cz.mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "dot_q", "qcos",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ann_recall(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate-neighbor result against exact ground
    truth: per query, the fraction of the exact top-k the ANN run
    recovered — the acceptance metric to run on a sample BEFORE an
    approximate index is trusted for a full-corpus backfill.

    Both inputs carry (query_id, neighbor_id[, ...]); the join is on
    the id pair only, so score-scale differences between the two
    methods don't matter.  Plan: one semi-join + one groupBy on
    query_id (queries are the small side by construction).

    Output: (query_id, hits, recall) with recall rounded to 4 dp.
    """
    ex = exact.select("query_id", "neighbor_id")
    ap = approx.select("query_id", "neighbor_id")
    hits = (
        ex.join(ap, ["query_id", "neighbor_id"], "semi")
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    return (
        ex.select("query_id")
        .distinct()
        .join(hits, ["query_id"], "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)) / F.lit(float(k)), 4
            ).alias("recall"),
        )
    )


def _balanced_sum(terms: list) -> Column:
    """Sum Columns as a balanced binary tree (log depth).  Integer
    addition is associative, so this equals the left-fold bit-for-bit
    while generating shallow enough Java for Janino at wide fan-ins."""
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _srp_weights(planes: int, dims: int, seed: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix from sha256 parity — the same
    bits any engine derives from the same strings (DuckDB:
    ``('0x' || substr(sha256(seed||':'||p||':'||j), 1, 8))::BIGINT % 2``)."""
    import hashlib

    def w(p: int, j: int) -> int:
        h = int(
            hashlib.sha256(f"{seed}:{p}:{j}".encode()).hexdigest()[:8], 16
        )
        return 1 if h % 2 == 0 else -1

    return [[w(p, j) for j in range(dims)] for p in range(planes)]


def srp_sketch(
    df: DataFrame,
    dims: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 32,
    seed: int = 0,
) -> DataFrame:
    """Signed-random-projection sketch (SimHash for embeddings):
    ``(id, srp)`` with ``srp`` a planes/4-char hex string; bit p is the
    sign of the projection onto deterministic ±1 hyperplane p.

    Cosine-similar vectors agree on most signs, so hamming distance
    over the sketch estimates the angle — the vector-space analogue of
    the text simhash, and the hex output plugs straight into the
    generic banded hamming join (``multimodal.dhash_near_dups``).

    Exactness across engines: projections run over the int8-QUANTIZED
    codes (``quantize_embeddings``), so every projection is an integer
    sum — order-independent, no float-tie risk at the sign boundary.
    Map-only JVM expressions (the ±1 matrix is a plan-time literal,
    planes × dims ints — KBs for any practical setting).
    """
    if planes % 4:
        raise ValueError("planes must be a multiple of 4")
    W = _srp_weights(planes, dims, seed)
    # materialize the int8 codes once: every projection reads every
    # element, and without the checkpoint Catalyst collapses the
    # projections so each qvec[j] access re-evaluates the WHOLE
    # quantization transform (planes × dims × dims lambda evals per
    # row — measured at seconds per 2k vectors).  Persisting quantized
    # codes is also the documented storage posture for the quantized
    # ANN path, so this is the 100 TB shape, not a local hack.
    qz = quantize_embeddings(df, vec_col, id_col).localCheckpoint(eager=False)
    # the weights are ±1, so each projection is a flat signed SUM of the
    # vector elements — codegen arithmetic, no HOF.  (The first form
    # here was zip_with(literal-array)+aggregate; interpreted HOF
    # lambdas cost ~1.4 s per 2k vectors at planes=32 — measured.)
    # Balanced tree, not a left chain: integer addition is associative
    # so results are identical, and log-depth nesting keeps the
    # generated Java inside Janino's limits at planes x dims scale.
    elems = [F.col("qvec")[j].cast("long") for j in range(dims)]

    def proj(p: int):
        terms = [elems[j] if W[p][j] > 0 else -elems[j] for j in range(dims)]
        return _balanced_sum(terms)
    bit = lambda p: F.when(proj(p) >= 0, F.lit(1)).otherwise(F.lit(0))
    nibble = lambda n: (
        bit(4 * n) * 8 + bit(4 * n + 1) * 4 + bit(4 * n + 2) * 2 + bit(4 * n + 3)
    )
    srp = F.concat_ws(
        "", *[F.lower(F.hex(nibble(n))) for n in range(planes // 4)]
    )
    return qz.select(F.col(id_col), srp.alias("srp"))


def srp_near_dups(
    df: DataFrame,
    dims: int,
    max_dist: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 32,
    seed: int = 0,
    bands: int = 4,
) -> DataFrame:
    """Embedding near-dup pairs by SRP hamming distance:
    ``(a_id, b_id, hamming)`` for pairs within ``max_dist`` sign flips
    of ``planes`` — LSH-shaped (band equi-join + JVM popcount verify)
    and EXACT when ``max_dist < bands`` (pigeonhole), like the image
    dHash path it shares machinery with."""
    from cherry_pipelines_spark.operators.multimodal import dhash_near_dups

    return dhash_near_dups(
        srp_sketch(df, dims, vec_col, id_col, planes, seed),
        max_dist=max_dist,
        id_col=id_col,
        hash_col="srp",
        bands=bands,
        hash_chars=planes // 4,
    )


def rp_project(
    df: DataFrame,
    in_dims: int,
    out_dims: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 0,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce ``in_dims``
    embeddings to ``out_dims`` with the deterministic ±1 sha256-parity
    hyperplanes (`_srp_weights`) scaled by 1/sqrt(out_dims) — the
    standard pre-step before billion-scale clustering/ANN when the
    model width is larger than the geometry needs (distances preserved
    within (1±eps) for out_dims ~ O(log n / eps^2)).

    Engine-exact by the same trick as :func:`srp_sketch`: project the
    int8-QUANTIZED codes (integer sums — order-independent), then apply
    the per-vector scale and the 1/sqrt(out_dims) factor as ONE float
    multiply per component, rounded to 9 dp.  Map-only flat add/
    subtract chains; the ±1 matrix is a plan-time literal.

    Returns ``(id, rp)`` with ``rp`` an ``array<double>`` of
    ``out_dims`` components (NULL scale — the all-zero vector —
    projects to zeros).
    """
    import math

    W = _srp_weights(out_dims, in_dims, seed)
    # materialized for the same CollapseProject reason as srp_sketch
    qz = quantize_embeddings(df, vec_col, id_col).localCheckpoint(eager=False)
    elems = [F.col("qvec")[j].cast("long") for j in range(in_dims)]

    def proj(p: int):
        # balanced tree, same as srp_sketch: integer addition is
        # associative so this equals the left chain bit-for-bit, and the
        # log-depth nesting keeps the generated Java compilable — the
        # left-chain form tripped Janino's 64 KB method limit at
        # out_dims x in_dims scale, silently degrading the whole stage
        # to interpreted evaluation (ERROR CodeGenerator ... "Code grows
        # beyond 64 KB" on every execution)
        return _balanced_sum(
            [elems[j] if W[p][j] > 0 else -elems[j] for j in range(in_dims)]
        )

    inv = 1.0 / math.sqrt(out_dims)
    comps = [
        F.round(
            proj(p).cast("double")
            * F.coalesce(F.col("qscale"), F.lit(0.0))
            * F.lit(inv),
            9,
        )
        for p in range(out_dims)
    ]
    return qz.select(F.col(id_col), F.array(*comps).alias("rp"))


# ---------------------------------------------------------------------
# Product quantization (PQ) — memory-compressed ANN via asymmetric
# distance computation (ADC).  Beyond-reference (the reference engine
# has no vector ops); the standard technique for ANN at corpus sizes
# where raw vectors don't fit: a dim-d float corpus (4d bytes/vector)
# is stored as m uint8-sized codes (m bytes/vector, e.g. 64-dim floats
# -> 4 codes = 64x), and query-time distances are m lookup-table adds
# instead of d multiply-adds.
#
# Determinism contract (oracle-checkable, same as operators/clustering):
# per-subspace codebooks train with the shared `_lloyd` loop (init =
# first ksub rows by id, distances rounded HALF_UP at 6 dp before
# argmin with lowest-cid ties, decimal-exact recenter rounded at 6 dp);
# LUT partials are rounded at 6 dp and CAST TO DECIMAL(18,6), so the
# ADC sum is exact and order-independent across engines.


def _pq_subrows(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int,
    dim: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sub, _v) — one row per (vector, subspace), map-only: the
    combined frame that lets ALL m subspaces train/encode in one plan
    instead of m driver-sequenced loops (the loop form measured 7.4 s
    at sf0.1 for m=8 purely in per-job latency; combined ~2 s).

    ``carry`` passes extra ``df`` columns through the explode unchanged
    (e.g. the trained-index builders carry ``cell`` so the stored
    layout needs no post-encode join back to the residual frame)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sd = dim // m
    full = df.select(
        F.col(id_col), *carry, F.col(vec_col).cast("array<double>").alias("_full")
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(s).cast("long").alias("sub"),
                F.slice("_full", s * sd + 1, sd).alias("_v"),
            )
            for s in range(m)
        ]
    )
    return full.select(id_col, *carry, F.explode(subs).alias("x")).select(
        id_col, *carry, F.col("x.sub").alias("sub"), F.col("x._v").alias("_v")
    )


def _pq_assign(
    pts: DataFrame, cents: DataFrame, id_col: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Per-subspace nearest-centroid assignment over the combined
    (id, sub, _v) frame: centroids grouped per sub into one broadcast
    row each, argmin over the same 6-dp-rounded fold / lowest-cid-ties
    verdict as clustering.assign_clusters.

    Driver-local codebooks (``_local_metadata``'s stored-path form)
    skip the groupBy + broadcast entirely: the per-sub centroid arrays
    fold into the expression tree as a constant map keyed by ``sub``,
    built as ONE SQL literal string parsed JVM-side (round-14, guide
    §5 — each re-derivation of the grouped shape was an AQE Exchange
    job + a BroadcastExchange job per append/probe; a node-by-node
    Column tree costs ~8 s of py4j driver time per plan, see
    ``_sql_lit``).  Same values, same sorted order (cluster_id unique
    per sub), and ``sub`` always hits the map (``_pq_subrows``
    generates 0..m-1 from the same codebooks' m)."""
    from cherry_pipelines_spark.operators.clustering import _local_rows

    local = _local_rows(cents)
    if local:
        fields = [cents.schema["cluster_id"], cents.schema["centroid"]]
        cmap_t = T.MapType(
            cents.schema["sub"].dataType, T.ArrayType(T.StructType(fields))
        )
        by_sub: dict = {}
        for r in sorted(local, key=lambda r: (r["sub"], r["cluster_id"])):
            by_sub.setdefault(r["sub"], []).append(r)
        cmap = F.expr(_sql_lit(by_sub, cmap_t))
        joined = pts.withColumn("cents", F.element_at(cmap, F.col("sub")))
    else:
        cents_row = cents.groupBy("sub").agg(
            F.sort_array(
                F.collect_list(F.struct("cluster_id", "centroid"))
            ).alias("cents")
        )
        joined = pts.join(F.broadcast(cents_row), "sub")
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda s: F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col("_v"),
                            s["centroid"],
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    6,
                ).alias("d"),
                s["cluster_id"].alias("cluster_id"),
            ),
        )
    )
    return joined.select(
        id_col, *carry, "sub", "_v", best["cluster_id"].alias("cluster_id")
    )


def _pq_recenter(assigned: DataFrame, sd: int) -> DataFrame:
    """Decimal-exact per-(sub, cluster) mean, rounded HALF_UP at 6 dp —
    clustering._recenter extended with the sub key.

    The subspace width ``sd`` is STATIC on every PQ path (``dim // m``,
    enforced by ``_pq_subrows``), so the mean is one groupBy with 2·sd
    agg columns (per-dim decimal sum + non-null count) instead of a
    posexplode: the pre-shuffle frame stays n·m rows (not n·m·sd), the
    partial aggregation happens map-side, and the second
    (sub, cluster) shuffle that reassembled the exploded dims is gone
    entirely — per Lloyd iteration, 2 shuffles of n·m·sd rows → 1
    shuffle of m·ksub pre-aggregated rows (guide §2.3/§2.4).  Same
    verdict as the exploded form: per-dim sums are exact decimal
    additions (order-independent), counts are per-dim non-null counts,
    and an all-NULL dim yields a NULL element exactly as the exploded
    group did."""
    v = F.col("_v")
    aggs = []
    for i in range(sd):
        aggs.append(F.sum(v[i].cast("decimal(18,9)")).alias(f"_s{i}"))
        aggs.append(F.count(v[i]).alias(f"_n{i}"))
    per_cluster = assigned.groupBy("sub", "cluster_id").agg(*aggs)
    centroid = F.array(
        *[
            F.round(
                F.col(f"_s{i}").cast("double") / F.col(f"_n{i}"), 6
            ).alias(f"_c{i}")
            for i in range(sd)
        ]
    )
    return per_cluster.select("sub", "cluster_id", centroid.alias("centroid"))


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    dim: int = 64,
    ksub: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Train per-subspace PQ codebooks: ``(sub, cluster_id, centroid)``
    — m · ksub rows, the whole index metadata (broadcastable at any m).

    All m subspaces train CONCURRENTLY in one plan per Lloyd iteration
    (the combined (id, sub, _v) frame): job count is O(iters),
    independent of m.  Same deterministic contract as
    ``clustering._lloyd`` per subspace: init = the first ``ksub`` rows
    by id (identical ids for every sub), distances rounded HALF_UP at
    6 dp before the argmin with lowest-cid ties, decimal-exact recenter
    rounded at 6 dp, empty clusters drop."""
    if iters < 1 or ksub < 1:
        raise ValueError("ksub and iters must be >= 1")
    pts = _pq_subrows(df, vec_col, id_col, m, dim).localCheckpoint(eager=False)
    # init = the first ksub rows by id, identical ids for every sub —
    # taken with a global orderBy(id).limit(ksub) on the SOURCE frame
    # (TakeOrdered: per-partition top-ksub, no full sort/shuffle) and
    # exploded into subspaces only then (m·ksub rows).  The previous
    # form ranked the ENTIRE (id, sub, _v) frame with a
    # row_number window — a full n·m-row shuffle+sort to pick the same
    # m·ksub rows (guide §2.4).
    w = Window.partitionBy("sub").orderBy(id_col)
    cents = (
        _pq_subrows(df.orderBy(id_col).limit(ksub), vec_col, id_col, m, dim)
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "sub",
            (F.col("_rn") - 1).cast("long").alias("cluster_id"),
            F.col("_v").alias("centroid"),
        )
    )
    sd = dim // m
    for _ in range(iters):
        cents = _pq_recenter(_pq_assign(pts, cents, id_col), sd)
    return cents


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    dim: int = 64,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector to its per-subspace nearest-centroid codes,
    LONG layout: ``(id, sub, code)`` — m rows per vector, join-ready
    against an ADC lookup table (and trivially pivotable to an
    array<tinyint> for storage).  One fold for all m subspaces over the
    codebooks, broadcast-joined or, when driver-local, a constant map
    (:func:`_pq_assign`).

    ``carry`` columns of ``df`` ride along unchanged (output becomes
    ``(id, sub, code, *carry)``): the trained-index builders carry
    ``cell`` so the stored ``(id, sub, code, cell)`` frame is map-only
    — the previous shape re-joined the codes against the residual
    frame on id, a full extra shuffle of the n·m-row code table just
    to restore a column the encode had dropped (guide §2.4)."""
    pts = _pq_subrows(df, vec_col, id_col, m, dim, carry=carry)
    return _pq_assign(pts, codebooks, id_col, carry=carry).select(
        id_col, "sub", F.col("cluster_id").alias("code"), *carry
    )


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Exact squared-L2 top-k per query (excluding self) — the ground
    truth a PQ/ADC index is graded against (same metric family, so
    recall isolates quantization loss, not metric mismatch).  Same
    plan as :func:`cosine_topk`: broadcast queries, corpus-side pair
    expansion, per-query window."""
    from cherry_pipelines_spark.operators.text import fan_out

    corpus = fan_out(corpus)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "dist",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("qvec"), F.col("cvec"), lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                scale,
            ).cast(f"decimal(18,{scale})"),
        )
        .drop("qvec", "cvec")
    )
    w = Window.partitionBy("query_id").orderBy("dist", F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def pq_topk(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_filter: Column | None = None,
    m: int = 2,
    dim: int = 64,
    ksub: int = 4,
    iters: int = 2,
    exclude_self: bool = False,
) -> DataFrame:
    """PQ/ADC top-k: train codebooks, encode the corpus, and answer the
    query set (corpus rows matching ``query_filter``, default
    ``vec_id % 100 == 0``) with asymmetric distances:
    ``(query_id, vec_id, adc_dist, rank)``.

    Plan shape: codebooks (m·ksub rows) and the LUT (|Q|·m·ksub rows of
    DECIMAL partials) broadcast; the corpus side is the CODES frame —
    m longs per vector, never the raw vectors — flowing through one
    broadcast join, one (id, query) hash agg, and one per-query top-k
    window.  The ADC scan is linear in the corpus (the same contract as
    `cosine_topk`/`quantized_cosine_topk`, which it beats on memory by
    ~4·dim/m); compose with `ivf_topk`'s cell pruning for sub-linear.
    Distances are EXACT sums of 6-dp-rounded per-subspace partials
    (decimal addition — order-independent, engine-portable); rank ties
    break on vec_id ascending."""
    from cherry_pipelines_spark.operators.text import fan_out

    if query_filter is None:
        query_filter = F.col(id_col) % 100 == 0
    # the PQ train/encode chain is CPU-bound interpreted-HOF work
    # (ksub·sd lambda evaluations per subrow): a one-file corpus must
    # spread BEFORE it, or the whole chain runs in the single scan
    # task (guide §2.5/§4 — measured ~2× on the family fixture)
    df = fan_out(df)
    codebooks = pq_train(df, vec_col, id_col, m, dim, ksub, iters).localCheckpoint(
        eager=False
    )
    codes = pq_encode(df, codebooks, vec_col, id_col, m, dim)
    qsubs = _pq_subrows(df.filter(query_filter), vec_col, id_col, m, dim).select(
        F.col(id_col).alias("query_id"), "sub", F.col("_v").alias("_q")
    )
    lut = qsubs.join(codebooks, "sub").select(
        "query_id",
        "sub",
        F.col("cluster_id").alias("code"),
        _pq_partial(F.col("_q"), F.col("centroid")).alias("partial"),
    )
    dists = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("partial").cast("double").alias("adc_dist"))
    )
    if exclude_self:
        # recall-grading posture: rank only true neighbors, matching
        # l2_topk's self-exclusion
        dists = dists.filter(F.col("query_id") != F.col(id_col))
    return _adc_topk(dists, k, id_col)


def _adc_topk(dists: DataFrame, k: int, id_col: str) -> DataFrame:
    """The shared ADC ranking tail: per-query top-k ordered by
    (adc_dist asc, id asc).  One definition for the inline, trained,
    and both stored legs — the bit-identical contracts between those
    legs depend on this tail never diverging."""
    w = Window.partitionBy("query_id").orderBy("adc_dist", F.col(id_col).asc())
    return (
        dists.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "adc_dist", "rank")
    )


def _pq_partial(q: Column, cent: Column) -> Column:
    """6-dp-rounded squared distance as DECIMAL(18,6) — the exactly
    summable LUT entry (same fold as clustering._sqdist)."""
    return F.round(
        F.aggregate(
            F.zip_with(q, cent, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    ).cast("decimal(18,6)")


def _sql_lit(v, dt) -> str:
    """SQL literal text reproducing value ``v`` of Spark type ``dt``
    EXACTLY (longs verbatim, doubles via ``repr`` — shortest
    round-trip decimal ⇒ the identical float64; NaN and ±Inf as casts
    of their string names) — shared by :func:`_local_metadata`'s
    VALUES form and the expression-literal metadata paths (one
    ``F.expr`` parse JVM-side instead of thousands of py4j Column
    calls: building the same tree node-by-node measured ~8 s of driver
    time PER PLAN).  Arrays are Python sequences, maps Python dicts
    (written in iteration order), structs anything indexable by field
    name.  A type outside those raises TypeError."""
    import math

    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(dt, T.DoubleType):
        if math.isnan(v):
            return "CAST('nan' AS DOUBLE)"
        if math.isinf(v):
            return "CAST('inf' AS DOUBLE)" if v > 0 else "CAST('-inf' AS DOUBLE)"
        return repr(float(v)) + "D"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return f"CAST({int(v)} AS {dt.simpleString()})"
    if isinstance(dt, T.ArrayType):
        if len(v) == 0:
            # a bare array() parses as array<void>: cast it to its type
            return f"CAST(array() AS {dt.simpleString()})"
        return "array(" + ",".join(_sql_lit(x, dt.elementType) for x in v) + ")"
    if isinstance(dt, T.MapType):
        if len(v) == 0:
            return f"CAST(map() AS {dt.simpleString()})"
        return (
            "map("
            + ",".join(
                f"{_sql_lit(k, dt.keyType)}, {_sql_lit(x, dt.valueType)}"
                for k, x in v.items()
            )
            + ")"
        )
    if isinstance(dt, T.StructType):
        return (
            "named_struct("
            + ",".join(
                f"'{f.name}', {_sql_lit(v[f.name], f.dataType)}"
                for f in dt.fields
            )
            + ")"
        )
    raise TypeError(f"no literal form for {dt}")


def _local_metadata(df: DataFrame) -> DataFrame:
    """Collect a METADATA-scale frame (index cells / codebooks —
    n_cells + m·ksub rows, a few KB) and rebuild it as a driver-local
    ``VALUES`` LocalRelation with identical schema and values.

    Why: the stored-index lifecycle queries are driver-job-latency
    bound (round-13 driver profile: build 17 / append 6×4 / compact 32
    / probe 8 jobs at ~0.15 s scheduling latency each), and a large
    share of those jobs are BROADCAST BUILDS that re-execute the
    checkpointed Lloyd/PQ lineage — every append re-broadcasts cents
    (assign), cent_cols (residual) and codebooks (encode), and the
    probe re-broadcasts cents + codebooks again.  Collapsing the
    final metadata to a ``VALUES`` LocalRelation makes every later
    broadcast build driver-local (zero tasks, usually zero jobs) and
    lets ``assign_clusters``' GEMM collect skip the cluster too
    (guide §5: the driver should hold driver-scale data — an index's
    metadata is exactly that).  At 100 TB the frames stay n_cells +
    m·ksub rows — corpus-size-independent by construction.

    Values round-trip exactly (see :func:`_sql_lit`).  An empty frame
    becomes one row of typed NULLs under ``WHERE false``, which
    Catalyst folds to an empty LocalRelation of the same schema."""
    rows = df.collect()
    schema = df.schema
    cols = ", ".join(f"col{i + 1} AS {f.name}" for i, f in enumerate(schema.fields))
    vals = ", ".join(
        "("
        + ", ".join(_sql_lit(r[f.name], f.dataType) for f in schema.fields)
        + ")"
        for r in rows or [dict.fromkeys(schema.names)]
    )
    where = "" if rows else " WHERE false"
    out = df.sparkSession.sql(f"SELECT {cols} FROM VALUES {vals}{where}")
    # names + types must reproduce exactly (nullability may tighten:
    # literals without NULLs plan non-nullable — same values)
    if [(f.name, f.dataType.simpleString()) for f in out.schema.fields] != [
        (f.name, f.dataType.simpleString()) for f in schema.fields
    ]:
        raise TypeError(f"literal schema drift: {out.schema} != {schema}")
    return out


def build_stored_ivfpq_index(
    df: DataFrame,
    path: str,
    m: int = 8,
    dim: int = 64,
    ksub: int = 16,
    iters: int = 2,
    n_components: int = 2,
    grid: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train PQ codebooks and PERSIST the IVF-PQ index cell-PARTITIONED
    at ``path`` — the encode-once layout `ivf_pq_topk`'s docstring
    promises a deployment writes: rows are ``(id, sub, code)`` under
    partition directories ``c0=…/c1=…`` (the lattice cell coordinates),
    so a query probe is DIRECTORY pruning, not a data-page filter.
    Returns the codebooks frame (m·ksub rows — the whole index
    metadata) for :func:`query_stored_ivfpq_index`."""
    from cherry_pipelines_spark.operators.text import fan_out

    df = fan_out(df)  # CPU-bound HOF chain: same spread as pq_topk
    comp_names = [f"c{i}" for i in range(n_components)]
    # localized like the trained builder: the stored-leg probe and the
    # lattice append re-broadcast this m·ksub-row frame per call
    codebooks = _local_metadata(
        pq_train(df, vec_col, id_col, m, dim, ksub, iters)
    )
    # cell coordinates stamped BEFORE the encode and carried through it
    # (pq_encode carry) — the old post-encode id-join against a second
    # scan of `df` shuffled the whole n·m code table (guide §2.4); the
    # repartition sizes the output layout at one file per cell dir
    # (guide §6)
    dfc = df.select(
        F.col(id_col),
        F.col(vec_col),
        *[
            c.alias(n)
            for c, n in zip(
                _cell_components(F.col(vec_col), n_components, grid), comp_names
            )
        ],
    )
    (
        pq_encode(dfc, codebooks, vec_col, id_col, m, dim, carry=tuple(comp_names))
        .repartition(*comp_names)
        .write.partitionBy(*comp_names)
        .parquet(path)
    )
    return codebooks


def append_stored_ivfpq_index(
    df: DataFrame,
    path: str,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
    n_components: int = 2,
    grid: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Lattice-leg twin of :func:`append_stored_ivfpq_trained_index`:
    append a new batch to a :func:`build_stored_ivfpq_index` layout
    with the FROZEN codebooks.  Even simpler than the trained leg —
    lattice cells are stateless floor arithmetic (no centroids to
    freeze), so the append is pure map work: encode (broadcast
    codebooks), cell-stamp, ``mode("append")`` under the existing
    ``c0=…/c1=…`` dirs.  Same equivalence contract: base+appended is
    bit-identical to a from-scratch frozen-codebook encode of the
    union (per-row encoding, batch boundaries can't change codes)."""
    comp_names = [f"c{i}" for i in range(n_components)]
    # same carry-through-encode shape as the trained append: no
    # id-join, zero exchanges — the append IS the "pure map work" the
    # docstring promises; small-file debris belongs to compaction
    dfc = df.select(
        F.col(id_col),
        F.col(vec_col),
        *[
            c.alias(n)
            for c, n in zip(
                _cell_components(F.col(vec_col), n_components, grid), comp_names
            )
        ],
    )
    (
        pq_encode(dfc, codebooks, vec_col, id_col, m, dim, carry=tuple(comp_names))
        .write.partitionBy(*comp_names)
        .mode("append")
        .parquet(path)
    )


def query_stored_ivfpq_index(
    spark,
    path: str,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 8,
    dim: int = 64,
    n_components: int = 2,
    grid: float = 0.5,
    probe_radius: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Answer a query set from a :func:`build_stored_ivfpq_index`
    layout: the probe's cell coordinates join the scan's PARTITION
    columns against a broadcast LUT, so Spark inserts a dynamic-
    partition-pruning filter and the scan reads only the probed cells'
    directories (``numFiles < staticFilesNum`` in the scan metrics —
    gated in tests/test_plan_shapes.py).  Results are bit-identical to
    the inline :func:`ivf_pq_topk` AT MATCHING PARAMETERS (this leg's
    defaults — m=8/ksub=16/probe_radius=1, the production-width dial —
    deliberately differ from the inline leg's m=2/ksub=4/radius=0
    smoke defaults, so call sites must pin m/ksub/grid/radius on both
    sides to invoke the equivalence; driver-certified by the reused
    oracle at pinned parameters)."""
    import itertools

    comp_names = [f"c{i}" for i in range(n_components)]
    index = spark.read.parquet(path)
    qsubs = _pq_subrows(queries, vec_col, id_col, m, dim).select(
        F.col(id_col).alias("query_id"), "sub", F.col("_v").alias("_q")
    )
    # codebooks are m·ksub rows — ALWAYS broadcast.  Beyond the obvious
    # join-shape win, this keeps the LUT subtree shuffle-free, which is
    # what lets AQE reuse the lutc broadcast for the scan's dynamic
    # partition pruning (a SortMergeJoin stage here made
    # PlanAdaptiveDynamicPruningFilters degenerate the pruning filter
    # to `true` — a silent full-index scan, caught by the
    # test_plan_shapes metrics gate)
    lut = qsubs.join(F.broadcast(codebooks), "sub").select(
        "query_id",
        "sub",
        F.col("cluster_id").alias("code"),
        _pq_partial(F.col("_q"), F.col("centroid")).alias("partial"),
    )
    qcells = queries.select(
        F.col(id_col).alias("query_id"),
        *[
            c.alias(n)
            for c, n in zip(
                _cell_components(F.col(vec_col), n_components, grid), comp_names
            )
        ],
    )
    if probe_radius > 0:
        offsets = F.array(
            *[
                F.struct(*[F.lit(d).alias(f"d{i}") for i, d in enumerate(combo)])
                for combo in itertools.product(
                    range(-probe_radius, probe_radius + 1), repeat=n_components
                )
            ]
        )
        qcells = qcells.withColumn("_off", F.explode(offsets)).select(
            "query_id",
            *[
                (F.col(n) + F.col(f"_off.d{i}")).alias(n)
                for i, n in enumerate(comp_names)
            ],
        )
    lutc = lut.join(qcells, "query_id")
    dists = (
        index.join(F.broadcast(lutc), ["sub", "code", *comp_names])
        .groupBy("query_id", id_col)
        .agg(F.sum("partial").cast("double").alias("adc_dist"))
    )
    return _adc_topk(dists, k, id_col)


def _frozen_residuals(
    df: DataFrame,
    cents: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells_hint: int | None = None,
    spread: bool = True,
    checkpoint: bool = True,
) -> DataFrame:
    """Assign ``df`` to FROZEN trained cells and compute exact-float
    residuals — the encode-only half of the trained-IVF-PQ head, shared
    by initial builds (after Lloyd) and incremental appends (no
    training at all).  Map-only: driver-local centroids fold in as a
    constant map keyed by ``cluster_id``, any other centroid frame
    broadcasts; the corpus never shuffles.  Returns ``(id, cell, _r)``.

    ``spread=True`` fans a one-file corpus out before the CPU-bound
    assign/residual HOF chain (guide §2.5); the APPEND path passes
    ``spread=False`` to keep its documented zero-exchange map-only
    contract (small batches: a pinned repartition measured as pure
    added latency there), and the build path spreads ONCE in
    ``_trained_cells_and_residuals``, covering both Lloyd and this.

    ``checkpoint=True`` localCheckpoints the result — required on the
    BUILD path, where the residual frame has two consumers (pq_train
    and pq_encode) and re-deriving it would re-run the assign fold.
    The APPEND path passes ``checkpoint=False``: its residuals feed
    exactly one consumer (the encode), so the checkpoint there bought
    nothing and cost a materialization boundary in the middle of an
    otherwise fully fused map stage (RDD block puts + a codegen break;
    guide §5 "caching is only worth it when a DataFrame is reused")."""
    from cherry_pipelines_spark.operators.clustering import assign_clusters

    if spread:
        from cherry_pipelines_spark.operators.text import fan_out

        df = fan_out(df)
    from cherry_pipelines_spark.operators.clustering import _local_rows

    assigned = assign_clusters(df, cents, vec_col, id_col, k_hint=n_cells_hint)
    local = _local_rows(cents)
    if local:
        # driver-local centroids: the broadcast join that re-attached
        # each row's cell centroid becomes a constant-map lookup keyed
        # by cluster_id (one JVM-parsed literal — see _sql_lit) — no
        # broadcast build per action (round-14, guide §5).  Every
        # assignment lands in one of these ids by construction (argmin
        # over exactly this cell set), so the lookup never misses —
        # same rows as the inner join.
        cmap_t = T.MapType(
            cents.schema["cluster_id"].dataType, cents.schema["centroid"].dataType
        )
        cmap = F.expr(
            _sql_lit({r["cluster_id"]: r["centroid"] for r in local}, cmap_t)
        )
        cent_of = F.element_at(cmap, F.col("cluster_id"))
        resid = assigned.select(
            F.col(id_col),
            F.col("cluster_id").alias("cell"),
            F.zip_with(F.col("_v"), cent_of, lambda a, b: a - b).alias("_r"),
        )
    else:
        cent_cols = cents.select(
            F.col("cluster_id").alias("cell"), F.col("centroid").alias("_cent")
        )
        resid = assigned.join(
            F.broadcast(cent_cols), assigned["cluster_id"] == cent_cols["cell"]
        ).select(
            F.col(id_col),
            F.col("cell"),
            F.zip_with(F.col("_v"), F.col("_cent"), lambda a, b: a - b).alias("_r"),
        )
    return resid.localCheckpoint(eager=False) if checkpoint else resid


def _trained_cells_and_residuals(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int,
    coarse_iters: int,
    coarse_sample_per_cell: int | None = None,
    n_rows: int | None = None,
    dim: int | None = None,
    localize_cents: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared head of the trained-IVF-PQ family: k-means cells
    (deterministic Lloyd, final-centroid assignment) + exact-float
    residuals.  Returns ``(cents, resid)`` with ``cents =
    (cluster_id, centroid)`` checkpointed and ``resid = (id, cell,
    _r)`` checkpointed.  ``n_rows`` passes a count the caller already
    paid for (the auto-n_cells job) so sampling doesn't re-scan.

    ``localize_cents=True`` collapses the trained centroids to a
    driver-local literal relation (:func:`_local_metadata`) so every
    downstream broadcast of the n_cells-row frame is free of cluster
    jobs.  Only the STORED builders pass it — they are timed on the
    full call path, so the eager collect stays inside the bench's
    timer; the inline topk paths keep the lazy checkpoint so their
    Lloyd work stays in the exec-timed region.

    ``coarse_sample_per_cell``: train Lloyd on a deterministic
    id-modulus thinning of ~``n_cells * coarse_sample_per_cell`` rows
    instead of the full corpus (assignment/residuals still cover
    everything).  This is what keeps sqrt(n)-sized cell counts LINEAR:
    full-corpus training costs O(n * n_cells) = O(n^1.5) under the
    sqrt rule, while a sample proportional to n_cells costs
    O(n_cells^2) = O(n) — the Faiss posture (train on a bounded sample
    per centroid, encode the world).  ``None`` keeps the exact
    full-corpus contract the oracle-replayed registry rows pin."""
    from cherry_pipelines_spark.operators.clustering import _lloyd
    from cherry_pipelines_spark.operators.text import fan_out

    # ONE spread covers the whole trained head: Lloyd's assign folds
    # (n_cells·dim HOF evaluations per row) and the residual encode
    # are CPU-bound, and the corpus checkpoint often arrives as a
    # single partition (guide §2.5)
    df = fan_out(df)
    train = df
    if coarse_sample_per_cell is not None:
        n = n_rows if n_rows is not None else df.count()
        step = max(1, n // max(1, n_cells * coarse_sample_per_cell))
        if step > 1:
            # Thin on a HASHED id, not id % step: modulus assumes a
            # dense 0-anchored id space, and sparse/offset spaces (e.g.
            # scaling-copy keys offset by 10^12) would under-sample or
            # empty the training set.  pmod(xxhash64(id), step) == 0
            # keeps ~n/step rows deterministically for ANY id
            # distribution.
            train = df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(step)) == 0)
    # `dim` (the PQ contract already pins vector width) selects
    # clustering._recenter's static single-shuffle plan for the coarse
    # Lloyd iterations — the exploded (cluster, dim) shuffle was the
    # dominant cost of the trained-build head (guide §2.3)
    _, cents = _lloyd(train, vec_col, id_col, n_cells, coarse_iters, dim=dim)
    cents = (
        _local_metadata(cents)
        if localize_cents
        else cents.localCheckpoint(eager=False)
    )
    return cents, _frozen_residuals(
        df, cents, vec_col, id_col, n_cells, spread=False
    )


def _auto_n_cells(n: int) -> int:
    """The ``max(16, isqrt(n))`` auto-cell rule as a pure function of
    the corpus size: per-probe candidate work is n/n_cells and
    probe-LUT work is n_cells, so sqrt(n) balances them — a fixed cell
    count probes an ever-growing 1/n_cells slice as the corpus scales,
    which is exactly the posture a 100 TB deployment must avoid.
    ``_resolve_cells_and_count`` is the sole production caller, so the
    rule pinned by tests IS the rule the builders run."""
    from math import isqrt

    return max(16, isqrt(n))


def _resolve_cells_and_count(
    df: DataFrame, n_cells: int | None, coarse_sample_per_cell: int | None
) -> tuple[int, int | None]:
    """ONE count job serves both auto-n_cells and sample-step sizing —
    the two consumers of |df| on the trained-build path (a second
    full-corpus scan just to re-derive the same number is exactly the
    waste the 100 TB posture forbids).  ``n_cells=None`` resolves via
    ``_auto_n_cells`` (the single implementation of the sqrt rule)."""
    n = None
    if n_cells is None or coarse_sample_per_cell is not None:
        n = df.count()
    if n_cells is None:
        n_cells = _auto_n_cells(n)
    return n_cells, n


def _trained_probe_lut(
    queries: DataFrame,
    cents: DataFrame,
    codebooks: DataFrame,
    vec_col: str,
    id_col: str,
    m: int,
    dim: int,
    nprobe: int,
) -> DataFrame:
    """Shared query side of the trained-IVF-PQ family: assign each
    query its ``nprobe`` nearest cells (6-dp-rounded distance, ties to
    the lower cell id) and build the per-(query, cell) residual ADC
    LUT.  Returns ``(query_id, cell, sub, code, partial)``.  All joins
    broadcast (cents = n_cells rows, codebooks = m·ksub rows) so the
    subtree stays shuffle-free — the property that keeps the lutc
    broadcast reusable for the stored leg's dynamic partition
    pruning."""
    if dim % m != 0:
        # same contract as _pq_subrows: an indivisible dim would
        # silently truncate the residual tail in the slices below
        raise ValueError(f"dim {dim} not divisible by m {m}")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_q"),
    )
    cent_row = cents.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("cluster_id"), F.col("centroid")))
        ).alias("cents")
    )

    # nprobe nearest cells selected MAP-SIDE: score every centroid in
    # the broadcast array, array_sort on (rounded distance, cell) —
    # struct order gives the same (d asc, cell asc) verdict as a
    # row_number window — and slice the first nprobe.  Deliberately
    # not a window: a window puts a shuffle in the LUT subtree, and a
    # shuffle stage below the lutc broadcast makes AQE degenerate the
    # stored leg's dynamic-partition-pruning filter to `true` (the
    # same failure mode the codebook broadcast fix closed — caught
    # again by the trained-stored metrics gate).
    def cell_dist(c: Column) -> Column:
        return F.round(
            F.aggregate(
                F.zip_with(
                    F.col("_q"), c["centroid"], lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )

    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            cell_dist(c).alias("_d"),
            c["cluster_id"].alias("cell"),
            c["centroid"].alias("_cent"),
        ),
    )
    probes = (
        q.crossJoin(F.broadcast(cent_row))
        .select(
            "query_id",
            "_q",
            F.explode(F.slice(F.array_sort(scored), 1, nprobe)).alias("_p"),
        )
        .select(
            "query_id",
            F.col("_p.cell").alias("cell"),
            F.zip_with(
                F.col("_q"), F.col("_p._cent"), lambda a, b: a - b
            ).alias("_rq"),
        )
    )
    sd = dim // m
    qsubs = probes.select(
        "query_id",
        "cell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("sub"),
                        F.slice("_rq", s * sd + 1, sd).alias("_qs"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("x"),
    ).select(
        "query_id", "cell", F.col("x.sub").alias("sub"), F.col("x._qs").alias("_qs")
    )
    return qsubs.join(F.broadcast(codebooks), "sub").select(
        "query_id",
        "cell",
        "sub",
        F.col("cluster_id").alias("code"),
        _pq_partial(F.col("_qs"), F.col("centroid")).alias("partial"),
    )


def build_stored_ivfpq_trained_index(
    df: DataFrame,
    path: str,
    m: int = 8,
    dim: int = 64,
    ksub: int = 16,
    iters: int = 2,
    n_cells: int | None = 16,
    coarse_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    coarse_sample_per_cell: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Persist the TRAINED-cell residual IVF-PQ index: rows
    ``(id, sub, code)`` under ``cell=…`` partition directories —
    trained k-means cells instead of lattice coordinates, residual
    codes instead of raw-vector codes (see :func:`ivf_pq_topk_trained`
    for why both matter).  Because trained cells follow the data, the
    directory layout is BALANCED (~|corpus|/n_cells rows per dir) and
    an nprobe probe reads exactly nprobe of n_cells directories — the
    lattice layout's selectivity depends on where the corpus happens
    to fall on the grid (the unit-norm fixture collapses to 4 cells).
    Returns ``(codebooks, cents)`` — together m·ksub + n_cells rows,
    the whole index metadata, both broadcastable.

    Defaults mirror :func:`ivf_pq_topk_trained` parameter-for-parameter
    so the stored/inline bit-identical contract holds under DEFAULT
    arguments, not just when call sites pin everything.

    ``n_cells=None`` auto-sizes to ``max(16, isqrt(|df|))`` — the
    standard sqrt(n) balance between per-probe candidate work
    (n/n_cells) and probe-LUT work (n_cells); costs one count job.

    This trains on ``df`` and writes ``df`` — the day-0 build.  Later
    batches go through :func:`append_stored_ivfpq_trained_index` with
    the returned (frozen) metadata; they must NOT re-run this builder,
    which would retrain cells/codebooks and orphan the stored codes."""
    n_cells, n_rows = _resolve_cells_and_count(df, n_cells, coarse_sample_per_cell)
    cents, resid = _trained_cells_and_residuals(
        df, vec_col, id_col, n_cells, coarse_iters, coarse_sample_per_cell,
        n_rows, dim=dim, localize_cents=True,
    )
    # metadata frames LOCALIZED (driver-scale literal relations): the
    # returned (codebooks, cents) feed every later append's three
    # broadcasts and the probe's two — with a checkpointed lineage
    # each of those was a cluster job; as LocalRelations they build
    # driver-side (guide §5; see _local_metadata)
    codebooks = _local_metadata(
        pq_train(resid, "_r", id_col, m, dim, ksub, iters)
    )
    # `cell` rides through the encode (pq_encode carry) instead of the
    # old post-encode join back to `resid` on id — one full shuffle of
    # the n·m-row code table gone (guide §2.4).  The repartition by
    # cell sizes the OUTPUT layout: one writer task per cell → one
    # file per cell dir instead of (partitions × cells) small files
    # (guide §6), and its parallelism is n_cells, which the sqrt-n
    # auto-size rule grows with the corpus.
    codes = pq_encode(resid, codebooks, "_r", id_col, m, dim, carry=("cell",))
    codes.repartition("cell").write.partitionBy("cell").parquet(path)
    return codebooks, cents


def append_stored_ivfpq_trained_index(
    df: DataFrame,
    path: str,
    codebooks: DataFrame,
    cents: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int | None = None,
) -> None:
    """Append a NEW batch of vectors to an existing
    :func:`build_stored_ivfpq_trained_index` layout using the FROZEN
    cells and codebooks from the day-0 build — the incremental-
    maintenance path a 100 TB corpus needs (data arrives in batches;
    retraining + rewriting the whole index per batch, which is what
    re-running the builder does, is O(corpus) work per O(batch) of new
    data and silently SHIFTS every stored code when the centroids
    move).

    No training happens here: the batch flows scan → map-side frozen-
    cell assignment (broadcast cents) → residual → PQ codes (broadcast
    codebooks) → ``mode("append")`` write under the existing ``cell=``
    partition directories.  Cost is O(|batch|), map-only, zero shuffle
    of the base index; Spark's partitioned append only ADDS files, so
    concurrent readers keep a consistent view of the old index and the
    DPP directory-pruning contract is unchanged (appends never create
    cells outside the trained 0..n_cells-1 id space — gated post-append
    in tests/test_plan_shapes.py).

    Equivalence contract (pinned in tests/test_similarity.py): querying
    base+appended is BIT-IDENTICAL to querying a from-scratch index
    whose codes were encoded with the SAME frozen cells/codebooks over
    the unioned corpus — encoding is per-row, so batch boundaries
    cannot change any code.  (It is NOT identical to retraining on the
    union: that is a different index by design — see the RETRAIN
    POLICY below for the measured drift curve that decides when.)

    ID-DISJOINTNESS PRECONDITION: the batch's ``id_col`` values must
    not already exist in the stored index.  ``mode("append")`` only
    adds files — it cannot dedupe — so a re-appended id stores a
    second copy of its codes and surfaces TWICE among top-k
    candidates.  The check is O(|index|) (an anti-join against every
    stored id), which would defeat the O(|batch|) contract, so it is
    the caller's invariant — exactly like the "must NOT re-run the
    builder over base+batch" note above.  Callers with at-least-once
    upstream delivery should dedupe the batch (``dropDuplicates``)
    and track a high-water mark per source, not re-scan the index.

    RETRAIN POLICY (measured — ``scripts/autosize_metrics.py --drift``,
    AUTOSIZE_METRICS.json ``drift`` rows, round 13): sweeping the
    appended fraction (share of the corpus the frozen quantizers never
    saw at train time) over 0/20/50/80%, the clustered-family fixture
    holds recall@3 = 1.0 through 50% appended at nprobe=2 (nprobe=1
    wobbles 0.97–1.0) and KNEES between 50% and 80% (0.92 at 80%;
    the small-corpus twin drops earlier, 0.8 at 50%).  The steadier
    drift cost is CANDIDATE-FRACTION inflation: auto-sized cells are
    sized for what day 0 saw, so at 80% appended the cells hold ~5x
    their design population and cand_frac runs 1.6–2.2x the fresh
    build — probe cost, not just recall, pays for drift.  Policy:
    run :func:`retrain_stored_ivfpq_trained_index` (fresh quantizers
    on the full corpus, atomic two-rename swap) when the appended
    fraction crosses ~50% — before the measured recall knee and before
    cell overpopulation compounds — or earlier if recall on a held-out
    probe set drops below the application floor.

    ``n_cells``: pass the index's cell count when the caller knows it
    (the builder returned it, or it is pinned config) — it feeds the
    HOF-vs-GEMM assignment choice directly, removing the one extra
    driver job the append otherwise runs (a ``cents.count()``; measured
    ~0.1–0.2 s per append batch at sf0.1).  ``None`` keeps the count."""
    resid = _frozen_residuals(
        df, cents, vec_col, id_col, n_cells_hint=n_cells, spread=False,
        checkpoint=False,
    )
    # `cell` carried through the encode (pq_encode carry): with the old
    # code↔resid id-join gone, the append is now LITERALLY the
    # contract above — scan → broadcast assigns → write, one map
    # stage, zero exchanges (guide §2.4).  Files per touched cell dir
    # = batch partitions (not repartitioned here: an exchange would
    # break the map-only contract, and the small-file debris rate is
    # compact_stored_index's certified job, not the ingest path's).
    codes = pq_encode(resid, codebooks, "_r", id_col, m, dim, carry=("cell",))
    codes.write.partitionBy("cell").mode("append").parquet(path)


def compact_stored_index(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
):
    """Compact the small-file debris that
    :func:`append_stored_ivfpq_trained_index` accumulates — the LAST
    stage of the stored-index lifecycle (train once → O(batch) appends
    → DPP-pruned probes → COMPACT → eventually retrain).

    Each append adds at least one parquet file under every ``cell=``
    directory it touches; after thousands of daily batches a cell dir
    is a swamp of tiny files, and per-file open cost erodes exactly
    the numFiles economics that make DPP pruning worth having (the
    probe reads ONE cell dir — if that dir holds 1000 files of 50 KB,
    the "pruned" probe still pays 1000 opens).  This is the ClickHouse
    MergeTree posture (background part merges; reference
    `evm/erc20_transfers.py:47` relies on the same): appends stay
    cheap because a separate maintenance pass restores the layout.

    Delegates to :func:`cherry_pipelines_spark.sinks.compact.
    compact_partitions` — every over-fragmented cell rewritten to at
    most ``ceil(bytes / target_file_bytes)`` files by ONE write into a
    hidden staging dir, then each cell swapped in with two atomic
    renames, so concurrent readers on rename-atomic filesystems see
    either the old or the new layout, never a half-written cell.  Compaction
    rewrites FILES only: cell membership, codes, and therefore probe
    results are bit-identical (pinned in tests/test_pq.py), and the
    DPP gate's ``numFiles < staticFilesNum`` only tightens (both
    counts shrink; the probed-cell fraction is unchanged).  Returns
    the :class:`~cherry_pipelines_spark.sinks.compact.CompactionReport`.

    Idempotent; run it on a schedule or when files-per-cell crosses a
    threshold (APPEND_COST.json's many-appends ladder measures the
    probe-time degradation curve that sets it)."""
    from cherry_pipelines_spark.sinks.compact import compact_partitions

    return compact_partitions(
        spark, path, target_file_bytes=target_file_bytes, min_files=min_files
    )


def retrain_stored_ivfpq_trained_index(
    spark,
    df: DataFrame,
    path: str,
    **build_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """RETRAIN the stored trained IVF-PQ index offline and ATOMIC-SWAP
    it into place — the action the RETRAIN POLICY on
    :func:`append_stored_ivfpq_trained_index` prescribes once the
    appended fraction crosses ~50% (AUTOSIZE_METRICS drift rows):
    fresh quantizers fitted to the CURRENT corpus ``df`` (cells
    re-auto-size to the grown n under ``n_cells=None``), every row
    re-encoded, and readers never see a half-built index.

    Swap protocol (``sinks/swap.DirSwap``, shared with
    ``sinks/compact.compact_partitions``): build into a sibling
    ``._retrain_tmp`` dir, rename live → ``._retrain_old``, rename tmp
    → live, delete old.  A crash leaves the old layout, a stale tmp
    (cleaned on the next run), the live index parked as
    ``._retrain_old`` (restored on the next run), or the new layout —
    never a torn index.
    On rename-atomic filesystems (local/HDFS) concurrent probes keep a
    consistent view; on S3 schedule against a quiescent index.

    Returns the NEW ``(codebooks, cents)`` — the old metadata frames
    must be discarded by the caller (they describe quantizers that no
    longer exist on disk; probing the new layout with them returns
    wrong distances, which is exactly the code-shift hazard the
    append path's frozen-metadata contract exists to avoid).
    ``build_kwargs`` pass through to
    :func:`build_stored_ivfpq_trained_index`."""
    from cherry_pipelines_spark.sinks.swap import DirSwap

    swap = DirSwap(spark, path, "retrain")
    swap.recover()  # debris of a crashed retrain; restores a parked index
    codebooks, cents = build_stored_ivfpq_trained_index(
        df, swap.tmp, **build_kwargs
    )
    swap.commit()
    return codebooks, cents


def query_stored_ivfpq_trained_index(
    spark,
    path: str,
    codebooks: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 8,
    dim: int = 64,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Answer queries from a :func:`build_stored_ivfpq_trained_index`
    layout: the probe's nprobe nearest cells join the scan's ``cell``
    partition column against a broadcast LUT, so dynamic partition
    pruning reads exactly the probed directories (runtime-metrics
    gated in tests/test_plan_shapes.py, like the lattice stored leg).
    Results are bit-identical to the inline
    :func:`ivf_pq_topk_trained`.

    PRUNING PRECONDITION: pass ``queries`` as a FILTER over its source
    (``df.filter(...)``), not a pre-materialized frame — Spark's
    PartitionPruning rule only inserts the DPP subquery when the probe
    side carries a plan-visible selective predicate
    (``isLikelySelective``); a localCheckpoint/collected query batch
    has no Filter node and silently degrades the probe to a full-index
    scan (results unchanged, cost not — measured in SCALE.md round-12)."""
    index = spark.read.parquet(path)
    lut = _trained_probe_lut(
        queries, cents, codebooks, vec_col, id_col, m, dim, nprobe
    )
    dists = (
        index.join(F.broadcast(lut), ["cell", "sub", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("partial").cast("double").alias("adc_dist"))
    )
    return _adc_topk(dists, k, id_col)


def ivf_pq_topk_trained(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_filter: Column | None = None,
    m: int = 8,
    dim: int = 64,
    ksub: int = 16,
    iters: int = 2,
    n_cells: int | None = 16,
    coarse_iters: int = 2,
    nprobe: int = 1,
    exclude_self: bool = False,
    coarse_sample_per_cell: int | None = None,
) -> DataFrame:
    """IVF-PQ with a TRAINED coarse quantizer and RESIDUAL encoding —
    the production ANN layout (what Faiss' IVFx,PQy builds), replacing
    :func:`ivf_pq_topk`'s fixed lattice cells with k-means cells and
    its raw-vector codes with codes of ``v − centroid(cell(v))``:

    * **trained cells** follow the data: candidate sets are the actual
      neighborhoods, not axis-aligned grid boxes (on the near-dup
      family fixture the radius-1 lattice probe degenerates to a FULL
      scan — every point lands within one grid step on the first two
      components — while 16 trained cells keep probes at |corpus|/16).
    * **residual codes** spend every PQ bit on WITHIN-cell geometry:
      the coarse centroid removes the cluster-scale component, so the
      m·log2(ksub)-bit budget quantizes the part that actually ranks
      neighbors.  Measured on the family fixture: recall@3 1.00
      trained+residual vs 0.20 lattice+raw at identical m/ksub.

    Determinism contract (oracle-replayable): coarse cells train with
    ``clustering._lloyd`` (init = first ``n_cells`` ids, 6-dp-rounded
    argmin with lowest-cid ties, decimal-exact recenter), the final
    assignment re-runs against the FINAL centroids, residuals are
    exact float subtraction of the 6-dp centroids, PQ trains on
    residuals with the shared ``pq_train`` contract, queries probe
    their ``nprobe`` nearest cells (6-dp-rounded distance, ties to the
    lower cell id), and the per-(query, cell) LUT quantizes
    ``q − centroid(cell)`` — ADC stays an exact DECIMAL(18,6) sum.

    Plan shape: centroids (n_cells rows) and codebooks (m·ksub rows)
    broadcast; the corpus flows scan → map-side assignment → residual
    → codes, the stored layout is ``(cell, sub, code, id)`` exactly as
    the lattice variant persists it (cell-partitioned ⇒ directory
    pruning per probe); the query side (|Q|·nprobe·m·ksub decimal
    partials) broadcasts into ONE hash join + one (query, id) agg.
    Per-query cost tracks the probed cells' population — |corpus|/n_cells
    per probe in expectation, and n_cells scales with the corpus (the
    standard sqrt(n) rule) at 100 TB: pass ``n_cells=None`` to auto-size
    to ``max(16, isqrt(|df|))`` (one count job)."""
    if query_filter is None:
        query_filter = F.col(id_col) % 100 == 0
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    n_cells, n_rows = _resolve_cells_and_count(df, n_cells, coarse_sample_per_cell)
    # coarse k-means cells + residuals, then PQ on residuals (the
    # shared deterministic contract); the stored leg
    # (build_stored_ivfpq_trained_index / query_stored_ivfpq_trained_
    # index) reuses the SAME helpers, so inline and stored results are
    # identical by construction
    cents, resid = _trained_cells_and_residuals(
        df, vec_col, id_col, n_cells, coarse_iters, coarse_sample_per_cell,
        n_rows, dim=dim,
    )
    codebooks = pq_train(resid, "_r", id_col, m, dim, ksub, iters).localCheckpoint(
        eager=False
    )
    # `cell` carried through the encode: `indexed` is map-only off the
    # checkpointed residuals — the old code↔resid id-join put a full
    # shuffle of the n·m code rows (plus a second scan of resid) in
    # front of the ADC join (guide §2.4)
    indexed = pq_encode(resid, codebooks, "_r", id_col, m, dim, carry=("cell",))
    lut = _trained_probe_lut(
        df.filter(query_filter), cents, codebooks, vec_col, id_col, m, dim, nprobe
    )
    dists = (
        indexed.join(F.broadcast(lut), ["cell", "sub", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("partial").cast("double").alias("adc_dist"))
    )
    if exclude_self:
        dists = dists.filter(F.col("query_id") != F.col(id_col))
    return _adc_topk(dists, k, id_col)


def pq_refine_topk(
    df: DataFrame,
    k: int = 3,
    candidates: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_filter: Column | None = None,
    m: int = 8,
    dim: int = 64,
    ksub: int = 16,
    iters: int = 2,
    exclude_self: bool = False,
    scale: int = 6,
) -> DataFrame:
    """PQ/ADC shortlist + EXACT re-rank (Faiss' IndexRefineFlat over a
    PQ index): the m-byte codes scan the whole corpus and keep the top
    ``candidates`` per query, then ONLY those ``candidates`` raw
    vectors are read back for exact squared-L2 re-ranking.  The
    standard answer when code-level recall saturates: on the
    near-random adversarial fixture raw ADC recall@3 is 0.40 and no
    amount of probing fixes it (quantization noise ~ neighbor-distance
    spread), while refine at a FIXED budget of 64 exact distances per
    query reaches 0.80 at sf0.01 — the budget is constant in corpus
    size, so the refine stage stays O(|Q|·C) reads at 100 TB while the
    scan stage keeps the 4·dim/m memory compression.

    Plan shape: the candidate list (|Q|·C id pairs — scalars) and the
    query vectors broadcast; the corpus is scanned once by the ADC
    stage (codes only) and once more by a broadcast-semi-joined
    vector fetch restricted to candidate ids (at deployment this is
    the point lookup the id-keyed vector store exists for).  Exact
    distances use the same 6-dp HALF_UP fold as :func:`l2_topk`; ties
    break on neighbor id."""
    if query_filter is None:
        query_filter = F.col(id_col) % 100 == 0
    cand = pq_topk(
        df, k=candidates, vec_col=vec_col, id_col=id_col,
        query_filter=query_filter, m=m, dim=dim, ksub=ksub, iters=iters,
        exclude_self=exclude_self,
    ).select("query_id", F.col(id_col).alias("neighbor_id"))
    corp = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_nv"),
    )
    qv = df.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    scored = (
        corp.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "dist",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("_qv"), F.col("_nv"), lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                scale,
            # decimal, exactly like l2_topk's dist — the two exact-
            # distance operators must stay union/join-compatible
            ).cast(f"decimal(18,{scale})"),
        )
        .drop("_qv", "_nv")
    )
    w = Window.partitionBy("query_id").orderBy("dist", F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def ivf_pq_topk(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_filter: Column | None = None,
    m: int = 2,
    dim: int = 64,
    ksub: int = 4,
    iters: int = 2,
    n_components: int = 2,
    grid: float = 0.5,
    probe_radius: int = 0,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-PQ top-k — the billion-scale ANN layout: a coarse IVF cell
    prunes the candidate set BEFORE any distance work, then PQ/ADC
    scores only the probed cells' codes.  Composes :func:`bucket_id`'s
    deterministic lattice coarse quantizer (engine-portable floor
    arithmetic, no trained coarse codebook to replay) with
    :func:`pq_topk`'s globally-trained codebooks and exact-decimal ADC.

    Plan shape: the stored index is ``(id, cell, codes)`` — the
    ``codes ⨝ cells`` id-join here exists only because the index is
    built inline; a deployment encodes once and persists the joined
    layout, cell-partitioned, so a query probe is a partition-pruned
    scan.  The query side (LUT × probe fan-out: |Q|·(2r+1)^n·m·ksub
    decimal partials) broadcasts; the corpus codes flow through ONE
    hash join keyed on (sub, code, cell) and one (query, id) hash agg.
    Per-query cost is proportional to the probed cells' population,
    not the corpus — the sub-linear path `pq_topk`'s docstring
    promises.  ``probe_radius`` is the recall dial: radius r probes
    the (2r+1)^n lattice neighborhood exactly like :func:`ivf_topk`.

    Distances are exact sums of 6-dp-rounded DECIMAL(18,6) partials
    (order-independent, engine-portable); rank ties break on id
    ascending.  With a grid coarse enough to hold the whole corpus in
    one cell this reduces bit-exactly to :func:`pq_topk` (pinned in
    tests)."""
    import itertools

    from cherry_pipelines_spark.operators.text import fan_out

    if query_filter is None:
        query_filter = F.col(id_col) % 100 == 0
    df = fan_out(df)  # CPU-bound HOF chain: same spread as pq_topk
    comp_names = [f"_c{i}" for i in range(n_components)]

    def comps(src: Column) -> list[Column]:
        return [
            c.alias(n)
            for c, n in zip(_cell_components(src, n_components, grid), comp_names)
        ]

    codebooks = pq_train(df, vec_col, id_col, m, dim, ksub, iters).localCheckpoint(
        eager=False
    )
    # cell coords carried through the encode: `indexed` is map-only —
    # the old codes↔cells id-join cost a full shuffle of the n·m code
    # rows plus a second scan of `df` (guide §2.4)
    dfc = df.select(F.col(id_col), F.col(vec_col), *comps(F.col(vec_col)))
    indexed = pq_encode(
        dfc, codebooks, vec_col, id_col, m, dim, carry=tuple(comp_names)
    )
    qsubs = _pq_subrows(df.filter(query_filter), vec_col, id_col, m, dim).select(
        F.col(id_col).alias("query_id"), "sub", F.col("_v").alias("_q")
    )
    lut = qsubs.join(codebooks, "sub").select(
        "query_id",
        "sub",
        F.col("cluster_id").alias("code"),
        _pq_partial(F.col("_q"), F.col("centroid")).alias("partial"),
    )
    qcells = df.filter(query_filter).select(
        F.col(id_col).alias("query_id"), *comps(F.col(vec_col))
    )
    if probe_radius > 0:
        offsets = F.array(
            *[
                F.struct(*[F.lit(d).alias(f"d{i}") for i, d in enumerate(combo)])
                for combo in itertools.product(
                    range(-probe_radius, probe_radius + 1), repeat=n_components
                )
            ]
        )
        qcells = qcells.withColumn("_off", F.explode(offsets)).select(
            "query_id",
            *[
                (F.col(n) + F.col(f"_off.d{i}")).alias(n)
                for i, n in enumerate(comp_names)
            ],
        )
    lutc = lut.join(qcells, "query_id")
    dists = (
        indexed.join(F.broadcast(lutc), ["sub", "code", *comp_names])
        .groupBy("query_id", id_col)
        .agg(F.sum("partial").cast("double").alias("adc_dist"))
    )
    if exclude_self:
        dists = dists.filter(F.col("query_id") != F.col(id_col))
    return _adc_topk(dists, k, id_col)
