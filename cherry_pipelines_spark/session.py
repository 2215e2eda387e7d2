"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM (``local[N]``); on a real cluster the same
session options hold — AQE handles runtime re-planning (partition
coalescing, skew joins), Arrow accelerates the pandas-UDF decode
boundary, and UTC pins timestamp semantics so results compare exactly
against a DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _is_local_master(master: str) -> bool:
    """True for single-JVM masters (``local``, ``local[N]``,
    ``local[N,F]``) — NOT ``local-cluster[n,c,m]``, which simulates a
    multi-JVM cluster and should get the cluster (wide) posture."""
    return master == "local" or master.startswith("local[")


def _wide_default(master: str) -> bool:
    """Auto posture: wide partition planning on any non-local master;
    locally only when ``SPARK_GRAFT_WIDE_SHUFFLES`` is truthy (the
    deep-scale harness).  ``0``/``false``/``no``/empty disable."""
    return not _is_local_master(master) or os.environ.get(
        "SPARK_GRAFT_WIDE_SHUFFLES", ""
    ).strip().lower() not in ("", "0", "false", "no")


def get_spark(
    app_name: str = "cherry_pipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    wide_shuffles: bool | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    ``shuffle_partitions`` defaults to the local core count in local
    mode; on a cluster leave it unset and let AQE coalesce from a high
    initial number.

    ``wide_shuffles`` selects the partition-PLANNING posture (the
    ``initialPartitionNum`` mechanics are documented inline below):

    * ``None`` (default) — auto: wide on any non-``local`` master,
      fixed-width locally.  ``SPARK_GRAFT_WIDE_SHUFFLES=1`` forces wide
      in local mode (how the deep-scale harness models cluster
      behavior on synthesized 64x data).
    * ``True`` / ``False`` — explicit override, same effect.
    """
    # Make this package importable inside Spark worker processes: decode
    # steps ship closures referencing this module, and workers don't
    # inherit the driver's sys.path.  Must happen before the JVM starts.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if _is_local_master(master) else 200
    if wide_shuffles is None:
        wide_shuffles = _wide_default(master)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # permissive semantics matching the reference's polars engine:
        # overflow casts / out-of-range element_at → NULL, not error
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # read TIMESTAMP(NANOS) parquet columns as epoch-nano longs
        # (Spark has no nanosecond timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Sketch/carry frames (<= bins|chunks rows BY CONSTRUCTION) use
        # Window.partitionBy(F.lit(0)) to declare single-partition
        # intent; Spark 4's EliminateWindowPartitions strips foldable
        # partition keys, silently turning them back into unpartitioned
        # windows (and re-triggering WindowExec's no-partition warning
        # on every executor).  Keeping the rule off preserves the
        # explicit keys — physically identical (one hash partition).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions",
        )
        # keep the codegen stage id out of generated class names: AQE
        # numbers stages in the order they materialize, which varies
        # from run to run, and a renamed class misses the codegen cache
        # and is compiled (and JIT-warmed) again for every batch
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    if wide_shuffles:
        # Cluster posture: plan byte-heavy exchanges WIDE and let AQE
        # coalesce from measured sizes.  With a fixed partition count,
        # per-partition state grows linearly with data — the 64x scaling
        # run caught the shingle self-join's shuffled-hash build hitting
        # exactly that wall (12.6 s → 64.7 s warm for 4x data; 4.9 s →
        # 26.4 s with this posture, back inside linear tolerance).
        # Small shuffles are unaffected: coalescePartitions.
        # parallelismFirst (default true) keeps them at the core count,
        # so only byte-heavy exchanges actually fan out.  32x the base
        # count = 6400 at the cluster default of 200 — a partition stays
        # near the 64 MB advisory target until ~400 GB shuffles, after
        # which the operator-level guards (max_df, LSH prefilter,
        # banding) are the documented scale path.  Local runs keep
        # fixed-width planning: the fixtures are small by construction,
        # and wide planning taxes the ITERATIVE loops (pagerank 0.9 →
        # 2.4 s at sf0.1 — per-round map tasks each write
        # initialPartitionNum shuffle buckets, a fixed cost AQE cannot
        # coalesce away because it is paid before statistics exist).
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(32 * shuffle_partitions),
        ).config(
            # let AQE re-partition cached-plan output too — otherwise
            # every .cache()/localCheckpoint inside an iterative loop
            # pins the full initial width for all later rounds
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
