"""SparkSession factory.

The reference engine is a single JVM thread with in-heap HashMaps
(FullETLGenerator.java:27-30, :39-55).  Here the session is configured for
cluster-scale batch analytics: AQE on (runtime re-planning, skew-join
splitting, dynamic coalescing of shuffle partitions), Arrow enabled for the
few pandas-interop points, and parquet nanosecond timestamps readable (the
driver testdata's ``events`` table is written as TIMESTAMP(NANOS)).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Confs that are safe (and required) to apply to an externally provided
# session at runtime — all of these are dynamic SQLConf entries.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS,false); Spark has no nanos type,
    # so read as bigint nanos and convert (catalog.load_table does this).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Epoch arithmetic and the NTZ->TIMESTAMP normalization in
    # catalog.load_table assume UTC wall-clock; pin it even on sessions we
    # did not build (the driver's harness session may not set it).
    "spark.sql.session.timeZone": "Etc/UTC",
    # Runtime re-optimization: coalesce tiny shuffle partitions, split skewed
    # ones, convert to broadcast joins when runtime stats allow.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # NOTE on AQE's coalescing floor (minPartitionSize): a global 64k
    # floor was trialled this round to spread compute-dense small-byte
    # stages (md5/shingle codegen) and measured a NET regression on the
    # full headline bench (wins on 4 hash-heavy queries, losses spread
    # across ~15 others — OPTIMIZATION_r11.md).  The conf stays at the
    # Spark default; the few genuinely compute-dense-per-byte stages pin
    # their parallelism explicitly instead (queries.spread — an explicit
    # partition count is exempt from AQE coalescing).
}


# Per-process scratch root (round-6 verdict task 7): roundtrip fixtures,
# the SQL warehouse dir, and embedded Derby's home all live under one
# deterministic directory wiped at interpreter exit — a parity sweep or
# bench run must leave no `derby.log` / `spark-warehouse/` droppings in
# whatever CWD it happened to run from.
_FIXTURE_ROOT: str | None = None


def fixture_root() -> str:
    """Create-once per-process scratch root, removed at interpreter exit."""
    global _FIXTURE_ROOT
    if _FIXTURE_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _FIXTURE_ROOT = os.path.join(
            tempfile.gettempdir(), f"spark_graft_fixtures_{os.getpid()}"
        )
        os.makedirs(_FIXTURE_ROOT, exist_ok=True)
        atexit.register(shutil.rmtree, _FIXTURE_ROOT, ignore_errors=True)
    return _FIXTURE_ROOT


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply dynamic confs to a session we did not build (e.g. the driver's).
    A conf the deployment refuses (static, or restricted) is skipped with
    a warning naming it, so a later failure that depends on it (e.g. an
    unreadable nanos timestamp) can be traced back here."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            warnings.warn(
                f"apply_runtime_confs: could not set {k}={v!r}: {e}",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark


def get_spark(
    app_name: str = "java-etl-bi-generator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit decide.  Shuffle partitions
    default to the local core count — at 100 TB you would size this to
    ~2-3x total executor cores (AQE coalescing trims the excess at runtime).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "Etc/UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Headless: per-stage metrics come from the event log
        # (scripts/profile_query.py), not the UI.
        .config("spark.ui.enabled", "false")
        # Static confs, effective only when THIS builder launches the JVM
        # (getOrCreate on a live session ignores them): keep the managed-
        # table warehouse and Derby's derby.log out of the caller's CWD.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(fixture_root(), "spark-warehouse"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={fixture_root()}",
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
