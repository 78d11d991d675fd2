"""SparkSession construction and per-session runtime configuration.

Two entry points:
  - ``get_spark()``: build a tuned local session (tests / bench).
  - ``prepare_session(spark)``: apply the runtime-settable subset of our
    config to a session we did not build (the verification driver hands us
    its own session). Every query entry point calls this — it is idempotent
    and cheap.

Scale notes (the configs below are chosen for cluster execution, not just
local mode):
  - AQE on: runtime coalescing of small shuffle partitions, skew-join
    splitting, and dynamic broadcast-join conversion are the main levers
    that keep a 100 TB plan healthy without hand-tuning per query.
  - shuffle.partitions is a floor; AQE coalesces down from it. On a real
    cluster this would be set ~2-3x total cores via
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
  - Session timezone pinned to UTC so timestamp semantics are deterministic
    and match the parquet NTZ data.
  - nanosAsLong: the events table carries parquet TIMESTAMP(NANOS) which the
    vectorized reader rejects; we read the raw int64 and convert to
    TIMESTAMP_NTZ JVM-side (see sources/tables.py) — no Python in the path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that is runtime-settable on an existing session (all spark.sql.*).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # cross joins are used deliberately (hop-window expansion, tiny dims)
    "spark.sql.crossJoin.enabled": "true",
}


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime config to a session we were handed. Idempotent."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-settable on this build — keep going, defaults are sane
            pass
    try:
        from flink_spark.functions.builtins_ext import (
            register_reference_builtins,
        )

        register_reference_builtins(spark)
    except Exception:
        # SQL-function DDL unavailable on this build — the native
        # spellings (SHA2, RAND, get_json_object) still work
        pass
    return spark


def _default_driver_mem() -> str:
    """Half the host's physical memory, capped at 48g: a local driver
    shares the host with its Python workers, and a heap past the host's
    memory gets the JVM killed instead of a task failed."""
    try:
        host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (AttributeError, OSError, ValueError):
        return "48g"
    return f"{min(host_mb // 2, 48 * 1024)}m"


def get_spark(
    app_name: str = "flink_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned local session."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus)))
    # Python workers fork from a per-executor daemon; point it at our
    # preloading daemon module (flink_spark/pydaemon.py) so forked workers
    # inherit numpy/pandas/pyarrow already imported instead of paying the
    # import per worker — stateful-streaming runners spawn fresh workers
    # per query, so without this every streaming drain pays it again. The
    # executor-launched daemon needs the repo on PYTHONPATH to import the
    # module; set it before the JVM starts (local mode inherits this env).
    # Deliberate process-global side effect (ADVICE r12): the prepend
    # persists in os.environ for the life of this process and is
    # inherited by ANY subprocess it spawns — a host that also launches
    # unrelated Python programs with a conflicting installed copy of
    # this package should launch them with an explicit PYTHONPATH. On a
    # cluster the same preload rides spark.executorEnv.PYTHONPATH
    # instead of the driver's environment.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "flink_spark.pydaemon")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prepare_session(spark)
