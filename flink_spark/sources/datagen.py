"""DataGen / blackhole connector surface.

Reference connectors (SURVEY §2.1):
  - datagen   ↔ DataGenTableSourceFactory (rate-limited random/sequence
    per-column synthesis) → Spark ``rate`` source + deterministic column
    expressions over the monotonically increasing ``value``.
  - blackhole ↔ BlackHoleTableSinkFactory → ``format("noop")``.

The print connector (PrintTableSinkFactory) is the SQL
``'connector' = 'print'`` sink in ``catalog.py``.

Field generators are JVM expressions (hash-mix of the sequence number), so
the stream is reproducible given the same row indices — the property
Flink's sequence generator provides — while random-looking like its random
generator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _mix(seq: Column, salt: int) -> Column:
    """Deterministic 63-bit hash mix of a sequence number."""
    return F.abs(F.xxhash64(seq, F.lit(salt)))


def sequence_field(name: str, start: int = 0) -> tuple[str, "Column"]:
    return name, F.col("value") + F.lit(start)


def random_double_field(name: str, lo: float, hi: float, salt: int = 1) -> tuple[str, Column]:
    frac = (_mix(F.col("value"), salt) % 1_000_000_007).cast("double") / 1_000_000_007.0
    return name, frac * (hi - lo) + F.lit(lo)


def choice_field(name: str, choices: list[str], salt: int = 2) -> tuple[str, Column]:
    arr = F.array(*[F.lit(c) for c in choices])
    return name, arr[(_mix(F.col("value"), salt) % len(choices)).cast("int")]


def datagen(
    spark: SparkSession,
    rows_per_second: int,
    fields: list[tuple[str, Column]],
    include_timestamp: bool = True,
) -> DataFrame:
    """Rate-limited generated stream: one row per sequence number with the
    given synthesized fields (see field helpers above)."""
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    cols = [expr.alias(name) for name, expr in fields]
    if include_timestamp:
        cols = [F.col("timestamp").alias("proc_ts"), *cols]
    return src.select(*cols)


def blackhole_sink(df: DataFrame, trigger_available_now: bool = False):
    """No-op sink (reference blackhole connector) — throughput testing."""
    from flink_spark.streaming.triggers import start_stream

    mode = "drain" if trigger_available_now else "on-watermark"
    return start_stream(df, "noop", mode=mode)
