"""Named parquet sources.

Replaces the reference's Oracle access layer (``src/common/database.py:117-163``,
operator S1/S2 in SURVEY.md §2.1): every load is a declarative
``spark.read.parquet`` so Catalyst gets predicate pushdown + column pruning
for free — the reference hand-writes ``FARM_NO = :farm_no`` + 2-year windows
into every SQL string for the same effect (``src/weekly/data_loader.py:228-231``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions that are genuinely bounded (25/5 rows at every SF) and safe to
# hard-broadcast. customer/supplier/part all scale with SF — let AQE's
# threshold-guarded choice decide for those, never a forced hint.
BROADCAST_DIMS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named table from a scale-factor directory.

    ``events.ts`` has been shipped as parquet TIMESTAMP(NANOS) (which Spark
    reads as nanos-long under ``nanosAsLong``) in some testdata generations
    and TIMESTAMP(MICROS) (→ TIMESTAMP_NTZ) in others, so we dispatch on the
    dtype Spark actually produced and expose a uniform ``ts_us`` column
    (microseconds since epoch, BIGINT) — the same precision DuckDB sees, and
    timezone-proof because every derivation below is wall-clock integer
    arithmetic, never a session-tz cast.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Our session factory sets nanosAsLong up front (session.py), but the
        # external driver brings a PLAIN SparkSession, so ensure it here too
        # (only helps TIMESTAMP(NANOS) files; harmless otherwise). Guarded
        # set-if-different: idempotent, never flips a value mid-session.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        if spark.conf.get(key, "false") != "true":
            spark.conf.set(key, "true")
        schema = footer_schema(path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(path)
        t = df.schema["ts"].dataType
        if isinstance(t, T.LongType):
            # nanos-long → micros. `div` truncates toward zero, which is
            # EXACTLY how DuckDB converts TIMESTAMP(NANOS) parquet to its
            # micros timestamps (probed: -1500 ns → -1 µs, not floor's -2),
            # and the oracle comparison is against DuckDB — so truncation,
            # not floor, is the parity-correct choice for pre-epoch rows.
            # (The TIMESTAMP/NTZ branches never face the question: those
            # generations carry no sub-microsecond component to drop.)
            ts_us = F.expr("ts div 1000")
        elif isinstance(t, T.TimestampNTZType):
            # Wall-clock difference from the NTZ epoch: pure integer result,
            # independent of spark.sql.session.timeZone.
            ts_us = F.expr(
                "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
            )
        elif isinstance(t, T.TimestampType):
            ts_us = F.unix_micros(F.col("ts"))
        else:
            raise TypeError(f"events.ts: unexpected parquet dtype {t}")
        return df.withColumn("ts_us", ts_us)
    return spark.read.parquet(path)


# Arrow types of a parquet footer -> the Spark types Spark's own inference
# gives them (timestamps are mapped separately, see footer_schema).
_ARROW_TO_SPARK = {
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "large_string": T.StringType(),
}


def footer_schema(path: str) -> T.StructType | None:
    """The Spark schema of a single parquet file, read from its footer
    with pyarrow — ``spark.read.parquet`` without a schema runs a Spark job
    to infer it, so every plan built over the table would launch one.

    Timestamps map the way Spark reads them with ``nanosAsLong`` set:
    legacy INT96 → TIMESTAMP, NANOS → BIGINT, other UTC-adjusted units →
    TIMESTAMP, the rest → TIMESTAMP_NTZ. Returns None (the caller falls back to inference) for a
    directory, a remote path or any type outside the flat mapping above.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.isfile(path):
        return None
    with pq.ParquetFile(path) as pf:
        arrow, physical = pf.schema_arrow, pf.schema
    fields = []
    for i, f in enumerate(arrow):
        if pa.types.is_timestamp(f.type):
            if physical.column(i).physical_type == "INT96":
                dtype = T.TimestampType()
            elif f.type.unit == "ns":
                dtype = T.LongType()
            elif f.type.tz:
                dtype = T.TimestampType()
            else:
                dtype = T.TimestampNTZType()
        else:
            dtype = _ARROW_TO_SPARK.get(str(f.type))
            if dtype is None:
                return None
        fields.append(T.StructField(f.name, dtype, True))
    return T.StructType(fields)


def events_before(spark: SparkSession, sf_dir: str, day: str) -> DataFrame:
    """``events`` with ``ts_us`` before midnight UTC of ``day`` (YYYY-MM-DD).

    The bound is stated twice: exactly on ``ts_us``, and on the raw ``ts``
    column in its own type so the parquet reader can push it down and skip
    row groups. The raw bound is implied by the exact one on every ``ts``
    encoding (nanos are truncated to micros, so ``ts_us < c`` implies
    ``ts < 1000 c``), so it never drops a row the exact bound keeps.
    """
    import datetime as dt

    cutoff_us = int(
        dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc).timestamp()
    ) * 1_000_000
    df = table(spark, sf_dir, "events")
    t = df.schema["ts"].dataType
    if isinstance(t, T.LongType):
        raw = F.col("ts") < F.lit(cutoff_us * 1000)
    elif isinstance(t, T.TimestampNTZType):
        raw = F.col("ts") < F.expr(f"TIMESTAMP_NTZ '{day} 00:00:00'")
    else:
        raw = F.col("ts") < F.expr(f"timestamp_micros({cutoff_us})")
    return df.filter(raw & (F.col("ts_us") < F.lit(cutoff_us)))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every test table; handy for registering temp views."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql() use."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism before CPU-heavy per-row
    work (hash pipelines, trig kernels, cross-join fan-outs).

    A parquet scan yields O(file-bytes / maxPartitionBytes) tasks — correct
    for IO, but a row that is cheap to READ can be expensive to PROCESS
    (md5-per-token shingling, |stations|-fold fan-out). Spreading costs one
    tiny shuffle of the raw rows and buys cluster-wide parallelism for the
    expensive stage; at 100 TB the scan already yields thousands of tasks
    and this becomes a cheap no-op-sized rebalance (AQE coalesces it).
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
