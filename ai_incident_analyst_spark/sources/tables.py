"""Table sources + schema normalization.

Reference parity:
  - S1 remote NRQL scan (``src/ingestion/new_relic_fetcher.py:82-113``) →
    parquet scan with Catalyst predicate/projection/limit pushdown. The
    WHERE/SELECT/LIMIT clauses the reference ships to New Relic are expressed
    on the DataFrame and pushed into the parquet reader automatically.
  - S4 multi-table scan (``FROM Log, Log_dev1``, ``new_relic_fetcher.py:61``)
    → ``union_tables`` (unionByName, allowMissingColumns).
  - Schema normalization (``preprocessor.py:17-25``: message coercion,
    timestamp stringification) → explicit casts at ingest; we keep
    TimestampType canonically instead of strings.

Scale notes: at 100 TB the logs table is date-partitioned parquet/delta;
time-window predicates then become partition pruning. All normalization
here is a narrow projection (no shuffle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import apply_runtime_confs

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: testdata columns whose physical encoding has varied across driver
#: generations: TIMESTAMP(NANOS) (scans as long nanos-since-epoch under
#: spark.sql.legacy.parquet.nanosAsLong) or plain timestamp[us] with
#: isAdjustedToUTC=false (scans as TIMESTAMP_NTZ under Spark 4). Both are
#: coerced to canonical TimestampType here so downstream epoch math
#: (``ts.cast("long")``) is always legal.
_TS_TABLES = {"events": ["ts"]}


def _normalize(name: str, df: DataFrame) -> DataFrame:
    for col in _TS_TABLES.get(name, []):
        dt = df.schema[col].dataType
        if isinstance(dt, T.LongType):
            # integer-divide to micros (matches DuckDB/parquet µs truncation);
            # float division would lose precision: epoch-ns ≈ 1.7e18 > 2^53
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
        elif isinstance(dt, T.TimestampNTZType):
            # session timezone is pinned to UTC (session.py), so reinterpreting
            # the wall-clock NTZ value as an instant is value-preserving and
            # NTZ-illegal ops (cast to BIGINT epoch) become legal downstream.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


#: fact/corpus tables whose downstream stages are CPU-bound: a single-file
#: single-row-group parquet gives them a one-core scan, so they're
#: repartitioned right after load. Dimension tables (region/nation/
#: customer/supplier/part) stay as-is — they broadcast, and an exchange
#: before a BroadcastExchange is pure overhead. Checked with one os.stat;
#: a partition-count probe via df.rdd costs ~0.2 s of plan analysis per
#: query build. Real multi-split tables skip this entirely.
_SPREAD_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}
_SPREAD_MIN_BYTES = 128 << 10


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with canonical types.

    A big single-file input (testdata layout) is spread across the
    session's default parallelism right after the scan: the narrow scan
    itself can't parallelize past the file's one row group, and every
    downstream CPU-bound stage would otherwise run single-threaded. On a
    real date-partitioned 100 TB table the path has many files and no
    repartition is added.
    """
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _normalize(name, spark.read.parquet(path))
    try:
        single_big_file = (
            name in _SPREAD_TABLES and os.path.isfile(path)
            and os.path.getsize(path) >= _SPREAD_MIN_BYTES)
    except OSError:
        single_big_file = False
    if single_big_file:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def union_tables(*dfs: DataFrame) -> DataFrame:
    """S4/SO2: union several log tables by column name, tolerating drift.

    Mirrors NRQL ``FROM Log, Log_dev1`` (new_relic_fetcher.py:61) — the
    reference unions source tables whose schemas may not be identical.
    """
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def tolerant_timestamp(col) -> F.Column:
    """F8/F13 tolerant parser for the reference's dynamic timestamp field,
    which arrives as int epoch OR ISO-8601 string depending on the source
    (``integration_tests/test_preprocessing_to_embedding.py:10`` vs
    ``test_embedding_to_llm.py:13``). Strings parse via try_to_timestamp
    (null, not error, on garbage); digit runs are interpreted by magnitude
    as seconds / millis / micros since epoch.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.trim(c.cast("string"))
    digits = s.rlike("^[0-9]+$")
    num = s.cast("long")
    return F.when(
        digits,
        F.when(F.length(s) >= 16, F.timestamp_micros(num))
         .when(F.length(s) >= 13, F.timestamp_millis(num))
         .otherwise(F.timestamp_seconds(num)),
    ).otherwise(F.try_to_timestamp(s))


def normalize_log_records(df: DataFrame, ts_col: str = "timestamp",
                          message_col: str = "message") -> DataFrame:
    """Ingest normalization with the reference preprocessor's semantics
    (``preprocessor.py:17-25``): non-string/None messages coerced to
    string/"" and the dynamic timestamp parsed to a real TimestampType
    (the reference stringifies instead; canonical typing is the Spark-side
    upgrade, SURVEY §1.3).
    """
    out = df
    if message_col in df.columns:
        out = out.withColumn(
            message_col,
            F.coalesce(F.col(message_col).cast("string"), F.lit("")))
    if ts_col in df.columns:
        out = out.withColumn(ts_col, tolerant_timestamp(ts_col))
    return out
