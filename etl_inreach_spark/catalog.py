"""Table catalog over the driver's parquet test data (TESTDATA.md).

All queries load through here so scans stay uniform: plain
``spark.read.parquet`` — predicate pushdown, column pruning and
partition sizing are Catalyst's job, not ours.
"""

from __future__ import annotations

import os
import weakref
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


@lru_cache(maxsize=None)
def _nanos_ts_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet timestamp[ns] (Spark has no nanos type)."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    if os.path.isdir(path):
        # Spark-written table: footer schema from any one part file.
        # Walk RECURSIVELY — partitioned tables nest part files under
        # key=value subdirectories, where a top-level listdir sees none.
        parts = sorted(
            os.path.join(root, f)
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        if not parts:
            return ()
        path = parts[0]
    pf = pq.ParquetFile(path)
    # Physical-type guard: Spark's DEFAULT parquet writer emits legacy
    # INT96 timestamps, which pyarrow ALSO reports as timestamp[ns] —
    # but Spark reads INT96 natively as TIMESTAMP, so routing them
    # through the nanosAsLong + div-1000 path breaks (TIMESTAMP div
    # BIGINT type error). Only true TIMESTAMP(NANOS) int64 columns
    # (the driver generator's) need the normalization.
    phys = {
        pf.schema.column(i).name: pf.schema.column(i).physical_type
        for i in range(len(pf.schema))
    }
    return tuple(
        f.name
        for f in pf.schema_arrow
        if pat.is_timestamp(f.type)
        and f.type.unit == "ns"
        and phys.get(f.name) != "INT96"
    )


# Per-session memo of the built table PLAN (r11, guide §1.2/§7.3):
# spark.read.parquet pays a py4j roundtrip + JVM file listing + footer
# schema inference on EVERY call (~110 ms measured at sf0.1), and a
# bench pass makes ~1,000 such calls for the same ten immutable
# directories. The memo holds only the analyzed plan's JVM handle
# (zero rows); every action on it still scans the parquet inputs, so
# this is plan reuse, not result caching. Keyed by id(session) with a
# weakref.finalize evicting the entry when the session object is
# collected (ADVICE r11: a WeakKeyDictionary whose VALUES were
# DataFrames held the session strongly through df.sparkSession, so
# the weak key could never die; storing only the py4j JavaObject
# breaks that cycle). A fresh session re-lists the directory (same
# files — the catalog's tables are immutable by contract; anything
# mutable goes through its own reader, not load_table).
_PLAN_MEMO: dict[int, dict] = {}


def _session_memo(spark: SparkSession) -> dict:
    sid = id(spark)
    memo = _PLAN_MEMO.get(sid)
    if memo is None:
        memo = _PLAN_MEMO[sid] = {}
        weakref.finalize(spark, _PLAN_MEMO.pop, sid, None)
    return memo


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; normalize nanosecond timestamps to Spark micros.

    The driver's generator writes some timestamp columns as
    parquet TIMESTAMP(NANOS), which Spark rejects outright
    (PARQUET_TYPE_ILLEGAL) while DuckDB truncates to microseconds. We
    read nanos as raw int64 (legacy conf) and integer-divide to micros
    — identical truncation to DuckDB, so oracle hashes agree. The
    conversion is a narrow projection fused into the scan stage by
    whole-stage codegen; no extra pass.

    The nanosAsLong conf intentionally stays set on the session: scan
    EXECUTION (not just planning) reads it, so restoring it after this
    call would break the returned DataFrame. Net effect on other reads
    of nanos parquet: raw int64 instead of a hard PARQUET_TYPE_ILLEGAL
    error — route them through load_table.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    memo = _session_memo(spark)
    key = (sf_dir, name)
    cached = memo.get(key)
    if cached is not None:
        return DataFrame(cached, spark)
    path = table_path(sf_dir, name)
    ns_cols = _nanos_ts_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # `div` = integer division: nanos are ~1.8e18, beyond double's
        # 53-bit exactness, so float division would corrupt low digits.
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    df = _normalize_ntz(df)
    memo[key] = df._jdf
    return df


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP.

    The driver's parquet stores isAdjustedToUTC=false timestamps; a
    session that never saw our ``inferTimestampNTZ=false`` conf (the
    conf is read at scan planning) resolves them as TIMESTAMP_NTZ,
    which breaks ``unix_micros``-style arithmetic downstream (round-2
    driver failure: sessionize_events / sliding_1h_user_activity).
    The registry's ``query`` wrapper pins session tz to UTC via
    ``tune()`` before any query body loads a table, so the cast is
    value-exact; for sessions already reading TIMESTAMP
    this is a no-op projection fused into the scan.
    """
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the orders, customer and nation temp views so
    operators are usable from spark.sql too."""
    for n in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
