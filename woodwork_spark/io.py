"""Readers for the engine (reference ww.read_file, utils.py:95-195).

`read_parquet` transparently handles parquet TIMESTAMP(NANOS) columns,
which Spark's vectorized reader rejects ([PARQUET_TYPE_ILLEGAL]): nano
fields are detected from the parquet footer (pyarrow, metadata-only),
read as long via `spark.sql.legacy.parquet.nanosAsLong`, and converted to
TimestampType losslessly to the microsecond.  This keeps the scan fully
vectorized — no Python round-trip.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = [
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
]

# path -> list of INT64-nano column names (possibly empty).  Metadata-only
# probe; caching avoids re-reading footers on every call and, more
# importantly, avoids ever launching a Spark read that is known to fail.
_NANO_COLS_CACHE: dict[str, list[str]] = {}


def _nano_timestamp_columns(path: str, all_files: bool = False) -> list[str]:
    """Columns stored as physical INT64 with TIMESTAMP(NANOS) logical type.

    Spark's vectorized reader rejects exactly these; INT96 timestamps also
    surface as timestamp[ns] in the arrow schema but read natively fine, so
    the physical type must be checked, not just the arrow unit.

    Probes only the FIRST file of a directory by default (metadata-only,
    cheap); ``all_files=True`` probes every file and refreshes the cache —
    the recovery path when a heterogeneous-schema directory failed the
    fast read despite a clean first footer.
    """
    if not all_files and path in _NANO_COLS_CACHE:
        return _NANO_COLS_CACHE[path]
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return []
    if os.path.isdir(path):
        # ** matches zero or more directories, so the recursive glob
        # already covers top-level files — the full-probe mode must see
        # partitioned subdirectories even when top-level files exist
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True),
        )
        if not files:
            _NANO_COLS_CACHE[path] = []
            return []
        targets = files if all_files else files[:1]
    else:
        targets = [path]
    candidates: list[str] = []
    for target in targets:
        try:
            meta_schema = pq.ParquetFile(target).metadata.schema
        except Exception:
            # one unreadable footer must not discard candidates already
            # found in other files
            continue
        for i in range(len(meta_schema)):
            col = meta_schema.column(i)
            if (
                col.physical_type == "INT64"
                and "nanoseconds" in str(col.logical_type).lower()
                and "timestamp" in str(col.logical_type).lower()
                and col.name not in candidates
            ):
                candidates.append(col.name)
    _NANO_COLS_CACHE[path] = candidates
    return candidates


def _read_no_ntz(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with TIMESTAMP_NTZ inference disabled.

    Parquet written with isAdjustedToUTC=false (pandas/pyarrow default)
    would otherwise surface as TIMESTAMP_NTZ, which unix_micros & friends
    reject and whose epoch depends on session timezone at cast time.
    With inference off, the stored int64 micros are taken verbatim as
    UTC-epoch micros — deterministic, and identical to how DuckDB (the
    correctness oracle) treats the same naive values.
    """
    conf_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    try:
        prev = spark.conf.get(conf_key, "true")
    except Exception:  # pre-3.4 Spark: no NTZ inference at all
        return spark.read.parquet(path)
    spark.conf.set(conf_key, "false")
    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis so schema errors surface here
    finally:
        spark.conf.set(conf_key, prev)
    return df


def _tz_normalize(df: DataFrame) -> DataFrame:
    """Cast any residual TIMESTAMP_NTZ columns (non-parquet sources, or a
    reader that ignored the conf) to TIMESTAMP so downstream epoch math
    (unix_micros) analyzes; session tz should be UTC for determinism."""
    ntz = [f.name for f in df.schema.fields
           if f.dataType.simpleString() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read that tolerates TIMESTAMP(NANOS) columns.

    The footer is probed (metadata-only, cached per path) for INT64
    nano-timestamp columns; only when present does the read go through
    nanosAsLong + micros conversion.  A known-doomed vectorized read is
    never attempted, so no failing Spark job / TaskSetManager noise.
    """
    nano_cols = _nano_timestamp_columns(path)
    if not nano_cols:
        try:
            # nanosAsLong may already be on session-wide (a running stream
            # needs it): nano columns then surface as bigint — still convert
            return _tz_normalize(_read_no_ntz(spark, path))
        except Exception as e:  # noqa: BLE001
            # Footer probe missed (multi-file dirs with heterogeneous
            # schemas, pyarrow absent): fall through to the legacy path,
            # probing EVERY file this time — re-using the cached
            # first-file-only answer here would leave nano columns as
            # raw bigint nanoseconds after the legacy read.
            if "PARQUET_TYPE_ILLEGAL" not in str(e):
                raise
            nano_cols = _nano_timestamp_columns(path, all_files=True)
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = _read_no_ntz(spark, path)
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    long_cols = {
        f.name for f in df.schema.fields if f.dataType.simpleString() == "bigint"
    }
    for c in nano_cols:
        if c in long_cols:
            df = df.withColumn(
                c,
                F.timestamp_micros((F.col(c) / 1000).cast("long")),
            )
    return _tz_normalize(df)


def load_tables(spark: SparkSession, sf_dir: str, tables=None) -> dict:
    """Load the driver's synthetic star schema (TESTDATA.md) as DataFrames."""
    tables = tables or TPCH_TABLES
    out = {}
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            out[t] = read_parquet(spark, p)
    return out


def register_views(spark: SparkSession, sf_dir: str, tables=None) -> dict:
    dfs = load_tables(spark, sf_dir, tables)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_file(spark: SparkSession, filepath: str, content_type=None, **ww_init_kwargs):
    """Read csv/parquet/orc/json into a typed WWDataFrame
    (reference ww.read_file utils.py:95-195, mimetype-dispatched)."""
    from woodwork_spark.accessor import init

    ext = (content_type or os.path.splitext(filepath)[1].lstrip(".")).lower()
    if ext in ("csv", "text/csv"):
        df = spark.read.option("header", "true").csv(filepath)
    elif ext in ("parquet", "application/parquet"):
        df = read_parquet(spark, filepath)
    elif ext in ("orc", "application/orc"):
        df = spark.read.orc(filepath)
    elif ext in ("json", "application/json"):
        df = spark.read.json(filepath)
    elif ext in ("feather", "arrow"):
        import pandas as pd

        # pinned-Arrow conversion: NaN -> NULL identically under any
        # session conf (see pandas_to_spark)
        df = pandas_to_spark(spark, pd.read_feather(filepath))
    else:
        raise RuntimeError(f"Content type '{ext}' not supported.")
    return init(df, **ww_init_kwargs)


def arrow_to_pandas(df: DataFrame):
    """``toPandas`` with Arrow transfer pinned on.

    OSS Spark defaults ``spark.sql.execution.arrow.pyspark.enabled`` to
    false, silently taking the pickle path: per-row ``fromInternal`` plus
    a python-lambda timestamp localize — ~20x slower than the Arrow
    batch copy for a bounded sample.  Scoped set-and-restore, same
    pattern as read_parquet's NTZ guard."""
    spark = df.sparkSession
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        return df.toPandas()
    finally:
        spark.conf.set(key, prev)


# Cells (rows x columns) a bounded driver-local tier may collect through
# collect_bounded: about 8 MB of doubles.
LOCAL_MAX_CELLS = 1_000_000


def collect_bounded(df: DataFrame):
    """``df`` on the driver as pandas from ONE Arrow collect, or None.

    The collect is ``df.limit(max_rows + 1).toArrow()`` with
    ``max_rows = LOCAL_MAX_CELLS // len(df.columns)``.  None — the
    caller's distributed path runs — when the frame has more rows than
    that, when a floating column holds NaN or +-inf (Spark keeps NaN
    apart from NULL, pandas cannot), or when ``df`` is streaming.
    Integer and boolean columns come back as pandas' nullable dtypes, so
    NULL stays apart from the values and int64 stays exact; timestamps
    come back as UTC instants."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    if df.isStreaming:
        return None
    ncols = len(df.columns)
    max_rows = LOCAL_MAX_CELLS // ncols if ncols else 0
    if max_rows <= 0:
        return None
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        return None
    for col in table.columns:
        # all-NULL columns aggregate to None, which is fine
        if pa.types.is_floating(col.type) and pc.all(
            pc.is_finite(col),
        ).as_py() is False:
            return None
    nullable = {
        pa.int8(): pd.Int8Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int64(): pd.Int64Dtype(),
        pa.bool_(): pd.BooleanDtype(),
    }
    return table.to_pandas(types_mapper=nullable.get)


def pandas_to_spark(spark, pdf) -> DataFrame:
    """``createDataFrame(pandas)`` with Arrow transfer pinned on.

    The Arrow and pickled-row paths diverge on float NaN (Arrow's
    from_pandas yields SQL NULL, the row path keeps NaN), so a feather
    deserialize would change meaning with the session's Arrow conf.
    Pinning Arrow ON makes every session produce the configuration the
    oracles verified (bench.py/conftest always enable it), and NaN
    consistently means "missing" — matching the pandas reference, where
    NaN IS the missing marker for feather frames."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        return spark.createDataFrame(pdf)
    finally:
        spark.conf.set(key, prev)
