"""Scale utilities: skew-aware joins/aggregations and storage layout.

AQE's skew-join handling covers sort-merge joins automatically
(spark.sql.adaptive.skewJoin); these helpers cover the cases AQE can't:
broadcast-ineligible skewed aggregations and explicit salting when the
skewed keys are known or need deterministic handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the fact side gets a random salt in [0,salt),
    the (smaller) dim side is replicated salt times, and the join runs on
    (key, salt) — a hot key's rows spread over ``salt`` reducers instead
    of one.

    Use when the dim side is too big to broadcast AND the fact side has
    hot keys.  The replication multiplies dim size by ``salt``; keep salt
    modest (8-32).

    Only inner/left joins are supported: the dim side is replicated
    ``salt`` times, so right/full outer joins would emit every unmatched
    dim row ``salt`` times.
    """
    if how not in ("inner", "left", "leftouter", "left_outer", "left_semi", "leftsemi", "left_anti", "leftanti", "semi", "anti"):
        raise ValueError(
            f"salted_join supports inner/left/semi/anti joins only, got how={how!r}: "
            "the replicated dim side would duplicate unmatched dim rows in "
            "right/full outer modes",
        )
    salted_fact = fact.withColumn(
        "__salt", (F.rand(seed=42) * salt).cast("int"),
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))),
    )
    out = salted_fact.join(salted_dim, [key, "__salt"], how)
    return out.drop("__salt")


def two_phase_agg(
    df: DataFrame,
    keys: list,
    aggs: dict,
    salt: int = 16,
) -> DataFrame:
    """Skew-safe aggregation: aggregate on (keys + salt) first (spreads a
    hot group across ``salt`` partial groups), then re-aggregate on keys.

    ``aggs`` maps output column -> (input column, op) where op is one of
    sum/count/min/max — ops that decompose associatively.
    """
    partial_exprs = []
    final_exprs = []
    for out_name, (col, op) in aggs.items():
        if op == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(f"__p_{out_name}"))
            final_exprs.append(F.sum(f"__p_{out_name}").alias(out_name))
        elif op == "sum":
            partial_exprs.append(F.sum(col).alias(f"__p_{out_name}"))
            final_exprs.append(F.sum(f"__p_{out_name}").alias(out_name))
        elif op == "min":
            partial_exprs.append(F.min(col).alias(f"__p_{out_name}"))
            final_exprs.append(F.min(f"__p_{out_name}").alias(out_name))
        elif op == "max":
            partial_exprs.append(F.max(col).alias(f"__p_{out_name}"))
            final_exprs.append(F.max(f"__p_{out_name}").alias(out_name))
        else:
            raise ValueError(f"op '{op}' does not decompose; use sum/count/min/max")
    salted = df.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    partial = salted.groupBy(*keys, "__salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list,
    format: str = "parquet",
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
):
    """Partition-pruned storage layout: directory partitioning on the
    given columns (low-cardinality keys only — every distinct value is a
    directory), with a per-file record cap against giant files."""
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .format(format)
        .save(path)
    )
    return path


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: str,
    num_buckets: int = 32,
    sort_by: str = None,
    mode: str = "overwrite",
):
    """Bucketed (pre-shuffled) table: joins/aggregations on the bucket
    column skip their Exchange when both sides are bucketed the same way
    — the storage-level answer to repeated co-located joins."""
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_by)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)
    return table


def _bloom_params(expected_items: int, fpp: float):
    """Standard Bloom sizing: m = -n ln p / (ln 2)^2 bits, k = m/n ln 2.
    m is rounded up to a multiple of 64 and capped at 2^24 bits (2 MiB of
    filter — the driver holds and re-broadcasts it as one array literal;
    past that, prefer a real semi-join or storage-level bloom filters)."""
    import math

    n = max(expected_items, 1)
    m = int(-n * math.log(max(min(fpp, 0.5), 1e-9)) / (math.log(2) ** 2))
    m = min(max((m + 63) // 64 * 64, 64), 1 << 24)
    k = max(1, min(16, round(m / n * math.log(2))))
    return m, k


def _bloom_positions(key, num_bits: int, num_hashes: int):
    """The k bit positions of ``key``: xxhash64 with the hash index mixed
    in as a second column (JVM-side, no UDF).  The key is hashed AS A
    STRING: xxhash64 is type-sensitive (int 5 and bigint 5 hash
    differently), so build/probe sides with different key dtypes would
    otherwise produce false negatives — the one failure mode a bloom
    prune must never have."""
    s = key.cast("string")
    return [
        F.pmod(F.xxhash64(s, F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def bloom_filter_build(
    df: DataFrame,
    key_col: str,
    expected_items: int,
    fpp: float = 0.01,
):
    """Build a Bloom filter over ``df[key_col]`` DISTRIBUTED: explode
    each key into its k bit positions, aggregate per 64-bit word with
    ``bit_or`` (map-side partial agg does most of the work), and collect
    only the <= m/64 non-zero words to the driver.  No row data ever
    reaches the driver — just the dense bitset.

    Returns ``(words, num_bits, num_hashes)`` where ``words`` is the
    dense list of m/64 longs.
    """
    num_bits, num_hashes = _bloom_params(expected_items, fpp)
    key = F.col(key_col)
    pos = F.explode(
        F.array(*_bloom_positions(key, num_bits, num_hashes)),
    ).alias("__pos")
    word_rows = (
        df.where(key.isNotNull())
        .select(pos)
        .select(
            (F.col("__pos") / 64).cast("int").alias("__word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))",
            ).alias("__mask"),
        )
        .groupBy("__word")
        .agg(F.bit_or("__mask").alias("__bits"))
        .collect()
    )
    words = [0] * (num_bits // 64)
    for r in word_rows:
        words[r["__word"]] = r["__bits"]
    return words, num_bits, num_hashes


def bloom_prune(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str = None,
    expected_items: int = 1_000_000,
    fpp: float = 0.01,
) -> DataFrame:
    """Pre-shuffle semi-join reduction: filter ``big`` down to rows whose
    key MIGHT appear in ``small`` before any join shuffle moves them.

    The filter side is built distributed (``bloom_filter_build``) and
    embedded as one array literal, so the membership test is pure Column
    math inside whole-stage codegen — element_at + bitwiseAND per hash,
    no UDF, no broadcast join, no shuffle of the big side.  False
    positives pass through (fpp-bounded); false negatives cannot happen,
    so following with the REAL join keeps exact semantics while moving
    ~fpp x |big| instead of |big| rows into the shuffle.

    This hand-rolled form exists because Spark's runtime row-level
    filtering only kicks in for selective joins it can see through; an
    explicit bloom prune applies to any join shape (as-of joins, interval
    joins, custom UDF joins) where the engine cannot inject one.

    NULL keys never match (SQL semi-join semantics).
    """
    words, num_bits, num_hashes = bloom_filter_build(
        small, small_key or big_key, expected_items, fpp,
    )
    arr = F.lit(words)
    key = F.col(big_key)
    cond = key.isNotNull()
    for p in _bloom_positions(key, num_bits, num_hashes):
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        # SQL shiftleft accepts a column shift amount (unlike pyspark's
        # F.shiftleft, whose numBits must be a python int)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int"),
        )
        cond = cond & (word.bitwiseAND(mask) != 0)
    return big.filter(cond)


def zorder_key(
    df: DataFrame,
    cols,
    bits: int = 12,
    out_col: str = "zorder",
    stats: dict = None,
):
    """Z-order (Morton) curve key over ``cols``: each column is min-max
    quantized to ``bits`` bits (one stats agg, or caller-supplied
    ``stats[col] = (min, max)``), then the bits are interleaved — pure
    shift/AND Column arithmetic inside codegen.

    Rows close in Z-value are close in EVERY keyed dimension, so a
    range-partitioned write on the key gives files whose per-column
    min/max ranges are all narrow — parquet row-group skipping then
    prunes on ANY of the columns, not just the leading sort key.  This
    is the standard multi-dimensional clustering layout (the lakehouse
    OPTIMIZE ZORDER BY), built from one agg + one projection.

    ``bits * len(cols)`` must fit in 63 bits.  NULLs quantize to 0
    (cluster together at the curve origin).
    """
    cols = [cols] if isinstance(cols, str) else list(cols)
    if bits * len(cols) > 63:
        raise ValueError(
            f"bits={bits} x {len(cols)} dims exceeds a 63-bit key",
        )
    if stats is None:
        row = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in cols],
            *[F.max(c).alias(f"mx_{c}") for c in cols],
        ).collect()[0]
        stats = {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols}
    top = (1 << bits) - 1
    d = len(cols)
    z = F.lit(0).cast("long")
    for di, c in enumerate(cols):
        mn, mx = stats[c]
        if mn is None or mx is None or mx == mn:
            q = F.lit(0).cast("long")
        else:
            q = F.floor(
                (F.col(c).cast("double") - F.lit(float(mn)))
                / F.lit(float(mx) - float(mn))
                * F.lit(float(top)),
            ).cast("long")
            # coalesce BEFORE the clamp: least/greatest SKIP nulls, so a
            # NULL fed into least(top, q) would clamp to top, not 0
            q = F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit(top).cast("long"),
                    F.coalesce(q, F.lit(0).cast("long")),
                ),
            )
        for bi in range(bits):
            bit = F.shiftright(q, bi).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(
                F.call_function(
                    "shiftleft", bit, F.lit(bi * d + di),
                ).cast("long"),
            )
    return df.withColumn(out_col, z)


def zorder_layout(
    df: DataFrame,
    cols,
    bits: int = 12,
    num_partitions: int = None,
    out_col: str = "zorder",
) -> DataFrame:
    """Cluster ``df`` by the Z-order key: range-partition on the key (so
    each output partition/file owns a compact curve segment) and sort
    within partitions.  Write the result with plain ``.write.parquet``
    — row-group min/max stats then prune on any keyed column."""
    keyed = zorder_key(df, cols, bits=bits, out_col=out_col)
    n = num_partitions or max(
        df.sparkSession.sparkContext.defaultParallelism, 1,
    )
    return (
        keyed.repartitionByRange(n, F.col(out_col))
        .sortWithinPartitions(out_col)
    )


def skew_report(
    df: DataFrame,
    key_cols,
    top_k: int = 10,
    approx_percentile: bool = False,
) -> DataFrame:
    """Join/agg-key skew diagnostics: the numbers that decide whether a
    key needs salting BEFORE the 4-hour stage discovers it — per-key
    top-``top_k`` heavy keys with their share, plus the distribution
    summary every row repeats (max/avg/p99 key count, skew ratio
    max/avg, suggested salt factor ceil(max/p99)).

    Two aggregations: per-key counts (map-side combinable), then one
    summary agg over the counts table (exact percentile over KEY
    CARDINALITY rows, not data rows; pass ``approx_percentile=True``
    for the bounded-memory KLL sketch when keys number in the
    billions) broadcast onto the driver-bounded
    top-k.  The top-k orderBy+limit is a global top-k — Spark executes
    it as per-partition partial top-k + one ``top_k``-row merge, never
    a full sort.

    Returns ``top_k`` rows: ``(key..., n, share, rank, n_keys, n_rows,
    max_n, avg_n, p99_n, skew_ratio, salt_factor)``.
    """
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    summary = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.avg("n").alias("avg_n"),
        (
            F.percentile_approx("n", F.lit(0.99), F.lit(10_000))
            .cast("double")
            if approx_percentile
            else F.percentile("n", F.lit(0.99))
        ).alias("p99_n"),
    )
    top = (
        counts.orderBy(F.desc("n"), *[F.asc(k) for k in key_cols])
        .limit(top_k)
    )
    w = W.orderBy(F.desc("n"), *[F.asc(k) for k in key_cols])
    return (
        top.crossJoin(F.broadcast(summary))
        .select(
            *key_cols, "n",
            (F.col("n") / F.col("n_rows")).alias("share"),
            F.row_number().over(w).cast("long").alias("rank"),
            "n_keys", "n_rows", "max_n",
            F.col("avg_n"),
            F.col("p99_n"),
            (F.col("max_n") / F.col("avg_n")).alias("skew_ratio"),
            F.ceil(
                F.col("max_n") / F.greatest(F.col("p99_n"), F.lit(1.0)),
            ).cast("long").alias("salt_factor"),
        )
    )


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str = None,
    top_k: int = 5,
) -> DataFrame:
    """EXACT inner-join output size WITHOUT running the join —
    ``sum over keys of n_left(k) * n_right(k)`` — plus the top-``k``
    output-contributing keys: the pre-flight that catches a
    many-to-many key explosion (the "join produced 400x the input"
    incident) while it is still one aggregation instead of a 4-hour
    stage.

    Both sides collapse to per-key counts first (map-side combine), so
    the estimating join matches KEY CARDINALITIES, never rows.
    Returns one row per top key plus a ``'__total__'`` summary row:
    ``(key, left_rows, right_rows, out_rows)``.
    """
    right_key = right_key or left_key
    lc = left.groupBy(F.col(left_key).alias("__k")).agg(
        F.count(F.lit(1)).alias("__nl"),
    )
    rc = right.groupBy(F.col(right_key).alias("__k")).agg(
        F.count(F.lit(1)).alias("__nr"),
    )
    prod = lc.join(rc, "__k").select(
        "__k", "__nl", "__nr", (F.col("__nl") * F.col("__nr")).alias("__o"),
    )
    top = prod.orderBy(F.desc("__o"), F.asc("__k")).limit(top_k)
    total = prod.agg(
        F.lit("__total__").alias("key"),
        F.sum("__nl").alias("left_rows"),
        F.sum("__nr").alias("right_rows"),
        F.sum("__o").alias("out_rows"),
    )
    return top.select(
        F.col("__k").cast("string").alias("key"),
        F.col("__nl").alias("left_rows"),
        F.col("__nr").alias("right_rows"),
        F.col("__o").alias("out_rows"),
    ).unionByName(total)


def auto_salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "inner",
    max_salt: int = 64,
    skew_threshold: float = 4.0,
) -> DataFrame:
    """Skew-aware join that MEASURES before it salts: one per-key
    count agg on the fact side decides whether salting pays
    (max/p99 >= ``skew_threshold``) and picks the salt factor
    (ceil(max/p99), capped) — otherwise it returns the plain join and
    lets AQE handle the rest.  The diagnostic is ``skew_report``'s
    summary row; the mechanism is :func:`salted_join`.

    The measurement costs one aggregation over the fact side — run it
    when the join is big enough that a 4-hour skewed stage is the
    alternative.
    """
    row = skew_report(fact, key, top_k=1).collect()
    if not row:
        return fact.join(dim, key, how)
    r = row[0]
    if r["skew_ratio"] is None or r["skew_ratio"] < skew_threshold:
        return fact.join(dim, key, how)
    salt = int(min(max(r["salt_factor"], 2), max_salt))
    return salted_join(fact, dim, key, salt=salt, how=how)


def fan_out_scan(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Spread a NARROW scan across the cluster before per-row-heavy
    work (char-window explodes, q-gram generation, tokenization).

    A single-row-group parquet file scans as ONE task no matter how
    many cores exist, so everything fused into that scan stage —
    splits, explodes, hashes — runs on one core while the rest idle
    (guide §2.5: "one huge unsplittable file — repartition immediately
    after the read").  This helper is a NO-OP whenever the plan
    already carries at least ``defaultParallelism * multiplier``
    partitions: a production-scale scan has thousands of splits, so no
    reshuffle is ever added there.  Call it on scan-level frames
    (before shuffles), where partition count is known without running
    jobs.  Row order changes; callers must be order-insensitive (every
    aggregate/join/window operator here is).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * max(int(multiplier), 1)
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive
        return df
    if cur >= target:
        return df
    return df.repartition(target)


from contextlib import contextmanager

AQE_FANOUT_MIN_SIZE = "1k"


@contextmanager
def aqe_fanout_floor(spark):
    """Scoped AQE coalesce floor for materializing SMALL caches whose
    in-plan work is per-ROW-heavy (candidate verify joins, levenshtein,
    MinHash banding).

    With ``canChangeCachedPlanOutputPartitioning=true``, AQE sizes a
    cached plan's shuffle stages by BYTES with a 1 MB minimum partition
    size — correct for data-bound work, but a ~1.5 MB candidate-pair
    cache then materializes through 1-2 tasks and the expensive
    per-pair CPU work serializes (the round-12 entity_resolution
    regression).  Inside this scope the floor drops to
    :data:`AQE_FANOUT_MIN_SIZE` so AQE's parallelism-first sizing
    (total bytes / defaultParallelism) wins for small caches.  Scale
    safe: at production cache sizes bytes/parallelism dominates any
    floor, so the scope changes nothing; it is also strictly an AQE
    sizing hint — results are identical.  Scoped (set-and-restore)
    rather than global because the opposite preference holds for
    iteration-wave caches (pagerank/ppr measured ~2 s slower per query
    under a GLOBAL 64k floor in round 12).

    MUST wrap the ``persist()`` call, not (only) the materializing
    action: the cached plan's QueryExecution captures the session conf
    when the InMemoryRelation is created, so a floor set after
    persist() is invisible to the cache build (verified empirically:
    floor-before-persist -> 32 cache partitions, floor-after -> 1).

    The floor is 1k — with AQE's parallelism-first sizing the
    partition target is max(bytes/defaultParallelism, floor), so the
    count stays capped at defaultParallelism; the tiny floor only stops
    the 1 MB default from squeezing a kilobyte-sized cache into one
    task."""
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, AQE_FANOUT_MIN_SIZE)
    try:
        yield
    finally:
        if prev is None:
            try:
                spark.conf.unset(key)
            except Exception:
                pass
        else:
            spark.conf.set(key, prev)


def _arrow_local_safe(rows, st):
    """True when every value is a plain Python scalar (or a flat numeric
    list for an array<numeric> field) whose pandas->Arrow round trip is
    EXACTLY the stock verifier's conversion: no None (pandas would
    silently float-promote/NaN it), no NaN (pyarrow's from_pandas
    semantics turn float NaN into NULL), no Decimal/date/bytes/nested
    structs (each has its own conversion quirks).  Anything outside the
    safe set routes to the 1-slice parallelize fallback, which keeps
    the stock row-verifier semantics bit-for-bit."""
    from pyspark.sql import types as T

    # each checker mirrors the stock row verifier's accepted Python type
    # for the field EXACTLY (e.g. DoubleType rejects a plain int there,
    # so it must not silently pass through Arrow's widening cast), plus
    # excludes None and float NaN, whose pandas round trip differs
    # Width-aware int checks: the stock verifier RAISES on an
    # out-of-range value for the declared width, while Arrow's unsafe
    # cast (convertToArrowArraySafely defaults false) silently wraps —
    # e.g. 2**40 into an 'int' field.  Out-of-range rows must therefore
    # route to the verifier fallback, not the Arrow fast path.
    def _int_range(lo, hi):
        def _ok(v):
            return type(v) is int and lo <= v <= hi
        return _ok

    _long_ok = _int_range(-(2 ** 63), 2 ** 63 - 1)
    _int_ok = _int_range(-(2 ** 31), 2 ** 31 - 1)
    _short_ok = _int_range(-(2 ** 15), 2 ** 15 - 1)
    _byte_ok = _int_range(-(2 ** 7), 2 ** 7 - 1)

    def _float_ok(v):
        return type(v) is float and v == v

    def _str_ok(v):
        return type(v) is str

    def _bool_ok(v):
        return type(v) is bool

    checker = {
        T.LongType: _long_ok, T.IntegerType: _int_ok,
        T.ShortType: _short_ok, T.ByteType: _byte_ok,
        T.DoubleType: _float_ok, T.FloatType: _float_ok,
        T.StringType: _str_ok, T.BooleanType: _bool_ok,
    }
    fields = st.fields
    names = [f.name for f in fields]
    if len(set(names)) != len(names):
        return False
    kinds = []
    for f in fields:
        dt = f.dataType
        chk = checker.get(type(dt))
        if chk is not None:
            kinds.append(chk)
        elif isinstance(dt, T.ArrayType):
            echk = checker.get(type(dt.elementType))
            if echk is None or isinstance(
                    dt.elementType, (T.StringType, T.BooleanType)):
                return False
            kinds.append(("a", echk))
        else:
            return False
    nf = len(fields)
    for r in rows:
        if not isinstance(r, (tuple, list)) or len(r) != nf:
            return False
        for v, k in zip(r, kinds):
            if isinstance(k, tuple):
                if not isinstance(v, (list, tuple)):
                    return False
                echk = k[1]
                for x in v:
                    if not echk(x):
                        return False
            elif not k(v):
                return False
    return True


def local_rows_df(spark, rows, schema):
    """Create a DataFrame from a SMALL driver-side row list without the
    stock list path's per-core PythonRDD fan-out (guide §4: the default
    ``createDataFrame(list)`` parallelizes into ``defaultParallelism``
    slices, so EVERY materialization of the frame runs one Python
    worker task per core — measured ~0.3 s warm and ~4 s on the
    session's first use for a 3k-row frame on local[32]).

    Fast path: plain-scalar rows (int/float/str/bool, plus flat numeric
    arrays) with a resolvable schema go through Arrow
    (``createDataFrame(pandas)``) — JVM-only batches, no Python worker
    at any materialization, ~10x faster warm.  Everything else (None,
    NaN, Decimal, dates, binary, nested structs, schema-less calls)
    falls back to a ONE-slice parallelize: the identical row-verifier
    conversion, one Python task per materialization instead of one per
    core.  Row order is preserved by both paths; both match the stock
    ``createDataFrame(rows, schema)`` (``tests/test_local_rows_df.py``
    compares them on every input shape the call sites use)."""
    rows = rows if isinstance(rows, list) else list(rows)
    if schema is None:
        return spark.createDataFrame(rows)
    from pyspark.sql import types as T

    st = schema
    if isinstance(st, str):
        try:
            st = T._parse_datatype_string(st)
        except Exception:
            st = None
    if (
        rows
        and isinstance(st, T.StructType)
        and spark.conf.get(
            "spark.sql.execution.arrow.pyspark.enabled", "false",
        ).lower() == "true"
        and _arrow_local_safe(rows, st)
    ):
        try:
            import pandas as pd

            pdf = pd.DataFrame(
                [tuple(r) for r in rows],
                columns=[f.name for f in st.fields],
            )
            # createDataFrame(pandas) slices the frame into
            # defaultParallelism Arrow batches, so a 33-row frame
            # becomes a 32-partition RDD and every materialization
            # pays a full task wave; these frames are driver-local
            # smalls, so one partition (order-preserving concat) is
            # the right width, matching the fallback path
            return spark.createDataFrame(pdf, schema=st).coalesce(1)
        except Exception:
            pass
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema,
    )
