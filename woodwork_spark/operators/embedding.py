"""Embedding analytics: dimensionality reduction at corpus scale.

Two reducers with different contracts:

- ``random_project``: Johnson-Lindenstrauss projection with an
  md5-derived plane matrix — fully deterministic and REPRODUCIBLE IN
  SQL (the same md5 arithmetic runs in DuckDB), so projections are
  value-checkable end-to-end.  Zero fitting passes; the right tool when
  you need a cheap, engine-independent reduction.
- ``pca_fit`` / ``pca_project``: exact principal components.  Moments
  (n, Σx, XᵀX) are computed in ONE Arrow ``mapInPandas`` pass as
  per-partition partials (d×d numbers each), tree-reduced through
  fan-in-16 combine stages so the driver collect is O(d²) REGARDLESS of
  partition count (a 100 TB scan has tens of thousands of partitions;
  collecting one d×d matrix per partition at d=4096 would be
  128 MB × partitions on the driver), eigensolved there (d×d, numpy),
  and the projection applied as an Arrow-batched matmul.  At 100 TB the
  data pass is the only cost; nothing driver-side grows with row count
  or partition count.
"""

import hashlib
import math

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from woodwork_spark.operators.scale import local_rows_df


def _md5_weight(salt: str, i: int, j: int) -> float:
    """Deterministic uniform weight in [-1, 1): the first 8 md5 hex chars
    of 'salt:i_j' as a 32-bit int, affinely mapped.  Reproducible in SQL:
    ('0x' || substr(md5('salt:' || i || '_' || j), 1, 8))::BIGINT
    / 2147483648.0 - 1."""
    h = hashlib.md5(f"{salt}:{i}_{j}".encode()).hexdigest()[:8]
    return int(h, 16) / 2147483648.0 - 1.0


def random_project(
    df: DataFrame,
    vec_col: str,
    out_dim: int,
    salt: str = "jl",
    out_col: str = "proj",
) -> DataFrame:
    """JL random projection to ``out_dim`` dims, scaled by sqrt(3/out_dim)
    — uniform[-1,1) weights have variance 1/3, so this is the scale that
    preserves expected squared norms.  The plane matrix is md5-derived — no RNG
    state, identical on any engine — and applied as one numpy matmul per
    Arrow batch."""
    import numpy as np

    first = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .first()
    )
    if first is None:  # empty input or all-null column
        return df.withColumn(out_col, F.lit(None).cast("array<double>"))
    d = first["d"]
    planes = np.array(
        [[_md5_weight(salt, i, j) for i in range(d)] for j in range(out_dim)],
    )
    scale = float(np.sqrt(3.0 / out_dim))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def _proj(vecs: pd.Series) -> pd.Series:
        return _null_safe_matmul(vecs, lambda X: (X @ planes.T) * scale)

    return df.withColumn(out_col, _proj(F.col(vec_col)))


def _null_safe_matmul(vecs, fn):
    """Apply a batch matmul, passing NULL vectors through as NULL (a
    single null cell must not abort the whole task)."""
    import numpy as np

    if len(vecs) == 0:
        return pd.Series([], dtype="object")
    mask = vecs.notna().to_numpy()
    out = [None] * len(vecs)
    if mask.any():
        X = np.array(
            [np.asarray(v, dtype="float64") for v in vecs[mask]],
        )
        P = fn(X)
        for idx, p in zip(np.nonzero(mask)[0], P):
            out[idx] = p.tolist()
    return pd.Series(out, dtype="object")


_MOMENT_SCHEMA = "n long, s array<double>, xtx array<double>"
_TREE_FANIN = 16


def _combine_moments(batches):
    """Sum a partition's (n, s, xtx) partial rows into one row.

    Accumulates batch-by-batch so peak memory is one Arrow batch plus a
    single d×d accumulator — it never materializes every incoming
    partial at once.
    """
    import numpy as np

    n, s, xtx = 0, None, None
    for pdf in batches:
        for _, row in pdf.iterrows():
            n += int(row["n"])
            rs = np.asarray(row["s"], dtype="float64")
            rx = np.asarray(row["xtx"], dtype="float64")
            s = rs if s is None else s + rs
            xtx = rx if xtx is None else xtx + rx
    if n:
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "xtx": [xtx.tolist()]})


def collect_moments(df: DataFrame, vec_col: str, fanin: int = _TREE_FANIN):
    """Distributed (n, Σx, XᵀX) moments with a tree reduction.

    One ``mapInPandas`` pass emits one partial per input partition, then
    fan-in-``fanin`` combine stages shrink the partial count until at
    most ``fanin`` rows reach the driver — the final collect is O(d²)
    no matter how many partitions the scan had.  Exposed separately so
    tests can assert the collected row count stays bounded.
    """
    import numpy as np

    if fanin < 2:
        # fanin=1 would loop forever (width never shrinks); 0 divides by 0
        raise ValueError(f"collect_moments: fanin must be >= 2, got {fanin}")

    def partials(batches):
        for pdf in batches:
            vecs = pdf.iloc[:, 0].dropna()
            if len(vecs) == 0:
                continue
            X = np.array([np.asarray(v, dtype="float64") for v in vecs])
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "xtx": [(X.T @ X).ravel().tolist()],
                },
            )

    src = df.select(vec_col)
    moments = src.mapInPandas(partials, _MOMENT_SCHEMA)
    # One partial per input partition; combine in fan-in-`fanin` levels.
    # Each level's repartition shuffles only d²-sized partial rows, never
    # data rows, so the tree costs O(levels · partials · d²) network.
    width = src.rdd.getNumPartitions()
    while width > fanin:
        width = max(1, math.ceil(width / fanin))
        moments = moments.repartition(width).mapInPandas(
            _combine_moments, _MOMENT_SCHEMA
        )
    return moments.collect()


def pca_fit(df: DataFrame, vec_col: str, k: int):
    """Fit exact PCA over an embedding column in one distributed pass.

    Returns (components, mean, explained_variance_ratio): ``components``
    is a (k, d) numpy array of orthonormal principal axes (sign
    canonicalized: largest-|loading| coordinate positive, so results
    don't flip between runs/eig backends), ``mean`` the column mean,
    ratios the fraction of total variance per component.
    """
    import numpy as np

    rows = collect_moments(df, vec_col)
    if not rows:
        raise ValueError("pca_fit: no vectors")
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["s"])
    s = np.zeros(d)
    xtx = np.zeros((d, d))
    for r in rows:
        s += np.array(r["s"])
        xtx += np.array(r["xtx"]).reshape(d, d)
    mean = s / n
    cov = (xtx - n * np.outer(mean, mean)) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    for i in range(comps.shape[0]):  # sign canonicalization
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(evals.sum()) or 1.0
    ratio = np.maximum(evals[order], 0.0) / total
    return comps, mean, ratio


def pca_project(
    df: DataFrame,
    vec_col: str,
    components,
    mean,
    out_col: str = "pca",
) -> DataFrame:
    """Project onto fitted components: (x - mean) @ components.T as one
    numpy matmul per Arrow batch."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    comps = np.asarray(components, dtype="float64")
    mu = np.asarray(mean, dtype="float64")

    @pandas_udf("array<double>")
    def _proj(vecs: pd.Series) -> pd.Series:
        return _null_safe_matmul(vecs, lambda X: (X - mu) @ comps.T)

    return df.withColumn(out_col, _proj(F.col(vec_col)))


def twonn_dimension(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor_stride: int = 7,
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of an embedding space
    (Facco et al. 2017, Sci. Rep. 7:12140): for each anchor point the
    ratio mu = r2/r1 of its two nearest-neighbor EUCLIDEAN distances
    follows a Pareto(d) law; the MLE is d = m / sum(ln mu).  The
    standard "how curved/compressed is this representation really"
    read before choosing projection widths (:func:`random_project`,
    :func:`pca_fit`) or LSH bandings.

    Scale shape: the estimator only needs a SAMPLE of anchors
    (deterministic ``id % anchor_stride == 0`` — seed-free and
    oracle-reproducible); anchors broadcast against the full corpus,
    distances via the same in-order double accumulation everywhere
    (d² = |q|² + |c|² - 2 q·c), per-anchor top-2 via window.
    Coincident points (d² = 0) are excluded per the paper's
    convention.  Corpus side streams once — no pairwise |N|² blowup.

    Returns one row: ``(n_anchors, n_used, id_mle, mean_mu)``;
    ``n_used`` drops anchors lacking two distinct-position neighbors.
    """
    if anchor_stride < 1:
        raise ValueError(f"anchor_stride must be >= 1, got {anchor_stride}")
    sq = _sq_norm
    anchors = df.where(F.pmod(F.col(id_col), F.lit(anchor_stride)) == 0)
    n_anchors = F.broadcast(
        anchors.agg(F.count(F.lit(1)).alias("n_anchors")),
    )
    q = anchors.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).alias("__qv"),
        sq(vec_col).alias("__q2"),
    )
    corpus = df.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        sq(vec_col).alias("__c2"),
    )
    dot = F.aggregate(
        F.zip_with("__qv", "__cv", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    d2 = F.col("__q2") + F.col("__c2") - 2 * dot
    scored = (
        corpus.join(F.broadcast(q), F.col("__cid") != F.col("__qid"))
        .select("__qid", "__cid", d2.alias("__d2"))
        .where(F.col("__d2") > 0)
    )
    w = W.partitionBy("__qid").orderBy(
        F.col("__d2").asc(), F.col("__cid").asc(),
    )
    top2 = scored.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= 2,
    )
    mu_rows = (
        top2.groupBy("__qid")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.max(F.when(F.col("__rn") == 1, F.col("__d2"))).alias("__r1"),
            F.max(F.when(F.col("__rn") == 2, F.col("__d2"))).alias("__r2"),
        )
        .where((F.col("__cnt") == 2) & (F.col("__r1") > 0))
        .select(F.sqrt(F.col("__r2") / F.col("__r1")).alias("__mu"))
    )
    est = mu_rows.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.sum(F.log("__mu")).alias("__lsum"),
        F.avg("__mu").alias("mean_mu"),
    ).select(
        "n_used",
        # ANSI-safe: all-duplicate corpora drive sum(ln mu) to 0
        F.when(
            F.col("__lsum") > 0, F.col("n_used") / F.col("__lsum"),
        ).alias("id_mle"),
        "mean_mu",
    )
    return est.crossJoin(n_anchors).select(
        F.col("n_anchors").cast("long").alias("n_anchors"),
        "n_used", "id_mle", "mean_mu",
    )


def _sq_norm(vec_col):
    return F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v * v,
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    out_col: str = "q",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column:
    ``scale = max|x| / 127``, ``q_i = round(x_i / scale)`` — the
    standard storage/ANN-speed trade (4x smaller than float32, inner
    products survive to ~1% for unit-norm vectors).

    Pure column expressions (transform/aggregate over the array) — no
    UDF, no shuffle; quantization error is reported per vector so a
    pipeline can gate on it.  All-zero/null vectors get a null scale
    and null codes rather than a divide-by-zero.

    Returns ``(id, scale, q array<int>, max_abs_err)`` where
    ``max_abs_err = max_i |x_i - q_i * scale|`` (bounded by scale/2).
    """
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(max_abs > 0, max_abs / F.lit(127.0))
    q = F.transform(
        v, lambda x: F.round(x.cast("double") / scale).cast("int"),
    )
    err = F.array_max(
        F.zip_with(
            v, q,
            lambda x, qq: F.abs(x.cast("double") - qq.cast("double") * scale),
        ),
    )
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.when(scale.isNotNull(), q).alias(out_col),
        F.when(scale.isNotNull(), err).alias("max_abs_err"),
    )


def embedding_health_report(df: DataFrame, vec_col: str) -> DataFrame:
    """Pre-flight health check for an embedding column — the audit that
    runs BEFORE any ANN/dedup/quantization job commits cluster time:
    row counts by defect class (NULL vector, empty, NaN/Inf components,
    all-zero norm), dimension consistency (distinct lengths + the modal
    dimension), and L2-norm moments/extremes over the healthy rows
    (collapsed or exploding norms break cosine retrieval silently).

    ONE aggregation of pure array expressions; returns one row.
    """
    v = F.col(vec_col)
    has_bad = F.exists(
        v, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) > F.lit(1e300)),
    )
    sq = F.aggregate(
        v, F.lit(0.0), lambda a, x: a + x.cast("double") * x,
    )
    norm = F.sqrt(sq)
    healthy = v.isNotNull() & (F.size(v) > 0) & ~has_bad
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v.isNull().cast("long")).alias("n_null"),
        F.sum((v.isNotNull() & (F.size(v) == 0)).cast("long"))
        .alias("n_empty"),
        F.sum(F.when(v.isNotNull() & has_bad, 1).otherwise(0))
        .cast("long").alias("n_nonfinite"),
        F.sum(
            F.when(healthy & (sq == 0.0), 1).otherwise(0),
        ).cast("long").alias("n_zero_norm"),
        F.count_distinct(F.when(v.isNotNull(), F.size(v)))
        .cast("long").alias("n_dims"),
        F.mode(F.when(v.isNotNull(), F.size(v))).alias("modal_dim"),
        F.min(F.when(healthy, norm)).alias("norm_min"),
        F.max(F.when(healthy, norm)).alias("norm_max"),
        F.avg(F.when(healthy, norm)).alias("norm_avg"),
    )


def matryoshka_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims,
    n_pairs_mod: int = 20,
    sample_expr=None,
) -> DataFrame:
    """How much cosine structure survives truncating embeddings to each
    prefix length in ``dims`` — the go/no-go number for Matryoshka-style
    dimension cuts (Kusupati et al. 2022) before switching ANN/dedup to
    a cheaper prefix.  For a deterministic hash-sample of vector pairs
    (both ids hash to 0 mod ``n_pairs_mod``; consecutive ranks pair up,
    so the sample needs no self-join over the corpus), reports per
    prefix length: mean |cos_full - cos_prefix|, the worst pair, and
    the mean signed bias.

    Shape: the sampled rows get a range-partitioned global row number
    (``rank.global_row_number`` — no single-reducer window) and pair
    with their predecessor via ONE keyed self-join on ``i = i - 1``,
    the same consecutive-pairing shape as ``wasserstein_1d``; each
    prefix cosine is a pure slice + aggregate expression; the rollup is
    one aggregation.  Sampling is hash-derived (reproducible); pass a
    larger ``n_pairs_mod`` to shrink the sample at bigger corpora, or
    ``sample_expr`` (an ``id_column -> boolean Column``) to replace the
    xxhash64 predicate with one another engine can replay.
    """
    from woodwork_spark.lifecycle import persisted_frames, release
    from woodwork_spark.operators.rank import global_row_number

    dims = [int(d) for d in dims]
    if not dims or any(d < 1 for d in dims):
        raise ValueError("dims must be positive prefix lengths")
    v = F.col(vec_col)
    if sample_expr is None:
        def sample_expr(idc):
            return F.pmod(
                F.xxhash64(idc), F.lit(int(n_pairs_mod)),
            ) == 0
    sampled = df.filter(
        v.isNotNull() & sample_expr(F.col(id_col)),
    ).select(F.col(id_col).alias("__id"), v.alias("__v"))
    ranked = global_row_number(sampled, [F.asc("__id")], out_col="__i")
    cur = ranked.select("__i", "__v")
    prv = ranked.select(
        (F.col("__i") + 1).alias("__i"), F.col("__v").alias("__pv"),
    )
    pairs = cur.join(prv, "__i")

    def dot(a, b, d=None):
        aa = F.slice(a, 1, d) if d else a
        bb = F.slice(b, 1, d) if d else b
        return F.aggregate(
            F.zip_with(aa, bb, lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )

    def cos(a, b, d=None):
        return dot(a, b, d) / F.sqrt(
            dot(a, a, d) * dot(b, b, d),
        )

    full = cos(F.col("__v"), F.col("__pv"))
    scored = pairs.select(
        *[
            (cos(F.col("__v"), F.col("__pv"), d) - full).alias(f"__e{d}")
            for d in dims
        ],
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_pairs")]
    rows = []
    g = scored.agg(
        *aggs,
        *[
            a
            for d in dims
            for a in (
                F.avg(F.abs(F.col(f"__e{d}"))).alias(f"__mae{d}"),
                F.max(F.abs(F.col(f"__e{d}"))).alias(f"__max{d}"),
                F.avg(F.col(f"__e{d}")).alias(f"__bias{d}"),
            )
        ],
    )
    parts = [
        F.struct(
            F.lit(d).alias("dim"),
            F.col(f"__mae{d}").alias("mae"),
            F.col(f"__max{d}").alias("max_err"),
            F.col(f"__bias{d}").alias("bias"),
        )
        for d in dims
    ]
    out = g.select(
        "n_pairs", F.inline(F.array(*parts)),
    )
    from woodwork_spark.lifecycle import attach_persisted

    return attach_persisted(out, *persisted_frames(ranked))


def pq_codes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int = 4,
    k: int = 8,
    iterations: int = 2,
    quantize: int = 6,
) -> DataFrame:
    """Product quantization: split each vector into ``n_subspaces``
    contiguous subvectors, k-means each subspace independently, and
    code every vector as its per-subspace nearest-centroid ids — the
    standard ANN compression (a d-float vector becomes n_subspaces
    bytes; at 100 TB of embeddings this is the difference between
    spilling and RAM-resident search).

    Training mirrors :func:`~woodwork_spark.operators.similarity.
    kmeans_lloyd` exactly, with (subspace) as a compound key so ALL
    subspaces train in the same jobs: assignment is one crossJoin of
    the exploded (id, sub, subvec) frame against the broadcast
    (sub, cid, centroid) frame (equi-join on sub), dot-form distances,
    struct-min argmin (ties -> lowest cid); update is one (sub, cid,
    dim) aggregate whose n_subspaces*k*d_sub partial sums collect to
    the driver and QUANTIZE to ``quantize`` decimals so any engine
    replays the identical trajectory.  Seeding: vectors with
    ``id < k`` provide the initial centroids (deterministic, same rows
    on any engine).  Empty clusters keep their previous centroid.

    Returns ``(id_col, code_str, recon_err)``: the '|'-joined
    per-subspace codes and the total squared reconstruction error.
    Vector length must be divisible by ``n_subspaces``.
    """
    cents, pts = _pq_train(
        df, id_col, vec_col, n_subspaces, k, iterations, quantize,
        who="pq_codes",
    )
    final = _pq_assign(pts, cents)
    eps = 1e-7
    out = final.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__sub", "__cid")),
                ),
                lambda st: st["__cid"].cast("string"),
            ),
            "|",
        ).alias("code_str"),
        F.round(F.sum("__d") + eps, quantize).alias("recon_err"),
    ).select(F.col("__id").alias(id_col), "code_str", "recon_err")
    from woodwork_spark.lifecycle import attach_persisted

    return attach_persisted(out, pts)


def pq_search(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: dict,
    n_subspaces: int = 4,
    k: int = 8,
    iterations: int = 2,
    top_k: int = 5,
    quantize: int = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) nearest-neighbor search over product-
    quantized codes — the query path that makes :func:`pq_codes` an ANN
    index: each query precomputes a tiny lookup table of distances to
    every sub-centroid (n_subspaces x k floats), and scoring a coded
    vector is n_subspaces table lookups + a fixed-order sum.  No
    full-vector distance is ever computed against the corpus — at
    100 TB the scan touches only the byte codes.

    Training runs the deterministic :func:`pq_codes` trajectory ONCE
    (quantized centroid updates, id < k seeding — the shared
    :func:`_pq_train`), and both the scanned codes and the LUT
    centroids come from that single pass.  The LUT is computed
    driver-side from the literal query vectors (dot-form, then
    QUANTIZED to ``quantize`` decimals like the centroids, so an
    external SQL replay that sums dot products in any order lands on
    the same table), embedded as array literals, and the score is the
    LEFT-TO-RIGHT sum ``lut0[c0] + lut1[c1] + ...`` — a fixed-order
    expression, immune to aggregation-order noise.  Top-``top_k`` per
    query by (score, id).

    ``queries`` maps query_id -> list[float] (full-dimension vectors).
    Returns ``(query_id, id_col, approx_dist, rank)``.
    """
    eps = 1e-7
    # ONE training pass feeds both sides — the byte codes the ADC scan
    # reads and the centroid dict the LUTs are built from — so the two
    # can never drift and the per-iteration assignment joins + driver
    # collects run once, not twice
    cents, pts = _pq_train(
        df, id_col, vec_col, n_subspaces, k, iterations, quantize,
        who="pq_search",
    )
    from woodwork_spark.lifecycle import attach_persisted

    codes = (
        _pq_assign(pts, cents)
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__sub", "__cid"))),
                lambda st: st["__cid"],
            ).alias("__cs"),
        )
        .select(F.col("__id").alias(id_col), "__cs")
    )
    d = len(next(iter(queries.values())))
    dsub = d // n_subspaces
    rows = []
    for qid, qv in sorted(queries.items()):
        if len(qv) != d:
            raise ValueError(f"query {qid!r} has wrong dimension")
        for s in range(n_subspaces):
            qs = [float(x) for x in qv[s * dsub:(s + 1) * dsub]]
            qq = 0.0
            for x in qs:
                qq += x * x
            lut = []
            for c in range(k):
                cv = cents[(s, c)]
                cc = 0.0
                qc = 0.0
                for a, b in zip(qs, cv):
                    qc += a * b
                for b in cv:
                    cc += b * b
                lut.append(round(qq + cc - 2.0 * qc + eps, quantize))
            rows.append((qid, s, lut))
    # score expression: fixed-order sum of per-subspace array lookups
    out_frames = []
    for qid in sorted(queries):
        luts = {s: lut for q, s, lut in rows if q == qid}
        score = None
        for s in range(n_subspaces):
            arr = F.array(*[F.lit(x) for x in luts[s]])
            term = F.element_at(
                arr, F.col("__cs").getItem(s).cast("int") + 1,
            )
            score = term if score is None else score + term
        out_frames.append(
            codes.select(
                F.lit(qid).alias("query_id"),
                F.col(id_col),
                F.round(score + eps, quantize).alias("approx_dist"),
            ),
        )
    allq = out_frames[0]
    for fr in out_frames[1:]:
        allq = allq.unionByName(fr)
    w = W.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc(id_col),
    )
    out = (
        allq.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
    )
    return attach_persisted(out, pts)


def _pq_explode(df: DataFrame, id_col, vec_col, n_subspaces, d: int = None):
    """Explode vectors into the persisted (id, sub, subvec, ||subvec||²)
    training frame shared by every PQ path.  Returns ``(pts, dsub)``.
    Pass ``d`` when the caller already knows the dimension to skip the
    probe job."""
    from woodwork_spark.operators.similarity import _dot

    if d is None:
        first = df.select(F.size(vec_col)).first()
        d = int(first[0]) if first else 0
    if d == 0 or d % n_subspaces != 0:
        raise ValueError(
            f"pq: vector length {d} not divisible by "
            f"{n_subspaces} subspaces",
        )
    dsub = d // n_subspaces
    vec = F.col(vec_col).cast("array<double>")
    subs = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            F.slice(vec, s * dsub + 1, dsub).alias("sv"),
        )
        for s in range(n_subspaces)
    ])
    pts = (
        df.where(F.col(id_col).isNotNull() & vec.isNotNull())
        .select(F.col(id_col).alias("__id"), F.explode(subs).alias("p"))
        .select("__id", F.col("p.sub").alias("__sub"),
                F.col("p.sv").alias("__v"))
        .withColumn("__vv", _dot(F.col("__v"), F.col("__v")))
        .persist()
    )
    return pts, dsub


def _pq_assign(pts: DataFrame, cents: dict) -> DataFrame:
    """Nearest-sub-centroid assignment: one broadcast equi-join on the
    subspace id, dot-form distances, struct-min argmin (ties -> lowest
    cid).  Returns ``(__id, __sub, __cid, __d)``."""
    from woodwork_spark.operators.similarity import _dot

    spark = pts.sparkSession
    cf = local_rows_df(spark, 
        [
            (s, c, v, sum(x * x for x in v))
            for (s, c), v in sorted(cents.items())
        ],
        "__sub int, __cid int, __c array<double>, __cc double",
    )
    dist = (
        F.col("__vv") + F.col("__cc")
        - 2.0 * _dot(F.col("__v"), F.col("__c"))
    )
    return (
        pts.join(F.broadcast(cf), "__sub")
        .withColumn("__d", dist)
        .groupBy("__id", "__sub")
        .agg(
            F.min(F.struct(F.col("__d"), F.col("__cid"))).alias("__m"),
        )
        .select(
            "__id", "__sub",
            F.col("__m.__cid").alias("__cid"),
            F.col("__m.__d").alias("__d"),
        )
    )


def _pq_train_local(sub_rows: dict, k: int, iterations: int,
                    quantize: int, who: str):
    """Driver-local PQ training over BOUNDED collected subvectors —
    per-subspace :func:`~woodwork_spark.operators.similarity.
    _lloyd_local` with the PQ conventions (id < k seeding, fixed
    ``eps = 1e-7`` mean shift, empty clusters keep their centroid).
    ``sub_rows`` maps subspace -> [(id, [float, ...])] sorted by id.
    Subspaces train independently in both formulations, so replaying
    them one by one is the same trajectory the single batched
    distributed job walks."""
    from woodwork_spark.operators.similarity import _lloyd_local

    cents: dict = {}
    for s, rows in sorted(sub_rows.items()):
        init = {int(i): v for i, v in rows if i < k}
        if len(init) < k:
            raise ValueError(f"{who}: seeding needs ids 0..k-1 present")
        trained = _lloyd_local(
            rows, sorted(init.items()), iterations, quantize, shift=1e-7,
        )
        for c, v in trained:
            cents[(s, c)] = v
    return cents


def _pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int,
    k: int,
    iterations: int,
    quantize: int,
    who: str = "pq",
    d: int = None,
):
    """The single PQ k-means training pass shared by :func:`pq_codes`,
    :func:`pq_search` and :func:`ivf_pq_search` — id < k seeding,
    quantized centroid means, empty clusters keep their previous
    centroid.  Returns ``(cents, pts)``: the final {(sub, cid):
    [floats]} centroid dict and the still-persisted exploded training
    frame (the caller owns its lifecycle via ``attach_persisted``).

    Bounded inputs train DRIVER-LOCALLY (same quantized trajectory,
    see :func:`_pq_train_local`): one bounded collect through the pts
    cache replaces the seeding collect plus one assignment+update job
    per iteration.  Above :data:`~woodwork_spark.io.LOCAL_MAX_CELLS`
    (source rows x (d + 3 x n_subspaces) cells), or for a subvector
    that is not d_sub finite numbers, the distributed loop below runs
    unchanged — the 100 TB regime never collects."""
    from woodwork_spark.operators.similarity import _bounded_vectors

    if n_subspaces < 1 or k < 2 or iterations < 0:
        raise ValueError(f"{who}: bad n_subspaces/k/iterations")
    pts, dsub = _pq_explode(df, id_col, vec_col, n_subspaces, d=d)
    local = _bounded_vectors(pts, dsub, keys=("__sub", "__id"))
    if local is not None:
        sub_rows = {s: [] for s in range(n_subspaces)}
        for s, i, v in local:
            sub_rows[s].append((i, v))
        return _pq_train_local(
            sub_rows, k, iterations, quantize, who,
        ), pts
    init_rows = (
        pts.where(F.col("__id") < k)
        .select("__sub", F.col("__id").cast("int").alias("__cid"), "__v")
        .collect()
    )
    cents = {(r["__sub"], r["__cid"]): list(r["__v"]) for r in init_rows}
    if len(cents) < n_subspaces * k:
        raise ValueError(f"{who}: seeding needs ids 0..k-1 present")
    eps = 1e-7
    for _ in range(int(iterations)):
        a = _pq_assign(pts, cents)
        sums = (
            a.join(pts, ["__id", "__sub"])
            .select(
                "__sub", "__cid",
                F.posexplode("__v").alias("__pos", "__x"),
            )
            .groupBy("__sub", "__cid", "__pos")
            .agg(F.avg("__x").alias("__mean"))
            .collect()
        )
        new = {}
        for r in sums:
            new.setdefault((r["__sub"], r["__cid"]), [0.0] * dsub)[
                r["__pos"]
            ] = round(r["__mean"] + eps, quantize)
        for key, v in cents.items():
            if key not in new:
                new[key] = v  # empty cluster keeps its centroid
        cents = new
    return cents, pts


def ivf_pq_search(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: dict,
    nlist: int = 4,
    n_probe: int = 2,
    n_subspaces: int = 4,
    k: int = 8,
    coarse_iterations: int = 1,
    pq_iterations: int = 1,
    top_k: int = 5,
    quantize: int = 6,
    rerank_k: int = 0,
) -> DataFrame:
    """IVF-PQ: the actual 100-TB-shape ANN index — a coarse inverted
    file prunes the scan to ``n_probe`` of ``nlist`` cells, and within
    the probed cells the asymmetric-distance LUT scan of
    :func:`pq_search` runs over byte codes of the RESIDUALS (vector
    minus its coarse centroid, the FAISS ``IVFPQ by_residual``
    formulation with one shared codebook): scan cost drops by
    ~``n_probe / nlist`` on top of PQ's byte-per-subspace compression,
    and residual quantization is finer than raw-vector quantization
    because residual norms are a fraction of vector norms.

    Deterministic trajectory, replayable by an external engine:

    - coarse quantizer: :func:`~woodwork_spark.operators.similarity.
      kmeans_lloyd` seeded from vectors with ``id < nlist``, quantized
      mean updates;
    - PQ codebook: :func:`_pq_train` on the residual frame, seeded
      from residuals with ``id < k``, quantized updates;
    - query path: coarse probing picks the ``n_probe`` cells by
      (rounded distance, cell id); per probed cell the query RESIDUAL
      builds the n_subspaces x k LUT driver-side from the literal
      centroids (rounded like :func:`pq_search`), and the cell's codes
      score with the fixed-order lookup sum.

    While the corpus fits :data:`~woodwork_spark.io.LOCAL_MAX_CELLS`
    (rows x (d + 2) cells) with finite d-vectors, both quantizers train
    on the driver from one bounded collect, along the same trajectory;
    above it every training round runs as Spark jobs.

    ``queries`` maps query_id -> full-dimension list[float].  Returns
    ``(query_id, id_col, cluster, approx_dist, rank)`` — top ``top_k``
    per query by (approx_dist, id) over the probed cells only.

    ``rerank_k > 0`` adds the standard two-stage exact RE-RANKING that
    lifts PQ's quantization recall ceiling at negligible cost: the top
    ``rerank_k`` candidates per query by LUT distance broadcast-join
    back to the raw vectors (a candidate-sized join — queries x
    rerank_k rows against the scan) and re-score with the exact
    squared distance; the final top ``top_k`` sorts by (exact, id) and
    the output gains an ``exact_dist`` column after ``approx_dist``.
    """
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames
    from woodwork_spark.operators.scale import local_rows_df
    from woodwork_spark.operators.similarity import (
        _bounded_vectors,
        _lloyd_assign_local,
        _lloyd_local,
        kmeans_lloyd,
    )

    if not queries:
        raise ValueError("ivf_pq_search: queries are required")
    if not (1 <= n_probe <= nlist):
        raise ValueError("need 1 <= n_probe <= nlist")
    eps = 1e-7
    # --- coarse quantizer (deterministic id < nlist seeding) ---------
    seed_rows = (
        df.where(F.col(id_col) < nlist)
        .select(F.col(id_col).cast("int"), vec_col)
        .collect()
    )
    if len(seed_rows) < nlist:
        raise ValueError("ivf_pq_search: seeding needs ids 0..nlist-1")
    init = [(int(r[0]), [float(x) for x in r[1]]) for r in seed_rows]
    d = len(init[0][1])
    fv = F.col(vec_col).cast("array<double>")
    # Bounded driver-local TRAINING fast path (round-13 verdict #6,
    # guide §1.2 step 1): the whole training state is nlist + Sxk tiny
    # centroid vectors, but walking it through Spark costs ~6 actions
    # (seed/init collects, one assignment+update job per Lloyd/PQ
    # round, a d-probe) each with its own Catalyst analysis gap —
    # measured as the bulk of the query's wall at bench scale.  When
    # the corpus fits the driver bound, ONE bounded collect feeds the
    # identical quantized trajectory locally (bit-identical dot folds;
    # see similarity._lloyd_local), the coarse ASSIGNMENT ships back
    # as a broadcast local frame (no shuffle of the vectors, where the
    # distributed path joins the full-width table by id), and the code
    # table + every query branch below stay distributed.  Above
    # io.LOCAL_MAX_CELLS (rows x (d + 2) cells) the established
    # distributed path runs unchanged.
    base = df.where(F.col(id_col).isNotNull() & fv.isNotNull()).select(
        F.col(id_col).alias("__id"), fv.alias("__v"),
    )
    local = _bounded_vectors(base, d)
    caches = []
    if local is not None:
        coarse = _lloyd_local(local, init, coarse_iterations, quantize)
        cmap = {int(c): [float(x) for x in v] for c, v in coarse}
        asg = _lloyd_assign_local(local, coarse)
        cmap_sorted = sorted(cmap)
        # residuals locally, elementwise a - b like the zip_with
        resid_by_id = {
            rid: [a - b for a, b in zip(vals, cmap[cl])]
            for (rid, vals), (_, cl, _d) in zip(local, asg)
        }
        sub_rows = {
            s: [
                (rid, rv[s * (d // n_subspaces):(s + 1) * (d // n_subspaces)])
                for rid, rv in sorted(resid_by_id.items())
            ]
            for s in range(n_subspaces)
        }
        cents = _pq_train_local(
            sub_rows, k, pq_iterations, quantize, who="ivf_pq_search",
        )
        id_field = base.schema["__id"]
        from pyspark.sql import types as T

        asg_df = local_rows_df(
            df.sparkSession,
            [(rid, int(cl)) for rid, cl, _d in asg],
            schema=T.StructType([
                T.StructField(id_col, id_field.dataType),
                T.StructField("cluster", T.IntegerType()),
            ]),
        )
        cent_arr = F.array(*[
            F.lit(cmap[c]).cast("array<double>") for c in cmap_sorted
        ])
        resid = F.zip_with(
            F.col("__fv"), F.element_at(cent_arr, F.col("cluster") + 1),
            lambda a, b: a - b,
        )
        rdf = (
            df.select(F.col(id_col), fv.alias("__fv"))
            .join(F.broadcast(asg_df), id_col)
            .select(id_col, "cluster", resid.alias("__resv"))
        )
        pts, _dsub = _pq_explode(rdf, id_col, "__resv", n_subspaces, d=d)
        caches.append(pts)
    else:
        assigned, coarse = kmeans_lloyd(
            df, id_col, vec_col, init, iterations=coarse_iterations,
            quantize=quantize, return_centroids=True,
        )
        caches = list(persisted_frames(assigned))
        cmap = {int(c): [float(x) for x in v] for c, v in coarse}
        # --- residual frame: v - centroid[cluster] --------------------
        cent_arr = F.array(*[
            F.lit(cmap[c]).cast("array<double>") for c in sorted(cmap)
        ])
        resid = F.zip_with(
            F.col("__fv"), F.element_at(cent_arr, F.col("cluster") + 1),
            lambda a, b: a - b,
        )
        rdf = (
            df.select(
                F.col(id_col),
                F.col(vec_col).cast("array<double>").alias("__fv"),
            )
            .join(assigned.select(id_col, "cluster"), id_col)
            .select(id_col, "cluster", resid.alias("__resv"))
        )
        # --- shared PQ codebook on residuals --------------------------
        cents, pts = _pq_train(
            rdf, id_col, "__resv", n_subspaces, k, pq_iterations,
            quantize, who="ivf_pq_search",
        )
        caches.append(pts)
    codes = (
        _pq_assign(pts, cents)
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__sub", "__cid"))),
                lambda st: st["__cid"],
            ).alias("__cs"),
        )
        .select(F.col("__id").alias(id_col), "__cs")
        .join(rdf.select(id_col, "cluster"), id_col)
        # every (query, probed cell) branch below scans this frame —
        # without the persist each branch re-runs the PQ assignment
        # join AND the coarse k-means assignment feeding the residuals
        .persist()
    )
    caches.append(codes)
    dsub = d // n_subspaces
    # --- query path: probe cells, per-cell residual LUTs --------------
    out_frames = []
    for qid in sorted(queries):
        qv = [float(x) for x in queries[qid]]
        if len(qv) != d:
            raise ValueError(f"query {qid!r} has wrong dimension")
        # coarse probe: nearest n_probe cells by (rounded dist, cid)
        cd = []
        for c in sorted(cmap):
            cv = cmap[c]
            dist = 0.0
            for a, b in zip(qv, cv):
                dist += (a - b) * (a - b)
            cd.append((round(dist + eps, quantize), c))
        cd.sort()
        probe = [c for _, c in cd[:n_probe]]
        for cell in probe:
            cv = cmap[cell]
            qr = [a - b for a, b in zip(qv, cv)]
            score = None
            for s in range(n_subspaces):
                qs = qr[s * dsub:(s + 1) * dsub]
                qq = 0.0
                for x in qs:
                    qq += x * x
                lut = []
                for cid in range(k):
                    pv = cents[(s, cid)]
                    cc = 0.0
                    qc = 0.0
                    for a, b in zip(qs, pv):
                        qc += a * b
                    for b in pv:
                        cc += b * b
                    lut.append(round(qq + cc - 2.0 * qc + eps, quantize))
                arr = F.array(*[F.lit(x) for x in lut])
                term = F.element_at(
                    arr, F.col("__cs").getItem(s).cast("int") + 1,
                )
                score = term if score is None else score + term
            out_frames.append(
                codes.filter(F.col("cluster") == cell).select(
                    F.lit(qid).alias("query_id"),
                    F.col(id_col),
                    F.col("cluster"),
                    F.round(score + eps, quantize).alias("approx_dist"),
                ),
            )
    allq = out_frames[0]
    for fr in out_frames[1:]:
        allq = allq.unionByName(fr)
    w = W.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc(id_col),
    )
    if not rerank_k:
        out = (
            allq.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= top_k)
        )
        return attach_persisted(out, *caches)
    if rerank_k < top_k:
        raise ValueError("rerank_k must be >= top_k (or 0 to disable)")
    cands = (
        allq.withColumn("__arank", F.row_number().over(w))
        .filter(F.col("__arank") <= rerank_k)
        .drop("__arank")
    )
    qmap = F.map_from_arrays(
        F.array(*[F.lit(q) for q in sorted(queries)]),
        F.array(*[
            F.lit([float(x) for x in queries[q]]).cast("array<double>")
            for q in sorted(queries)
        ]),
    )
    fullv = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__fv"),
    )
    exact = F.aggregate(
        F.zip_with(
            F.col("__fv"), qmap[F.col("query_id")],
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    wex = W.partitionBy("query_id").orderBy(
        F.asc("exact_dist"), F.asc(id_col),
    )
    out = (
        fullv.join(F.broadcast(cands), id_col)
        .withColumn("exact_dist", F.round(exact + F.lit(eps), quantize))
        .withColumn("rank", F.row_number().over(wex).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id", id_col, "cluster", "approx_dist", "exact_dist",
            "rank",
        )
    )
    return attach_persisted(out, *caches)
