"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; IVF (inverted-file)
probing as the scale path.  All vector math is JVM-side array
expressions (zip_with + aggregate) inside whole-stage codegen — no
Python in the hot loop.

Scale notes (100 TB): brute force is O(N·Q) dot products but embarrassingly
parallel with only a top-k shuffle of k·Q tiny rows; IVF cuts the scan to
nprobe/nlist of the data by pre-assigning every vector to its nearest
k-means centroid (trained on a bounded sample; assignment is a one-time
projection; centroids are a broadcast literal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from woodwork_spark.operators.scale import local_rows_df


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = None,
    query_vec_col: str = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the (small) query set,
    one pass over the corpus, per-query top-k via window.

    Returns (query_id, vec_id, cosine, rank) with deterministic
    tie-breaking (cosine desc, vec_id asc).
    """
    query_id_col = query_id_col or id_col
    query_vec_col = query_vec_col or vec_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qv"),
        _norm(F.col(query_vec_col)).alias("__qn"),
    )
    corpus = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    joined = corpus.join(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col(id_col))
    scored = joined.select(
        "query_id",
        id_col,
        (_dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))).alias(
            "cosine",
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _kmeans_centroids(X, nlist: int, seed: int, iterations: int):
    """k-means++ init + Lloyd iterations on the (bounded, driver-side)
    training sample.  numpy-only: for the default 10k x d sample this is
    milliseconds, and it avoids one full-table Spark scan per Lloyd
    iteration — at 100 TB the train sample is the only extra read."""
    import numpy as np

    n = X.shape[0]
    nlist = min(nlist, n)
    rng = np.random.default_rng(seed)
    # k-means++ seeding: spread seeds by squared-distance weighting.
    # A running min-distance vector updated against only the newest
    # center keeps seeding at O(n*d) per center — the (n, k, d)
    # broadcast temporary would be tens of GB for large nlist samples.
    x2 = (X**2).sum(1)
    centers = [X[rng.integers(n)]]
    c = centers[0]
    dmin = x2 + (c**2).sum() - 2.0 * (X @ c)
    for _ in range(nlist - 1):
        np.maximum(dmin, 0.0, out=dmin)
        total = dmin.sum()
        if total <= 0:
            nxt = X[rng.integers(n)]
        else:
            nxt = X[rng.choice(n, p=dmin / total)]
        centers.append(nxt)
        d_new = x2 + (nxt**2).sum() - 2.0 * (X @ nxt)
        np.minimum(dmin, d_new, out=dmin)
    C = np.array(centers, dtype="float64")
    for _ in range(iterations):
        # |x-c|^2 = |x|^2 + |c|^2 - 2 x.c  (no n*k*d temporary)
        d2 = x2[:, None] + (C**2).sum(1)[None, :] - 2.0 * (X @ C.T)
        lbl = d2.argmin(1)
        for j in range(nlist):
            members = X[lbl == j]
            if len(members):
                C[j] = members.mean(0)
    return [[float(v) for v in c] for c in C]


def ivf_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
    iterations: int = 5,
    train_sample: int = 10_000,
    sample_mode: str = "random",
    known_count: int | None = None,
) -> tuple[DataFrame, list]:
    """Build an IVF index: train centroids with k-means++/Lloyd on a
    bounded sample, then assign every vector to its nearest centroid in
    ONE projection (centroids are broadcast literals).  Returns the
    assigned DataFrame (extra ``__cluster`` column) + the centroid list.

    sample_mode:
    - "random" (default): seeded random sample (count + sampled scan) —
      unbiased even when the table is clustered by source, the normal
      parquet layout, so centroids model the tail distribution too.
    - "head": ``limit(train_sample)`` — cheapest scan at 100 TB, but
      head rows only: on source-sorted data centroids model only the
      head and tail-cluster recall degrades.

    ``known_count``: callers that already know (or have counted) the
    table size pass it here so random-sample training skips the extra
    full count scan — the same 100 TB calling convention as
    ``rank._probe_small(known_count=...)``.

    Training collects at most ``train_sample`` vectors (10k x d doubles
    — a few MB on the driver); assignment is one full scan."""
    import numpy as np

    src = df.select(vec_col)
    if sample_mode == "random":
        total = known_count if known_count is not None else src.count()
        if total > train_sample:
            fraction = min(1.0, train_sample / total * 1.2)
            src = src.sample(withReplacement=False, fraction=fraction, seed=seed)
    rows = src.limit(train_sample).collect()
    X = np.array([[float(x) for x in r[vec_col]] for r in rows], dtype="float64")
    if X.shape[0] == 0:
        raise ValueError("ivf_index: empty input")
    centroids = _kmeans_centroids(X, nlist, seed, iterations)
    cents = F.array(
        *[F.lit(c).cast("array<double>") for c in centroids],
    )
    v = F.col(vec_col)
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    assigned = df.withColumn(
        "__cluster",
        F.array_position(dists, F.array_min(dists)) - 1,
    )
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = None,
    query_vec_col: str = None,
) -> DataFrame:
    """Approximate top-k: each query probes its ``nprobe`` nearest
    centroids and scans only those clusters (cluster-pruned join), then
    exact cosine + window top-k on the surviving candidates."""
    import numpy as np

    query_id_col = query_id_col or id_col
    query_vec_col = query_vec_col or vec_col
    cent = np.array(centroids)
    qrows = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qv"),
    ).collect()
    probe_rows = []
    for r in qrows:
        qv = np.array([float(x) for x in r["__qv"]])
        d = ((cent - qv) ** 2).sum(axis=1)
        for c in np.argsort(d)[:nprobe]:
            probe_rows.append((r["query_id"], [float(x) for x in qv], int(c)))
    spark = assigned.sparkSession
    probes = local_rows_df(spark, 
        probe_rows, schema="query_id long, __qv array<double>, __cluster long",
    )
    joined = assigned.join(
        F.broadcast(probes), "__cluster",
    ).filter(F.col("query_id") != F.col(id_col))
    scored = joined.select(
        "query_id",
        id_col,
        (
            _dot(F.col("__qv"), F.col(vec_col))
            / (_norm(F.col("__qv")) * _norm(F.col(vec_col)))
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def rrf_fuse(ranked, k: int = 60, id_col: str = "id", out_col: str = "rrf"):
    """Reciprocal-rank fusion of any number of ranked result lists
    (the standard hybrid-retrieval combiner: lexical BM25 + embedding
    cosine, or any mix): score(id) = sum over sources of 1/(k + rank).

    ``ranked`` is a list of ``(df, id_col, rank_col)`` triples.  Each
    source contributes one tiny projection; the union carries only
    (id, contribution) pairs — fusing top-k lists costs one small
    groupBy regardless of corpus size, because ranking already bounded
    each source at k rows per query.

    Returns ``(id_col, out_col, n_sources)`` sorted by nothing (caller
    orders); ids missing from a source simply lack that term, exactly
    RRF's semantics.
    """
    if not ranked:
        raise ValueError("ranked must be non-empty")
    parts = [
        df.select(
            F.col(idc).alias("__id"),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rc))).alias("__c"),
        )
        for df, idc, rc in ranked
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("__id")
        .agg(
            F.sum("__c").alias(out_col),
            F.count(F.lit(1)).alias("n_sources"),
        )
        .withColumnRenamed("__id", id_col)
    )


def group_centroids(
    df: DataFrame,
    label_col: str,
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Element-wise mean embedding per label — the class prototype
    behind nearest-class-mean classification, weak-label propagation,
    and cluster drift tracking.

    Spark has no element-wise array-SUM aggregate, so the scalable
    shape is ``posexplode`` -> one (label, position) agg (map-side
    combinable; shuffle rows = labels x dims, independent of corpus
    size) -> regroup to an ordered array via ``array_agg`` of
    position-sorted structs.  ``normalize=True`` L2-normalizes each
    centroid (cosine-ready).  NULL vectors are skipped.

    Returns ``(label_col, centroid, n_vectors)``.
    """
    pe = df.where(F.col(vec_col).isNotNull()).select(
        F.col(label_col), F.posexplode(vec_col).alias("__p", "__v"),
    )
    per_dim = pe.groupBy(label_col, "__p").agg(
        F.avg("__v").alias("__m"), F.count(F.lit(1)).alias("__n"),
    )
    grouped = per_dim.groupBy(label_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__p"), F.col("__m"))),
        ).alias("__pm"),
        F.max("__n").alias("n_vectors"),
    )
    cent = F.transform("__pm", lambda s: s["__m"])
    if normalize:
        nrm = F.sqrt(F.aggregate(
            cent, F.lit(0.0), lambda a, x: a + x * x,
        ))
        cent = F.when(
            nrm > 0, F.transform(cent, lambda x: x / nrm),
        )
    return grouped.select(
        label_col, cent.alias("centroid"), "n_vectors",
    )


def assign_nearest_centroid(
    df: DataFrame,
    centroids: DataFrame,
    label_col: str,
    vec_col: str = "embedding",
    centroid_col: str = "centroid",
) -> DataFrame:
    """Assign every vector its nearest centroid by cosine — the apply
    half of nearest-class-mean classification / k-means assignment.

    Centroids are a handful of rows BY DESIGN (class/cluster count),
    so they collect to the driver once and ride the plan as array
    literals; the assignment is ONE projection — a per-row fold over
    the centroid array in codegen.  No join, no shuffle, no UDF.
    Ties break toward the smaller label; NULL vectors pass through
    unassigned.  Adds ``assigned_label`` and ``assigned_cosine``.
    """
    rows = centroids.select(
        F.col(label_col).alias("l"), F.col(centroid_col).alias("v"),
    ).collect()
    if not rows:
        raise ValueError("assign_nearest_centroid: no centroids")
    import math

    cents = F.array(*[
        F.struct(
            F.lit(r["l"]).alias("l"),
            F.lit([float(x) for x in r["v"]]).cast("array<double>").alias("v"),
            F.lit(
                math.sqrt(sum(float(x) * float(x) for x in r["v"])) or 1.0,
            ).alias("n"),
        )
        for r in rows
    ])
    vn = _norm(F.col(vec_col))
    scored = F.transform(
        cents,
        lambda c: F.struct(
            (_dot(F.col(vec_col), c["v"]) / (vn * c["n"])).alias("c"),
            c["l"].alias("l"),
        ),
    )
    label_type = centroids.schema[label_col].dataType.simpleString()
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(None).cast("double").alias("c"),
            F.lit(None).cast(label_type).alias("l"),
        ),
        lambda acc, s: F.when(
            acc["c"].isNull()
            | (s["c"] > acc["c"])
            | ((s["c"] == acc["c"]) & (s["l"] < acc["l"])),
            s,
        ).otherwise(acc),
    )
    return df.select(
        "*",
        F.when(F.col(vec_col).isNotNull(), best["l"]).alias("assigned_label"),
        F.when(F.col(vec_col).isNotNull(), best["c"]).alias("assigned_cosine"),
    )


def ann_recall_report(
    df: DataFrame,
    index,
    nprobe_values=(1, 2, 4),
    k: int = 10,
    n_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
) -> list:
    """Recall@k vs nprobe curve for an IVF index — the tuning report
    that decides how many cluster probes the latency budget buys:
    sample ``n_queries`` vectors (seeded), compute exact brute-force
    top-k as ground truth ONCE, then measure ``ivf_topk`` overlap at
    each ``nprobe``.

    ``index`` is the ``(assigned, centroids)`` pair ``ivf_index``
    returns.  Driver-side list of dicts ``{nprobe, recall_at_k,
    n_queries}`` — an evaluation harness, not a pipeline stage; every
    heavy step is the underlying operators' own distributed plans.
    """
    assigned, centroids = index
    total = df.count()
    frac = min(1.0, n_queries / max(total, 1) * 1.5)
    queries = df.select(id_col, vec_col).sample(
        withReplacement=False, fraction=frac, seed=seed,
    ).limit(n_queries).persist()
    try:
        nq = queries.count()
        truth = {
            (r["query_id"], r[id_col])
            for r in cosine_topk(
                df, queries, k=k, id_col=id_col, vec_col=vec_col,
            ).collect()
        }
        out = []
        for nprobe in nprobe_values:
            got = {
                (r["query_id"], r[id_col])
                for r in ivf_topk(
                    assigned, centroids, queries, k=k, nprobe=nprobe,
                    id_col=id_col, vec_col=vec_col,
                ).collect()
            }
            out.append({
                "nprobe": int(nprobe),
                "recall_at_k": (
                    len(truth & got) / len(truth) if truth else 1.0
                ),
                "n_queries": nq,
            })
        return out
    finally:
        queries.unpersist()


def mmr_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    rel_col: str,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance selection: greedily pick ``k`` items
    maximizing ``lam * relevance - (1 - lam) * max cosine to the
    already-picked set`` — the standard diversity-aware selection for
    retrieval reranking and training-data curation (take the best
    documents, but not five near-copies of the same one).

    Greedy MMR is inherently sequential in k, so the loop runs k
    driver steps — but each step is ONE scan of the persisted
    candidate set joined against the (<= k-row, broadcast) selected
    vectors, with the argmax as a struct-min fold; nothing all-pairs,
    nothing collected except the single winner per step.  k is the
    small constant here (a rerank depth), the candidate set is the
    big thing.

    Determinism: scores are index-order double arithmetic and ties
    break toward the smallest id, so any engine replays the same
    selection.  Null vectors/relevance are excluded.  Returns the
    selected rows: ``(rank, id_col, rel_col, mmr_score)`` with rank
    1-based in pick order.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    cand = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.col(rel_col).cast("double").alias("__rel"),
    ).where(
        F.col("__id").isNotNull()
        & F.col("__v").isNotNull()
        & F.col("__rel").isNotNull(),
    ).withColumn("__n", _norm(F.col("__v"))).persist()
    spark = df.sparkSession
    picked = []  # (id, vec, norm, rel, score)
    remaining = cand
    for step in range(k):
        if picked:
            sel = local_rows_df(spark, 
                [(p[0], p[1], p[2]) for p in picked],
                schema=remaining.select("__id", "__v", "__n").schema,
            ).select(
                F.col("__id").alias("__sid"),
                F.col("__v").alias("__sv"),
                F.col("__n").alias("__sn"),
            )
            sims = (
                remaining.crossJoin(F.broadcast(sel))
                .withColumn(
                    "__cos",
                    F.when(
                        (F.col("__n") > 0) & (F.col("__sn") > 0),
                        _dot(F.col("__v"), F.col("__sv"))
                        / (F.col("__n") * F.col("__sn")),
                    ).otherwise(F.lit(0.0)),
                )
                .groupBy("__id")
                .agg(
                    F.first("__rel").alias("__rel"),
                    F.first("__v").alias("__v"),
                    F.first("__n").alias("__n"),
                    F.max("__cos").alias("__maxsim"),
                )
            )
        else:
            sims = remaining.select(
                "__id", "__rel", "__v", "__n",
                F.lit(0.0).alias("__maxsim"),
            )
        scored = sims.withColumn(
            "__score",
            F.lit(float(lam)) * F.col("__rel")
            - F.lit(1.0 - float(lam)) * F.col("__maxsim"),
        )
        # the winner's vector/norm/rel ride in the argmin struct — the
        # (neg score, id) prefix is already a total order (ids unique),
        # so the payload fields never drive a comparison and the step
        # stays ONE job (a second fetch-the-winner scan would double it)
        best = scored.agg(
            F.min(
                F.struct(
                    (-F.col("__score")).alias("neg"),
                    F.col("__id").alias("id"),
                    F.col("__score").alias("score"),
                    F.col("__v").alias("v"),
                    F.col("__n").alias("n"),
                    F.col("__rel").alias("rel"),
                ),
            ).alias("b"),
        ).first()["b"]
        if best is None or best["id"] is None:
            break  # candidates exhausted
        picked.append(
            (best["id"], best["v"], best["n"], best["rel"],
             float(best["score"])),
        )
        remaining = remaining.filter(F.col("__id") != best["id"])
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )

    out = local_rows_df(spark, 
        [(i + 1, p[0], p[3], p[4]) for i, p in enumerate(picked)],
        StructType([
            StructField("rank", IntegerType()),
            StructField(id_col, cand.schema["__id"].dataType),
            StructField(rel_col, DoubleType()),
            StructField("mmr_score", DoubleType()),
        ]),
    )
    from ..lifecycle import attach_persisted

    return attach_persisted(out, cand)


def _lloyd_local(rows, cents, iterations, quantize, shift=None):
    """Driver-local replay of the distributed Lloyd trajectory over a
    BOUNDED row set (the :func:`kmeans_lloyd` small-input fast path —
    same pattern as ``dedup.connected_components``'s driver-side
    union-find).  ``rows`` is ``[(id, [float, ...])]`` SORTED by id;
    ``cents`` is ``[(cid, [float, ...])]`` in caller order (ties break
    by lowest cid exactly like the distributed struct-min).  Returns
    updated cents in the input order.

    Arithmetic contract: every dot/norm is the identical left-to-right
    fold the column expressions evaluate (``np.cumsum`` adds with a
    single sequential accumulator, and ``0.0 + p0 == p0`` exactly), so
    assignment distances are BIT-IDENTICAL to the distributed pass.
    Only the mean's SUM ORDER differs (here: ascending id; distributed:
    partial-aggregation order, itself nondeterministic) and both paths
    pass it through the same ``round(s/n + shift, quantize)`` — the
    engine-reproducibility tolerance the DuckDB oracle replay already
    depends on."""
    import numpy as np

    if shift is None:
        shift = 10.0 ** (-(quantize + 1))
    if not rows:
        return cents
    V = np.asarray([v for _, v in rows], dtype=np.float64)
    n = V.shape[0]
    VV = np.cumsum(V * V, axis=1)[:, -1]
    for _ in range(int(iterations)):
        order = sorted(range(len(cents)), key=lambda i: cents[i][0])
        D = np.empty((n, len(cents)), dtype=np.float64)
        for col, i in enumerate(order):
            _, cv = cents[i]
            cc = 0.0
            for x in cv:
                cc += x * x
            dot = np.cumsum(V * np.asarray(cv, dtype=np.float64), axis=1)[:, -1]
            D[:, col] = (VV + cc) - (2.0 * dot)
        pick = np.argmin(D, axis=1)  # ties -> first col = lowest cid
        new = {}
        for col, i in enumerate(order):
            cid, _ = cents[i]
            members = V[pick == col]
            if len(members):
                ms = np.cumsum(members, axis=0)[-1]
                new[cid] = [
                    round(float(s) / len(members) + shift, quantize)
                    for s in ms
                ]
        cents = [(cid, new.get(cid, v)) for cid, v in cents]
    return cents


def _lloyd_assign_local(rows, cents):
    """Assignment under literal centroids, driver-local: the same
    bit-identical dot-form distances as :func:`_lloyd_local`, ties ->
    lowest cid.  Returns ``[(id, cid, dist)]`` in ``rows`` order."""
    import numpy as np

    if not rows:
        return []
    V = np.asarray([v for _, v in rows], dtype=np.float64)
    n = V.shape[0]
    VV = np.cumsum(V * V, axis=1)[:, -1]
    order = sorted(range(len(cents)), key=lambda i: cents[i][0])
    cids = [int(cents[i][0]) for i in order]
    D = np.empty((n, len(cents)), dtype=np.float64)
    for col, i in enumerate(order):
        _, cv = cents[i]
        cc = 0.0
        for x in cv:
            cc += x * x
        dot = np.cumsum(V * np.asarray(cv, dtype=np.float64), axis=1)[:, -1]
        D[:, col] = (VV + cc) - (2.0 * dot)
    pick = np.argmin(D, axis=1)
    return [
        (rid, cids[pick[i]], float(D[i, pick[i]]))
        for i, (rid, _) in enumerate(rows)
    ]


def _bounded_vectors(pts, d, keys=("__id",)):
    """The ``keys`` and ``__v`` of ``pts`` as ``[(*keys, [d floats])]``
    rows sorted by the keys, from one
    :func:`~woodwork_spark.io.collect_bounded` of the keys, ``size(__v)``
    and the ``d`` elements as double columns — so the cell count is
    known before the collect and the finiteness guard covers every
    value.  None — the distributed path runs — over the cell bound, or
    for a NULL vector, a NULL or non-finite element or a length other
    than ``d``: those keep the distributed path's expression semantics
    instead of numpy's."""
    import numpy as np

    from woodwork_spark.io import collect_bounded, column_values

    pdf = collect_bounded(pts.selectExpr(
        *keys,
        "double(size(__v)) AS __n",
        # try_: an out-of-range [] raises under ANSI
        *[
            f"double(try_element_at(__v, {j + 1})) AS __e{j}"
            for j in range(d)
        ],
    ))
    if pdf is None:
        return None
    X = pdf.iloc[:, len(keys) + 1:].to_numpy(dtype=np.float64)
    if (pdf["__n"] != d).any() or np.isnan(X).any():
        return None
    rows = list(zip(*[column_values(pdf[k]) for k in keys], X.tolist()))
    rows.sort(key=lambda t: t[:-1])
    return rows


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    init_centroids,
    iterations: int = 2,
    quantize: int = 6,
    return_centroids: bool = False,
):
    """Distributed Lloyd k-means over an embedding column: full-data
    assignment + mean-update iterations (the refinement step after
    ``ivf_index``'s sampled k-means++ seeding, or a standalone
    clusterer for semantic bucketing).  ``init_centroids`` is a list
    of ``(cluster_id, [floats])`` or a 2-column DataFrame collected to
    the driver (k x d — the model, bounded and small by definition).

    Per iteration, everything is relational: ASSIGN is a pure per-row
    PROJECTION — the k centroids are literals, so the squared distance
    in dot-product form (``|v|^2 + |c|^2 - 2 v.c`` — |v|^2 computed
    once per point, the same expression an external replayer uses)
    feeds an ``array_min`` over k (dist, cid) structs (ties -> lowest
    cluster id), no shuffle or join anywhere in the assignment;
    UPDATE is one (cluster, dim) grouped aggregation
    whose k x d partial sums collect to the driver.  New centroids are
    QUANTIZED to ``quantize`` decimals (after a +1e-7 tie-shift), so
    partial-sum ordering noise can never flip a later assignment —
    the same engine-reproducibility discipline as the struct-fold
    argmins elsewhere.  Empty clusters keep their previous centroid.
    While the training rows fit :data:`~woodwork_spark.io.
    LOCAL_MAX_CELLS` (rows x (d + 2) cells) with finite d-vectors, the
    same quantized update rounds run on the driver from one bounded
    collect instead (:func:`_lloyd_local`).

    Returns the FINAL assignment: ``(id_col, cluster, dist_sq)`` under
    the last updated centroids.  Null ids/vectors are excluded.
    ``return_centroids=True`` returns ``(assignment, centroids)`` with
    the final ``[(cluster_id, [floats])]`` list — the coarse-quantizer
    calling convention of :func:`~woodwork_spark.operators.embedding.
    ivf_pq_search`, which needs the centroids for residuals and query
    probing.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if isinstance(init_centroids, DataFrame):
        init_centroids = [
            (r[0], list(r[1])) for r in init_centroids.collect()
        ]
    cents = [(int(c), [float(x) for x in v]) for c, v in init_centroids]
    if not cents:
        raise ValueError("kmeans_lloyd: init_centroids is empty")
    d = len(cents[0][1])
    pts = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).where(
        F.col("__id").isNotNull() & F.col("__v").isNotNull(),
    ).withColumn("__vv", _dot(F.col("__v"), F.col("__v"))).persist()

    def assign(cs):
        # PURE PROJECTION: the model is k literal centroids, so the
        # argmin is a per-row expression — array_min over k (dist, cid)
        # structs, the same (d, cid) total order the old
        # crossJoin + groupBy(__id) struct-min produced, with identical
        # dot-form distances (__cc is the same Python float sum the
        # broadcast centroid frame carried).  Removes the per-iteration
        # full-data shuffle outright (guide §2.4): assignment was a
        # crossJoin against a k-row frame followed by a groupBy(__id)
        # exchange of every row; at 100 TB that exchange moved the
        # whole corpus once per Lloyd round for no information gain.
        structs = F.array(*[
            F.struct(
                (
                    F.col("__vv") + F.lit(sum(x * x for x in v))
                    - 2.0 * _dot(
                        F.col("__v"), F.lit(v).cast("array<double>"),
                    )
                ).alias("d"),
                F.lit(int(c)).cast("int").alias("cid"),
            )
            for c, v in cs
        ])
        best = F.array_min(structs)
        return pts.select(
            "__id", "__v",
            best["cid"].alias("cluster"),
            best["d"].alias("dist_sq"),
        )

    shift = 10.0 ** (-(quantize + 1))
    # Bounded driver-local training (guide §1.2 step 1 via §5: the
    # model update is k x d numbers; iterating it through full Spark
    # jobs pays one action + plan analysis per round for kilobytes).
    # When the training rows fit the driver bound, the SAME quantized
    # trajectory runs locally — one bounded collect through the pts
    # cache replaces `iterations` update jobs; the final assignment
    # (and everything downstream) stays distributed.  Above the bound
    # (io.LOCAL_MAX_CELLS, rows x (d + 2); the 100 TB regime) the
    # distributed loop below is unchanged.
    local = _bounded_vectors(pts, d) if iterations else None
    if local is not None:
        cents = _lloyd_local(local, cents, iterations, quantize)
    else:
        for _ in range(iterations):
            a = assign(cents)
            sums = (
                a.select(
                    "cluster",
                    F.posexplode("__v").alias("__pos", "__x"),
                )
                .groupBy("cluster", "__pos")
                .agg(
                    F.sum("__x").alias("__s"),
                    F.count(F.lit(1)).alias("__n"),
                )
                .collect()
            )
            by_cid = {}
            for r in sums:
                by_cid.setdefault(r["cluster"], [0.0] * d)[r["__pos"]] = (
                    round(r["__s"] / r["__n"] + shift, quantize)
                )
            cents = [
                (c, by_cid.get(c, v)) for c, v in cents
            ]
    out = assign(cents).select(
        F.col("__id").alias(id_col), "cluster", "dist_sq",
    )
    from ..lifecycle import attach_persisted

    out = attach_persisted(out, pts)
    if return_centroids:
        return out, cents
    return out


def cluster_agreement(
    df: DataFrame,
    cluster_col: str,
    label_col: str,
) -> DataFrame:
    """External clustering-quality metrics against ground-truth labels:
    purity (dominant-label share), NMI (normalized mutual information,
    2I/(Hc+Hl), natural log) and the Adjusted Rand Index — "did the
    clusters recover the classes" after ``kmeans_lloyd`` / LSH
    bucketing, judged on exactly-counted pairs.

    ONE (cluster, label) contingency aggregation (cardinality =
    cluster-label pairs) + two marginal folds; every metric is closed
    arithmetic over those cells, raw rows shuffle once.  Rows with a
    null on either side are excluded.  Returns one row: ``(n,
    n_clusters, n_labels, purity, nmi, ari)``; nmi/ari null in
    degenerate single-cluster/single-label cases where they are
    undefined.
    """
    c = F.col(cluster_col).cast("string")
    lb = F.col(label_col).cast("string")
    cells = (
        df.filter(c.isNotNull() & lb.isNotNull())
        .groupBy(c.alias("__c"), lb.alias("__l"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    cm = cells.groupBy("__c").agg(
        F.sum("__n").alias("__a"),
        F.max("__n").alias("__dom"),
    )
    lm = cells.groupBy("__l").agg(F.sum("__n").alias("__b"))
    tot = cells.agg(F.sum("__n").alias("__tot"))
    # pair counts stay EXACT LONGS until the final ARI ratio: x*(x-1)
    # is always even, so a right-shift halves it exactly; summing longs
    # avoids the catastrophic cancellation doubles would suffer once
    # marginals pass ~1.3e8 rows (n*(n-1)/2 > 2^53)
    pair = lambda x: F.shiftright(  # noqa: E731
        x.cast("long") * (x.cast("long") - 1), 1,
    )
    sum_pairs = cells.agg(F.sum(pair(F.col("__n"))).alias("__sp"))
    a_side = cm.agg(
        F.sum(pair(F.col("__a"))).alias("__ap"),
        F.sum("__dom").alias("__domsum"),
        F.count(F.lit(1)).alias("__kc"),
    )
    b_side = lm.agg(
        F.sum(pair(F.col("__b"))).alias("__bp"),
        F.count(F.lit(1)).alias("__kl"),
    )
    # mutual information + entropies fold from cells joined to marginals
    mi_cells = (
        cells.join(F.broadcast(cm.select("__c", "__a")), "__c")
        .join(F.broadcast(lm), "__l")
        .crossJoin(F.broadcast(tot))
    )
    nn = F.col("__tot").cast("double")
    mi = mi_cells.agg(
        F.sum(
            (F.col("__n") / nn)
            * F.log(
                (F.col("__n") * nn) / (F.col("__a") * F.col("__b")),
            ),
        ).alias("__mi"),
    )
    hc = cm.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("__a") / nn) * F.log(F.col("__a") / nn))).alias("__hc"),
    )
    hl = lm.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("__b") / nn) * F.log(F.col("__b") / nn))).alias("__hl"),
    )
    j = (
        tot.crossJoin(F.broadcast(sum_pairs))
        .crossJoin(F.broadcast(a_side))
        .crossJoin(F.broadcast(b_side))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
    )
    total_pairs = pair(F.col("__tot"))
    # final ratio in double (ap*bp would overflow long); counts above
    # are exact, only this closing arithmetic rounds
    expected = (
        F.col("__ap").cast("double") * F.col("__bp").cast("double")
        / total_pairs.cast("double")
    )
    max_idx = (F.col("__ap") + F.col("__bp")) / 2.0
    return j.select(
        F.col("__tot").cast("long").alias("n"),
        F.col("__kc").cast("long").alias("n_clusters"),
        F.col("__kl").cast("long").alias("n_labels"),
        (F.col("__domsum") / nn).alias("purity"),
        F.when(
            (F.col("__hc") + F.col("__hl")) > 0,
            2.0 * F.col("__mi") / (F.col("__hc") + F.col("__hl")),
        ).alias("nmi"),
        F.when(
            (total_pairs > 0) & ((max_idx - expected) != 0),
            (F.col("__sp") - expected) / (max_idx - expected),
        ).alias("ari"),
    )


def silhouette_simplified(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster: for each
    point, ``a`` = distance to its nearest centroid, ``b`` = distance
    to the second-nearest, ``s = (b - a) / max(a, b)`` — the O(N·k)
    clustering-quality score (the classic O(N²) silhouette is
    unusable at corpus scale; the centroid form ranks cluster quality
    the same way).

    One crossJoin of the points against the broadcast k-row centroid
    frame; per-point nearest/second-nearest fold from a sorted
    k-element collect_list (bounded by k — the model, not the data);
    one grouped mean per cluster.  Distances are the dot-product form
    clamped at 0 (``sqrt(max(|v|² + |c|² - 2 v·c, 0))``), identical
    arithmetic to ``kmeans_lloyd`` so an external replayer matches
    bit-for-bit.  Requires >= 2 centroids.  Returns one row per
    cluster: ``(cluster, n, mean_silhouette)``.
    """
    if isinstance(centroids, DataFrame):
        centroids = [(r[0], list(r[1])) for r in centroids.collect()]
    cents = [(int(c), [float(x) for x in v]) for c, v in centroids]
    if len(cents) < 2:
        raise ValueError(
            f"silhouette_simplified needs >= 2 centroids, got {len(cents)}",
        )
    spark = df.sparkSession
    cf = local_rows_df(spark, 
        [(c, v, sum(x * x for x in v)) for c, v in cents],
        "__cid int, __c array<double>, __cc double",
    )
    pts = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).where(F.col("__id").isNotNull() & F.col("__v").isNotNull())
    pts = pts.withColumn("__vv", _dot(F.col("__v"), F.col("__v")))
    dist = F.sqrt(
        F.greatest(
            F.col("__vv") + F.col("__cc")
            - 2.0 * _dot(F.col("__v"), F.col("__c")),
            F.lit(0.0),
        ),
    )
    ranked = (
        pts.crossJoin(F.broadcast(cf))
        .select(
            "__id",
            F.struct(dist.alias("d"), F.col("__cid").alias("cid")).alias("__dc"),
        )
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("__dc")).alias("__arr"))
        .select(
            F.col("__arr")[0]["cid"].alias("cluster"),
            F.col("__arr")[0]["d"].alias("__a"),
            F.col("__arr")[1]["d"].alias("__b"),
        )
    )
    s = F.when(
        F.greatest(F.col("__a"), F.col("__b")) > 0,
        (F.col("__b") - F.col("__a"))
        / F.greatest(F.col("__a"), F.col("__b")),
    ).otherwise(F.lit(0.0))
    return ranked.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(s).alias("mean_silhouette"),
    )
