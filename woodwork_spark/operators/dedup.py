"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard joins —
all expressed as DataFrame transformations that shuffle only on
hash/bucket keys, never materialize the O(N²) pair space, and keep the
hot path JVM-side (xxhash64 / array exprs inside whole-stage codegen; no
row-at-a-time Python UDFs — the one Python touchpoint is the
Arrow-batched hyperplane-sketch matmul, where vectorized numpy beats
Spark's interpreted higher-order functions by ~100x).

Scale design notes (100 TB):
- Candidate generation is bucket-local: explode (band, band_hash) then
  self-join per bucket.  Buckets are capped (``max_bucket_size``) so a
  degenerate bucket (e.g. empty documents) cannot produce a quadratic
  blowup — the cap drops only pathological buckets and is logged in the
  result's lineage, the standard guard in production LSH dedup.
- Signatures/shingles are computed in one projection per document
  (Catalyst-fused), then only (id, band_hash) pairs shuffle — bytes per
  row are tens, not the document text.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from woodwork_spark.operators.scale import local_rows_df

from woodwork_spark.lifecycle import attach_persisted
from woodwork_spark.operators.text import fingerprint_expr


def _make_sketch_udf(plane_mat):
    """Arrow-batched random-hyperplane sketch: sign bits of X @ P.T as
    ONE numpy matmul per batch.  Spark's higher-order functions run
    interpreted (no codegen), so the expression form costs ~planes*dim
    boxed lambda steps per row — the vectorized UDF is ~100x cheaper for
    dense vector math while producing bit-identical sign bits."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _sketch(vecs: pd.Series) -> pd.Series:
        from woodwork_spark.operators.embedding import _null_safe_matmul

        return _null_safe_matmul(
            vecs, lambda X: (X @ plane_mat.T > 0).astype("int32"),
        )

    return _sketch


def exact_dedup(
    df: DataFrame,
    columns=None,
    id_col: str = None,
    keep: str = "first",
    keep_order=None,
) -> DataFrame:
    """Exact deduplication by content hash.

    With an ``id_col``: keeps ONE row per duplicate group,
    deterministically — by MIN id (default), or, with ``keep_order``
    (a list of ``(column_name, "asc"|"desc")`` pairs, e.g.
    ``[("quality", "desc")]`` — descending keys must be numeric),
    the row ranking FIRST under that order, ties by ascending id (quality-aware canonical
    selection: real pipelines keep the best duplicate, not the
    earliest).  Either way it is a groupBy + semi-join — ``min`` /
    ``min_by`` with map-side partials, no window over the full table.
    Without an ``id_col``: plain ``dropDuplicates``.
    """
    if columns is None:
        columns = [c for c in df.columns if c != id_col]
    if id_col is None:
        return df.dropDuplicates(columns)
    key = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in columns]))
    if keep_order:
        # min_by over a struct mirroring the requested sort order:
        # keep_order is [(column_name, "asc"|"desc"), ...] — explicit
        # direction, numeric desc encoded by negation so ascending
        # struct comparison matches the requested order
        def _enc(name, direction):
            c = F.col(name)
            if direction == "desc":
                return -c
            if direction != "asc":
                raise ValueError("keep_order directions must be asc/desc")
            return c

        # each key contributes (is_null flag, encoded value): struct
        # comparison resolves on the flag first, so a NULL key LOSES to
        # any scored row instead of winning (struct ordering would put
        # the NULL field first and min_by would keep the unscored dup)
        fields = []
        for i, (n, d) in enumerate(keep_order):
            fields.append(
                F.col(n).isNull().cast("int").alias(f"z{i}"),
            )
            fields.append(_enc(n, d).alias(f"k{i}"))
        sort_struct = F.struct(
            *fields,
            F.col(id_col).alias("__tie"),
        )
        keeper = (
            df.select(F.col(id_col), key.alias("__k"), sort_struct.alias("__s"))
            .groupBy("__k")
            .agg(F.min_by(id_col, F.col("__s")).alias(id_col))
        )
    else:
        keeper = (
            df.select(F.col(id_col), key.alias("__k"))
            .groupBy("__k")
            .agg(F.min(id_col).alias(id_col))
        )
    return df.join(keeper, on=id_col, how="left_semi")


def char_shingles_expr(text_col: str, k: int = 5):
    """Distinct character k-shingles of a text column as an array
    (JVM-side: sequence + transform + substring, no UDF)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> substring({text_col}, i, {k})))",
    )


def word_shingles_expr(text_col: str, k: int = 3):
    """Distinct word k-shingles — ~6x fewer shingles than char 5-grams on
    typical prose for near-identical dedup quality, so the default for
    the MinHash pipeline.  The word array is bound ONCE via a lambda
    variable: inlining the split inside the per-gram transform would
    re-split the text per gram (O(words²) per document)."""
    words = f"split(trim({text_col}), ' ')"
    return F.expr(
        f"transform(array({words}), ws -> "
        f"array_distinct(transform(sequence(1, greatest(size(ws) - {k - 1}, 1)), "
        f"i -> array_join(slice(ws, i, {k}), ' '))))[0]",
    )


def shingles_expr(text_col: str, k: int, use_words: bool):
    return word_shingles_expr(text_col, k) if use_words else char_shingles_expr(text_col, k)


def minhash_signature_expr(shingles_col: str, num_perm: int = 64):
    """MinHash signature from a shingle array: ONE xxhash64 over each
    shingle STRING, then num_perm re-hashes of that 8-byte long
    (xxhash64(h, i)) + array_min.  Hashing the string once and permuting
    longs is far cheaper than num_perm string hashes; the hash array is
    bound once via a lambda variable so it is computed a single time per
    row.  (Affine a*h+b permutations would be cheaper still but ANSI mode
    forbids the intentional long wraparound.)"""
    hashes = f"transform({shingles_col}, s -> xxhash64(s))"
    mins = ", ".join(
        f"array_min(transform(hs, h -> xxhash64(h, {i})))" for i in range(num_perm)
    )
    return F.expr(f"transform(array({hashes}), hs -> array({mins}))[0]")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket_size: int = 1000,
    use_words: bool = True,
    shingled: DataFrame = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash.

    rows_per_band = num_perm // bands; a pair collides if any band's
    signature slice hashes equal.  Shuffle is on (band, band_hash) only.
    ``shingled`` (id, __sh) lets a caller that already computed the
    shingle arrays (the verify stage needs them anyway) share one pass.
    """
    rows_per_band = num_perm // bands
    if shingled is None:
        shingled = df.select(
            F.col(id_col),
            shingles_expr(text_col, shingle_k, use_words).alias("__sh"),
        )
    sig = (
        shingled.filter(F.size("__sh") > 0)
        .select(id_col, minhash_signature_expr("__sh", num_perm).alias("__sig"))
    )
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            F.slice("__sig", b * rows_per_band + 1, rows_per_band),
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ],
            ),
        ).alias("e"),
    ).select(id_col, "e.band", "e.bh")
    # cap pathological buckets before the quadratic self-join
    sized = banded.withColumn(
        "__bs", F.count(F.lit(1)).over(W.partitionBy("band", "bh")),
    ).filter(F.col("__bs") <= max_bucket_size)
    a = sized.select(F.col(id_col).alias("id_a"), "band", "bh")
    b = sized.select(F.col(id_col).alias("id_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _verify_jaccard(cands: DataFrame, shingled: DataFrame, id_col: str,
                    threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs
    against a persisted (id, __sh) shingle frame — shared by the
    corpus-level and incremental near-dedup paths so the semantics
    (intersect/union ratio, threshold inclusive) cannot diverge."""
    a = shingled.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    b = shingled.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b"),
    )
    return (
        joined.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
    num_perm: int = 64,
    bands: int = None,
    use_words: bool = True,
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates -> exact Jaccard on
    the shingle sets (array_intersect/array_union sizes).

    ``bands=None`` (default) auto-tunes the banding to the requested
    ``threshold`` via :func:`lsh_tune` (fn-weighted: a spurious
    candidate only costs a cheap verify, a missed near-dup pollutes
    training) — pass an explicit band count to pin it.

    The shingle arrays are computed ONCE and persisted
    (MEMORY_AND_DISK, spillable): the signature path and both sides of
    the verify join consume them — without sharing, the O(words·k)
    shingle construction runs three times over the corpus."""
    if bands is None:
        # use the tuned (bands, rows) pair EXACTLY: the candidate
        # generator derives rows as num_perm // bands, so shrink
        # num_perm to bands*rows or the S-curve shifts off the optimum
        bands, rows, _ = lsh_tune(threshold, num_perm, fn_weight=2.0)
        num_perm = bands * rows
    # note: fanning the scan out (repartition to core count) before the
    # shingle pass was measured a net LOSS here (r12: +1–2 s/query at
    # sf0.1) — the signature/verify joins downstream dominate, so the
    # extra round-robin exchange of the text payload never pays for
    # itself; the scan's own split count governs parallelism
    shingled = df.select(
        F.col(id_col),
        shingles_expr(text_col, shingle_k, use_words).alias("__sh"),
    ).persist()
    cands = minhash_lsh_candidates(
        df, id_col, text_col, shingle_k, num_perm, bands,
        use_words=use_words, shingled=shingled,
    )
    out = _verify_jaccard(cands, shingled, id_col, threshold)
    # the cached shingle arrays ride on the result; free them with
    # lifecycle.release(result) once the pairs are materialized
    return attach_persisted(out, shingled)


def connected_components(
    pairs: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an (id_a, id_b) edge list via iterative
    min-label propagation (the alternating large-star/small-star
    construction collapses to this star-contraction loop for undirected
    edges).  Returns (id, component) with component = min id reachable.

    Cardinality-aware (same hybrid as operators/rank.py): dup-pair edge
    lists are usually a tiny fraction of the corpus, and each distributed
    iteration costs 2 shuffles + a convergence-check job — pure overhead
    at small sizes.  While the list fits
    :data:`~woodwork_spark.io.LOCAL_MAX_CELLS` (500k pairs, with no NaN
    id) it is collected through :func:`~woodwork_spark.io.
    collect_bounded` and solved with driver-side union-find (exact same
    labels, one job instead of ~3 per iteration).  Above it, the
    iterative loop: 2 shuffles per iteration, O(log(longest path))
    iterations, state bounded at one (id, label) row per vertex.
    """
    from woodwork_spark.io import collect_bounded, column_values
    from woodwork_spark.operators.scale import aqe_fanout_floor

    spark = pairs.sparkSession
    # persist BEFORE the size probe: the edge list often carries an
    # expensive lineage (LSH candidates + verify in semdedup), and when
    # the probe overflows into the distributed path that same lineage
    # feeds the edges frame — without the persist it would execute
    # twice on exactly the large inputs the bound guards.
    # The persist+collect MATERIALIZE the pair cache — typically an
    # LSH/edit-join candidate+verify pipeline whose per-pair CPU work
    # AQE would otherwise squeeze onto 1-2 tasks at small byte sizes;
    # the scope must include persist() because the cached plan captures
    # the session conf at InMemoryRelation creation (see
    # aqe_fanout_floor)
    with aqe_fanout_floor(spark):
        pairs = pairs.persist()
        head = collect_bounded(pairs.select("id_a", "id_b"))
    if head is not None:
        pairs.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(
            column_values(head["id_a"]), column_values(head["id_b"]),
        ):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:  # union by min: smaller id becomes the root
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        rows = [(x, find(x)) for x in parent]
        return local_rows_df(
            spark, rows, schema=pairs.select(
                F.col("id_a").alias("id"), F.col("id_b").alias("component"),
            ).schema,
        )
    # persist: every iteration joins against edges, and the caller's edge
    # list may carry an expensive lineage (LSH sketch + verify in
    # semdedup) that must not be recomputed per iteration
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        # candidate label per vertex: min over neighbors' labels and own
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            )
        )
        # propagate through label pointers (path halving): component of
        # my component
        ptr = updated.select(
            F.col("id").alias("pid"), F.col("component").alias("pcomp"),
        )
        resolved = (
            updated.join(ptr, updated.component == ptr.pid, "left")
            .select(
                "id",
                F.coalesce(F.col("pcomp"), F.col("component")).alias("component"),
            )
        )
        # localCheckpoint (eager), NOT cache: `resolved` joins `updated`
        # with itself, so the logical plan DOUBLES per iteration — cache
        # keeps the data but not a truncated plan, and by ~10 iterations
        # the 2^10-node plan OOMs the driver during analysis.  The
        # checkpoint cuts lineage to the materialized blocks.
        resolved = resolved.localCheckpoint(eager=True)
        changed = (
            resolved.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        # old generations' checkpoint blocks are reclaimed by the
        # ContextCleaner once their RDDs are garbage collected (a
        # DataFrame-level unpersist only affects CacheManager entries,
        # not localCheckpoint blocks) — dropping the reference is the
        # release mechanism
        labels = resolved
        if changed == 0:
            break
    else:
        # silently-wrong labels are worse than a loud failure: the loop
        # is converge-checked, so hitting the cap means the graph needs
        # a larger max_iter (label still moving after `max_iter` rounds)
        edges.unpersist()
        pairs.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations; raise max_iter",
        )
    edges.unpersist()  # final labels generation is itself materialized
    pairs.unpersist()
    return labels


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    transitive: bool = False,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates, keeping the min-id representative.

    Default: single-pass min-neighbor rule (every doc matching a
    lower-id doc is dropped) — one sweep, the common production
    approximation.  ``transitive=True`` runs full connected components
    so each CLUSTER keeps exactly one representative even across chains
    (a~b, b~c but not a~c)."""
    pairs = minhash_dedup_pairs(df, id_col, text_col, threshold, **kwargs)
    if transitive:
        comps = connected_components(pairs)
        losers = comps.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col),
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_expr(text_col: str, bits: int = 64, hash_fn: str = "xxhash64"):
    """SimHash of the token multiset of a text column, as a signed long.

    bit_b(simhash) = sign of sum over tokens of (+1 if bit_b(hash(t))
    else -1).  Pure array expressions (aggregate over the token array);
    one projection, no shuffle, no UDF.

    hash_fn: "xxhash64" (default, fastest — one JVM hash per token) or
    "md5" (portable: bits come from the first 15 hex chars of md5, so
    any engine with md5 — e.g. DuckDB — reproduces the fingerprint
    bit-for-bit; capped at 60 usable bits)."""
    if hash_fn == "xxhash64":
        tok_hash = "xxhash64(t)"
    elif hash_fn == "md5":
        # 15 hex chars = 60 bits: fits signed 64 with no overflow, and
        # `('0x'||substr(md5(t),1,15))::BIGINT` matches it in DuckDB
        tok_hash = "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"
        bits = min(bits, 60)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    hashes = f"transform(split(trim(lower({text_col})), '\\\\s+'), t -> {tok_hash})"
    # bind the token-hash array ONCE via a lambda variable: without the
    # wrapper the {hashes} subtree would be re-evaluated per bit (64x)
    return F.expr(
        f"transform(array({hashes}), hs -> "
        f"  aggregate("
        f"    transform(sequence(0, {bits - 1}), b -> "
        f"      IF(aggregate(hs, 0L, "
        f"           (s, h) -> s + IF((shiftright(h, b) & 1) = 1, 1, -1)) > 0, "
        f"         shiftleft(1L, b), 0L)), "
        f"    0L, (a, x) -> a | x))[0]",
    )


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the fingerprint into ``bands``
    chunks (pigeonhole: hamming <= bands-1 guarantees an exact chunk
    match), bucket-join on matching chunks, verify exact hamming via
    bit_count(xor)."""
    nbits = 60 if hash_fn == "md5" else 64
    width = nbits // bands
    sh = df.select(
        F.col(id_col), simhash_expr(text_col, hash_fn=hash_fn).alias("__sh"),
    )
    chunks = sh.select(
        id_col,
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"(__sh >> {b * width}) & {(1 << width) - 1}").alias("ch"),
                    )
                    for b in range(bands)
                ],
            ),
        ).alias("e"),
    ).select(id_col, "__sh", "e.band", "e.ch")
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"), "band", "ch",
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"), "band", "ch",
    )
    return (
        a.join(b, ["band", "ch"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.expr("sh_a ^ sh_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard set-similarity join (exact, inverted-index style)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    use_words: bool = True,
) -> DataFrame:
    """Exact Jaccard-similar pairs over word (or char) k-gram sets via an
    inverted index: explode grams, join on gram, count co-occurrences,
    then |A∩B| / (|A|+|B|-|A∩B|).  Only rows sharing >= 1 gram ever meet
    — no cross join."""
    grams = shingles_expr(text_col, k, use_words)
    # gram strings -> 64-bit hashes immediately: every downstream shuffle
    # (inverted index, frequency, prefix join) carries 8-byte longs
    # instead of multi-word strings; 64-bit collisions are negligible
    g = (
        df.select(F.col(id_col), grams.alias("__gs"))
        .filter(F.size("__gs") > 0)
        .select(
            id_col,
            F.expr("array_sort(transform(__gs, x -> xxhash64(x)))").alias("__g"),
        )
        .cache()
    )

    # Prefix filtering (AllPairs): under ANY fixed global total order, a
    # pair with jaccard >= t must share a gram inside each side's first
    # (1-t)*|g|+1 grams.  Using the hash-value order lets the prefix be a
    # pure array expression (array_sort + slice) — no global-frequency
    # groupBy, no per-doc ranking window, zero extra shuffles; the final
    # jaccard check keeps the join exact.  (Frequency order would shrink
    # candidates further at the cost of two more shuffles.)
    prefix = g.select(
        id_col,
        F.size("__g").alias("__n"),
        F.explode(
            F.slice(
                "__g",
                1,
                (F.floor((1 - threshold) * F.size("__g")) + 1).cast("int"),
            ),
        ).alias("gram"),
    )

    a = prefix.select(F.col(id_col).alias("id_a"), "gram",
                      F.col("__n").alias("__na"))
    b = prefix.select(F.col(id_col).alias("id_b"), "gram",
                      F.col("__n").alias("__nb"))
    # AllPairs LENGTH filter, applied inside the gram join: jaccard >= t
    # forces t * max(|A|, |B|) <= min(|A|, |B|), so size-incompatible
    # pairs drop before the distinct and the verify join — lossless, and
    # it bounds the candidate blowup from ultra-frequent grams joining
    # long docs to short ones.
    cand = (
        a.join(b, "gram")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__na") >= threshold * F.col("__nb"))
            & (F.col("__nb") >= threshold * F.col("__na")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ga = g.select(F.col(id_col).alias("id_a"), F.col("__g").alias("__ga"))
    gb = g.select(F.col(id_col).alias("id_b"), F.col("__g").alias("__gb"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("__ga", "__gb"))
                / F.size(F.array_union("__ga", "__gb"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 64,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicates by cosine: random-hyperplane LSH sketch
    (sign bits of dot products with deterministic pseudo-random planes)
    -> banded bucket join -> exact cosine verification.

    Default 64 planes / 8 bands (width 8): for a cosine-0.99 pair the
    per-band collision probability is ~0.88, so the probability of
    missing all 8 bands is ~5e-8 — recall is effectively 1.0 for true
    near-duplicates, while width-8 signatures give 256 buckets per band
    so bucket joins stay far from quadratic."""
    import numpy as np

    # null embeddings can't be near-duplicates; dropping them up front
    # also prevents the degenerate LSH bucket a NULL sketch would form
    # (every null row hashing to the same (band, bh) -> quadratic join)
    df = df.filter(F.col(vec_col).isNotNull())
    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        return local_rows_df(df.sparkSession, 
            [], schema=f"id_a long, id_b long, cosine double",
        )
    dim = first["d"]
    rng = np.random.default_rng(seed)
    plane_mat = rng.standard_normal((planes, dim))
    sketch = _make_sketch_udf(plane_mat)(F.col(vec_col))
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    base = df.select(
        F.col(id_col),
        F.col(vec_col),
        sketch.alias("__sk"),
        norm.alias("__norm"),
    )
    width = planes // bands
    banded = base.select(
        id_col,
        vec_col,
        "__norm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bd).alias("band"),
                        F.hash(F.slice("__sk", bd * width + 1, width)).alias("bh"),
                    )
                    for bd in range(bands)
                ],
            ),
        ).alias("e"),
    ).select(id_col, vec_col, "__norm", "e.band", "e.bh")
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("__norm").alias("na"),
        "band",
        "bh",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("__norm").alias("nb"),
        "band",
        "bh",
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (dot / (F.col("na") * F.col("nb"))).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 64,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    near-duplicate pairs by cosine (hyperplane-LSH candidates + exact
    verification, recall ~1.0 at the default 64/8 parameters), grouped
    transitively via connected components, one representative (min id)
    kept per semantic group.

    Returns (``id_col``, rep, keep): every row of ``df`` appears once;
    rows with no near-duplicate are their own representative.  ``keep``
    marks the survivor of each group — ``df.join(semdedup(...)
    .filter("keep"), id_col)`` is the deduplicated corpus (the output
    key column is named after ``id_col`` so that join works verbatim).

    Scale shape: LSH bucket join (no cross join), CC state is one
    (id, label) row per vertex in dup groups only; the final join back
    to the full id set is by id (AQE picks broadcast when the dup set
    is small, the common case).
    """
    pairs = embedding_near_dup_pairs(
        df, id_col, vec_col,
        threshold=threshold, planes=planes, bands=bands, seed=seed,
    )
    comps = connected_components(pairs.select("id_a", "id_b"))
    ids = df.select(F.col(id_col).alias("id"))
    out = (
        ids.join(comps, "id", "left")
        .withColumn("rep", F.coalesce("component", F.col("id")))
        .drop("component")
    )
    return out.withColumn("keep", F.col("id") == F.col("rep")).withColumnRenamed(
        "id", id_col,
    )


def duplication_spectrum(
    df: DataFrame,
    text_col: str,
    normalize: bool = True,
) -> DataFrame:
    """Corpus duplication spectrum: how many exact-duplicate clusters
    exist at each cluster size — the standard corpus-health report run
    before and after dedup (a heavy tail of large clusters means the
    pipeline upstream is replaying content).

    Returns (cluster_size, n_clusters, n_docs) where n_docs =
    cluster_size * n_clusters.  Two aggregations, both map-side partial:
    fingerprint -> docs per fingerprint -> clusters per size.  Shuffle
    keys are 128-bit md5 fingerprints, never the text.
    """
    from woodwork_spark.operators.text import fingerprint_expr

    key = (
        fingerprint_expr(text_col)
        if normalize
        else F.md5(F.col(text_col))
    )
    per_fp = df.select(key.alias("__fp")).groupBy("__fp").agg(
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return (
        per_fp.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn(
            "n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    near: bool = False,
    threshold: float = 0.8,
    **minhash_kwargs,
) -> DataFrame:
    """Incremental ingestion dedup: keep only the NEW documents that are
    not already in the corpus, and only one copy of each duplicate group
    WITHIN the batch (min id wins) — the per-crawl/per-dump dedup step
    of a continuously-growing training corpus, without re-deduping the
    corpus itself.

    Exact mode (default): normalized md5 fingerprints.  The corpus side
    reduces to DISTINCT fingerprints first (map-side partial dedup — the
    shuffle carries one 16-byte hash per distinct doc, never text), the
    batch anti-joins it, then keeps min-id per batch fingerprint.

    ``near=True`` additionally drops batch docs whose MinHash-LSH
    candidates in the CORPUS verify above ``threshold`` estimated
    Jaccard: both sides shingle/sketch once, bucket-join on
    (band, band-hash), and only cross-side (corpus, batch) candidates
    verify — batch-internal near-dups are left to a corpus-level pass by
    design.  For a standing pipeline, persist the corpus's banded
    sketches once and reuse them per batch instead of recomputing
    (pass-through of ``minhash_lsh_candidates``'s ``shingled`` hook).
    """
    fp = fingerprint_expr(text_col)
    corpus_fps = corpus_df.select(fp.alias("__fp")).distinct()
    batch = new_df.withColumn("__fp", fp)
    fresh = batch.join(corpus_fps, "__fp", "left_anti")
    keeper = (
        fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    out = fresh.join(keeper, id_col, "left_semi").drop("__fp")
    if not near:
        return out
    # near pass: union with a side tag, LSH-bucket, keep only cross-side
    # candidate pairs, verify exact Jaccard on the shingles
    from pyspark.sql import types as T

    id_type = new_df.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        # the parity side tag is integer arithmetic; a string id would
        # cast to NULL (ANSI off) and make the near pass a silent no-op
        raise ValueError(
            f"dedup_against_corpus(near=True) requires an integral id "
            f"column; {id_col!r} is {id_type.simpleString()} — add a "
            f"surrogate id (e.g. xxhash64) or use exact mode",
        )
    shingle_k = minhash_kwargs.pop("shingle_k", 3)
    use_words = minhash_kwargs.pop("use_words", True)
    tagged = corpus_df.select(
        F.col(id_col), F.col(text_col), F.lit(1).alias("__corpus"),
    ).unionByName(
        out.select(F.col(id_col), F.col(text_col), F.lit(0).alias("__corpus")),
    )
    # ids must be disambiguated across sides: the parity bit tags the
    # side (requires |id| < 2^62 — document ids, not hashes)
    keyed = tagged.select(
        (F.col(id_col) * 2 + F.col("__corpus")).alias("__key"),
        text_col,
    )
    shingled = keyed.select(
        "__key", shingles_expr(text_col, shingle_k, use_words).alias("__sh"),
    ).persist()
    cands = minhash_lsh_candidates(
        keyed, "__key", text_col, shingle_k=shingle_k,
        use_words=use_words, shingled=shingled, **minhash_kwargs,
    )
    # cross-side only: exactly one endpoint has the corpus bit
    cross = cands.filter(
        (F.col("id_a") % 2) != (F.col("id_b") % 2),
    )
    verified = _verify_jaccard(cross, shingled, "__key", threshold)
    # the batch endpoint is the one WITHOUT the corpus bit
    losers = verified.select(
        F.explode(F.array("id_a", "id_b")).alias("__key"),
    ).filter(F.col("__key") % 2 == 0).select(
        # integer DIV: '/' is double division and loses exactness past 2^53
        F.expr("__key DIV 2").alias(id_col),
    ).distinct()
    result = out.join(losers, id_col, "left_anti")
    return attach_persisted(result, shingled)


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    text_col: str,
    k: int = 1,
    threshold: float = 0.5,
    use_words: bool = True,
    right_text_col: str = None,
) -> DataFrame:
    """Two-TABLE fuzzy join (record linkage / entity resolution): every
    (left, right) pair whose word/char k-gram sets reach ``threshold``
    Jaccard similarity — matching product names to catalog entries,
    crawl titles to canonical pages, aliases to entities.

    Same exact AllPairs shape as :func:`ngram_jaccard_pairs`, cross
    table: grams hash to longs up front, BOTH sides emit only their
    hash-order prefix of length (1-t)*|g|+1 (a correct filter for
    cross-table pairs for the same reason as within-table: a qualifying
    pair must share a gram inside both prefixes under any fixed global
    order), candidates come from ONE equi-join on the gram hash, and
    the exact Jaccard over full gram arrays keeps the join lossless.
    No cross join at any scale; skew-prone stop-grams can be pre-pruned
    upstream by filtering the text.

    Returns ``(left_id, right_id, jaccard)`` with ``jaccard`` >=
    ``threshold``.
    """
    right_text_col = right_text_col or text_col
    if left_id == right_id:
        raise ValueError(
            "left_id and right_id must differ (the output carries both "
            "as columns) — alias one side before joining",
        )

    def _grams(df, id_c, t_col, out_id):
        return (
            df
            .select(F.col(id_c).alias(out_id),
                    shingles_expr(t_col, k, use_words).alias("__gs"))
            .filter(F.size("__gs") > 0)
            .select(
                out_id,
                F.expr(
                    "array_sort(transform(__gs, x -> xxhash64(x)))",
                ).alias("__g"),
            )
            .persist()
        )

    gl = _grams(left, left_id, text_col, "__lid")
    gr = _grams(right, right_id, right_text_col, "__rid")

    def _prefix(g, id_c):
        return g.select(
            id_c,
            F.explode(
                F.slice(
                    "__g", 1,
                    (
                        F.floor((1 - threshold) * F.size("__g")) + 1
                    ).cast("int"),
                ),
            ).alias("gram"),
        )

    cand = (
        _prefix(gl, "__lid").join(_prefix(gr, "__rid"), "gram")
        .select("__lid", "__rid")
        .distinct()
    )
    out = (
        cand.join(gl.select("__lid", F.col("__g").alias("__ga")), "__lid")
        .join(gr.select("__rid", F.col("__g").alias("__gb")), "__rid")
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            (
                F.size(F.array_intersect("__ga", "__gb"))
                / F.size(F.array_union("__ga", "__gb"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    from woodwork_spark.lifecycle import attach_persisted

    return attach_persisted(out, gl, gr)


def lsh_tune(
    threshold: float,
    num_perm: int = 64,
    fn_weight: float = 1.0,
    fp_weight: float = 1.0,
):
    """Pick the MinHash LSH banding (bands b x rows r, b*r <= num_perm)
    that minimizes weighted false-positive + false-negative area around
    a target Jaccard ``threshold`` — the standard S-curve integration
    (collision probability at similarity s is ``1 - (1 - s^r)^b``).
    Driver-side arithmetic only; feed the result to
    ``minhash_lsh_candidates(num_bands=b)``.

    Weight ``fn_weight`` up when missing a true near-dup is worse than
    verifying a spurious candidate (the usual case: verification is
    cheap, a missed dup pollutes training).  Returns ``(bands, rows,
    p_at_threshold)``.
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    steps = 200
    for r in range(1, num_perm + 1):
        b = num_perm // r
        if b < 1:
            break

        def p(s, r=r, b=b):
            return 1.0 - (1.0 - s ** r) ** b

        fp = sum(
            p(threshold * i / steps) for i in range(1, steps + 1)
        ) * threshold / steps
        fn = sum(
            1.0 - p(threshold + (1 - threshold) * i / steps)
            for i in range(1, steps + 1)
        ) * (1 - threshold) / steps
        cost = fp_weight * fp + fn_weight * fn
        if best is None or cost < best[0]:
            best = (cost, b, r)
    _, b, r = best
    return b, r, 1.0 - (1.0 - threshold ** r) ** b


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    text_col: str,
    max_dist: int = 2,
    q: int = 2,
    right_text_col: str = None,
) -> DataFrame:
    """Two-table string join on Levenshtein distance <= ``max_dist`` —
    typo'd ids to a catalog, OCR'd names to a registry.  The Jaccard
    twin is :func:`similarity_join`; edit distance is the right measure
    when ORDER and single-character slips matter (identifiers, names),
    not token overlap.

    Blocking is the positional q-gram prefix filter (ED-Join, Xiao et
    al. 2008, VLDB — public algorithm): a string of length L has
    L-q+1 positional q-grams and one edit destroys at most q of them,
    so two strings within distance k share a gram among each side's
    first ``k*q + 1`` grams under ANY fixed global order, at positions
    differing by at most k (an edit shifts later grams by at most one
    per insertion/deletion).  Candidates therefore come from ONE
    equi-join on the gram hash with |pos_a - pos_b| <= k and
    |len_a - len_b| <= k, then an exact bounded ``levenshtein(a, b,
    k)`` verify keeps the join lossless.

    Strings too short to carry ``k*q + 1`` grams can't be blocked this
    way (the pigeonhole bound degenerates); they route through a
    bounded-short side path — both pools capped at ``q-1 + k*q (+ k)``
    chars by the length filter, so the fallback pair space stays tiny
    and broadcastable by AQE.

    The global order is ASCENDING CORPUS GRAM FREQUENCY (ED-Join's own
    ordering), not hash order: any fixed order is correct, but on
    low-entropy keys (id-like strings sharing a constant template —
    'Customer#000...' names) a hash order fills every record's prefix
    with the same template grams and the candidate join degenerates
    toward quadratic, while rarest-first prefixes hold exactly the
    characters that differ and keep candidates near-linear (measured
    ~20x on the template-name benchmark).

    Scale shape: grams hash to 8-byte longs before any shuffle; the
    explode carries (id, pos, hash) only — never the string; strings
    re-join once, by id, for the final verify; the gram-frequency table
    is vocabulary-sized (one agg + two joins + a WindowGroupLimit
    per-record top-k).  Returns ``(left_id, right_id, distance)``.
    """
    k = int(max_dist)
    if k < 1:
        raise ValueError(f"max_dist must be >= 1, got {max_dist}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    if left_id == right_id:
        raise ValueError(
            "left_id and right_id must differ in the output; rename one "
            f"side (both are {left_id!r})",
        )
    right_text_col = right_text_col or text_col
    prefix_len = k * q + 1
    short_max = (q - 1) + k * q  # longest string with <= k*q grams

    def all_grams(df, id_c, t_c, out_id):
        s = F.col(t_c)
        n = F.length(s) - q + 1
        structs = F.when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
                lambda i: F.struct(
                    F.xxhash64(F.substr(s, i, F.lit(q))).alias("h"),
                    i.alias("p"),
                ),
            ),
        ).otherwise(F.array())
        return (
            df.filter(s.isNotNull() & (F.length(s) > short_max))
            .select(
                F.col(id_c).alias(out_id),
                F.length(s).alias(f"{out_id}_len"),
                F.explode(structs).alias("g"),
            )
            .select(
                out_id, f"{out_id}_len",
                F.col("g.h").alias("h"), F.col("g.p").alias("p"),
            )
        )

    def prefix_by_rarity(grams, freq, out_id):
        # keep each record's prefix_len RAREST grams (freq asc, hash/pos
        # as tie-break).  The per-record window is bounded by string
        # length; WindowGroupLimit keeps map-side top-k before the
        # exchange.
        w = W.partitionBy(out_id).orderBy(
            F.asc("__df"), F.asc("h"), F.asc("p"),
        )
        return (
            grams.join(freq, "h", "left")
            .withColumn("__df", F.coalesce("__df", F.lit(0)))
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= prefix_len)
            .drop("__rk", "__df")
        )

    # persist the full-gram explodes: each feeds BOTH the frequency
    # aggregate and the prefix ranking — without the cache the most
    # expensive stage (the corpus explode) would execute twice per side
    raw_a = all_grams(left, left_id, text_col, "__lid").persist()
    raw_b = all_grams(right, right_id, right_text_col, "__rid").persist()
    # ANY fixed global gram order preserves the pigeonhole guarantee;
    # ascending CORPUS frequency makes each prefix hold the record's
    # most discriminative grams — on low-entropy keys (id-like strings
    # sharing a constant template) a hash order fills every prefix with
    # the same template grams and candidates go quadratic, while rare
    # grams (the digits that differ) keep the join near-linear.  The
    # frequency table is vocabulary-sized; one extra agg + joins.
    freq = (
        raw_a.select("h")
        .unionAll(raw_b.select("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    ga = prefix_by_rarity(raw_a, freq, "__lid")
    gb = prefix_by_rarity(raw_b, freq, "__rid")
    cand_main = (
        ga.withColumnRenamed("p", "pa")
        .join(gb.withColumnRenamed("p", "pb"), "h")
        .filter(
            (F.abs(F.col("__lid_len") - F.col("__rid_len")) <= k)
            & (F.abs(F.col("pa") - F.col("pb")) <= k)
        )
        .select("__lid", "__rid")
    )
    shorts_a = left.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) <= short_max),
    ).select(F.col(left_id).alias("__lid"), F.length(text_col).alias("__la"))
    shorts_b = right.filter(
        F.col(right_text_col).isNotNull()
        & (F.length(right_text_col) <= short_max),
    ).select(F.col(right_id).alias("__rid"), F.length(right_text_col).alias("__lb"))
    pool_b = right.filter(
        F.col(right_text_col).isNotNull()
        & (F.length(right_text_col) <= short_max + k),
    ).select(F.col(right_id).alias("__rid"), F.length(right_text_col).alias("__lb"))
    pool_a = left.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) <= short_max + k),
    ).select(F.col(left_id).alias("__lid"), F.length(text_col).alias("__la"))
    cand_short = (
        shorts_a.join(pool_b, F.abs(F.col("__la") - F.col("__lb")) <= k)
        .select("__lid", "__rid")
        .unionByName(
            pool_a.join(shorts_b, F.abs(F.col("__la") - F.col("__lb")) <= k)
            .select("__lid", "__rid"),
        )
    )
    cand = cand_main.unionByName(cand_short).distinct()
    la = left.select(F.col(left_id).alias("__lid"), F.col(text_col).alias("__ta"))
    lb = right.select(
        F.col(right_id).alias("__rid"), F.col(right_text_col).alias("__tb"),
    )
    dist = F.levenshtein("__ta", "__tb", k)
    out = (
        cand.join(la, "__lid")
        .join(lb, "__rid")
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            dist.alias("distance"),
        )
        .filter(F.col("distance") >= 0)
    )
    # the cached gram explodes ride on the result; free them with
    # lifecycle.release(result) once the pairs are consumed
    return attach_persisted(out, raw_a, raw_b)


def golden_records(
    df: DataFrame,
    cluster_col: str,
    fields,
    priority,
    tiebreak_col: str = None,
) -> DataFrame:
    """Survivorship merge: ONE golden record per duplicate cluster — the
    completion step of record linkage (pairs ->
    :func:`connected_components` -> merge).  Field-level survivorship:
    each field independently takes its value from the highest-
    ``priority`` row WHERE THAT FIELD IS NON-NULL, so a best row with a
    missing phone number inherits the phone from the next-best member
    instead of exporting a hole.

    ``priority`` is a Column (or name) ranking members — recency,
    source trust, completeness score; ties break on ``tiebreak_col``
    (pass a stable id for deterministic output — REQUIRED for
    reproducibility when priorities can tie).

    Shape: ONE aggregation — per field, ``max(struct(priority, tie,
    value))`` over non-null values, map-side combinable like any max;
    the shuffle carries one struct per (cluster, field).  No windows,
    no per-cluster iteration.

    Returns ``(cluster_col, n_members, <fields...>)``.
    """
    fields = [fields] if isinstance(fields, str) else list(fields)
    if not fields:
        raise ValueError("golden_records: no fields")
    p = F.col(priority) if isinstance(priority, str) else priority
    tie = F.col(tiebreak_col) if tiebreak_col else F.lit(0)

    def best(field):
        val = F.col(field)
        return F.max(
            F.when(
                val.isNotNull(),
                F.struct(p.alias("p"), tie.alias("t"), val.alias("v")),
            ),
        )["v"].alias(field)

    return df.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n_members"),
        *[best(f) for f in fields],
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_key,
    window: int = 5,
    small_threshold: int = 100_000,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995, the other
    classic record-linkage blocker): order all records by a domain sort
    key (zip+name prefix, normalized address), then candidate-pair every
    record with its ``window`` nearest neighbors in that order.
    Complements the q-gram blocking of :func:`edit_distance_join` —
    sorted-neighborhood catches errors that destroy grams but not sort
    position (truncation, field swaps past the key prefix).

    Scale shape: ONE global rank (the range-partitioned
    ``operators.rank`` primitive — no single-reducer window), then a
    band self-join: each record lands in bucket ``rn DIV window`` and
    joins buckets b and b+1 with an ``|rn_a - rn_b| <= window`` filter —
    every qualifying pair co-occurs in at least one bucket pairing, and
    each bucket holds exactly ``window`` rows so the join is linear in
    n with constant fan-out.  Returns ``(id_a, id_b, rank_distance)``
    with ``id_a < id_b``; feed a verifier (exact Jaccard, levenshtein)
    downstream.
    """
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames
    from woodwork_spark.operators.rank import global_row_number

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    key = sort_key if isinstance(sort_key, list) else [sort_key]
    ranked = global_row_number(
        df,
        # id tiebreak: Spark's sort is not stable, so duplicate sort
        # keys (two customers named 'ANN') would otherwise get
        # partition-dependent ranks and the candidate set would change
        # between runs
        [F.asc(c) if isinstance(c, str) else c for c in key]
        + [F.asc(id_col)],
        out_col="__rn",
        small_threshold=small_threshold,
    )
    slim = ranked.select(
        F.col(id_col), F.col("__rn"),
        F.expr(f"__rn DIV {int(window)}").alias("__bkt"),
    )
    a = slim.select(
        F.col(id_col).alias("id_a"), F.col("__rn").alias("__ra"), "__bkt",
    )
    b_same = slim.select(
        F.col(id_col).alias("id_b"), F.col("__rn").alias("__rb"), "__bkt",
    )
    cand = a.join(b_same, "__bkt").unionByName(
        a.withColumn("__bkt", F.col("__bkt") + 1).join(b_same, "__bkt"),
    )
    out = (
        # dedup by RANK order (ra < rb), not id order: a cross-bucket
        # pair whose id order opposes its rank order only ever appears
        # with the lower-ranked record on the a side, so an id_a < id_b
        # filter would silently drop it; ids are normalized afterwards
        cand.filter(
            (F.col("__ra") < F.col("__rb"))
            & (F.col("__rb") - F.col("__ra") <= window),
        )
        .select(
            F.least("id_a", "id_b").alias("ia"),
            F.greatest("id_a", "id_b").alias("ib"),
            (F.col("__rb") - F.col("__ra")).alias("rank_distance"),
        )
        .select(
            F.col("ia").alias("id_a"), F.col("ib").alias("id_b"),
            "rank_distance",
        )
        .distinct()
    )
    return attach_persisted(out, *persisted_frames(ranked))


def blocking_quality_report(
    candidates: DataFrame,
    truth: DataFrame,
    n_left: int,
    n_right: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Evaluate a blocking strategy against verified truth pairs — the
    standard record-linkage triple:

    - ``pair_completeness`` (candidate recall): fraction of true pairs
      the blocker surfaced — the number that matters, because a missed
      candidate is an unrecoverable missed match;
    - ``pair_quality`` (candidate precision): true pairs per candidate —
      low is fine (verification is cheap), but trending to zero means
      the blocker is degenerating toward the cross join;
    - ``reduction_ratio``: 1 - candidates / (n_left * n_right) — how
      much of the quadratic pair space the blocker never generated.

    Both inputs are (id_a, id_b) pair frames; ordering within a pair is
    normalized here, so either convention works.  Two semi-join counts
    + arithmetic — evaluation costs less than one verify pass.
    """
    if n_left < 1 or n_right < 1:
        raise ValueError("n_left and n_right must be >= 1")

    def norm(df):
        return df.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        ).distinct()

    c = norm(candidates)
    t = norm(truth)
    n_cand = c.count()
    n_truth = t.count()
    n_hit = t.join(c, ["a", "b"], "left_semi").count()
    spark = candidates.sparkSession
    total = float(n_left) * float(n_right)
    return local_rows_df(spark, 
        [(
            n_cand, n_truth, n_hit,
            (n_hit / n_truth) if n_truth else None,
            (n_hit / n_cand) if n_cand else None,
            1.0 - n_cand / total,
        )],
        "n_candidates long, n_truth long, n_hit long, "
        "pair_completeness double, pair_quality double, "
        "reduction_ratio double",
    )


def _blocking_spec_exprs(s):
    """Parse an exact/prefix blocking spec tuple into ``(kind,
    left_expr, right_expr)``; returns None for 'edit' and callables
    (those are not key-bucket blockers)."""
    if callable(s):
        return None
    kind = s[0]
    if kind == "exact":
        cl = s[1]
        cr = s[2] if len(s) > 2 else s[1]
        return kind, F.col(cl), F.col(cr)
    if kind == "prefix":
        if len(s) == 3:
            cl = cr = s[1]
            n = int(s[2])
        else:
            cl, cr, n = s[1], s[2], int(s[3])
        return kind, F.substring(cl, 1, n), F.substring(cr, 1, n)
    if kind == "edit":
        return None
    raise ValueError(f"unknown blocking strategy {s!r}")


def blocked_candidates(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    strategies,
    max_bucket: int = None,
) -> DataFrame:
    """OR-blocking for record linkage: union the candidate pairs of
    several cheap blockers, deduped by (left_id, right_id) — real
    linkage blocks on (name-ED OR phone-exact OR zip+street) because a
    single key misses every record whose ONE blocking field is the
    corrupted one.  Recall of the union is 1 - prod(miss_i): three
    blockers each missing 20% of true matches miss 0.8% together.

    Each strategy is either a callable ``(left, right) -> DataFrame``
    with the two id columns (compose anything — an LSH join, a
    sorted-neighborhood pass), or a spec tuple:

    - ``("exact", col)`` / ``("exact", col_l, col_r)`` — equi-join on
      the field, NULLs never block;
    - ``("prefix", col, n)`` / ``("prefix", col_l, col_r, n)`` — equi-
      join on the first ``n`` characters (the classic blocking-key
      truncation);
    - ``("edit", col, max_dist)`` / ``("edit", col_l, col_r,
      max_dist)`` — lossless ED-Join (:func:`edit_distance_join`).

    Scale shape: exact/prefix blockers join on a 128-bit two-hash
    composite of the key, so candidate generation shuffles fixed-width
    rows; the final dedup is ONE distinct on the id pair.  Persisted
    intermediates of inner blockers are re-attached for
    ``lifecycle.release``.  Returns ``(left_id, right_id)``.

    ``max_bucket`` caps the PAIR COUNT a single blocking bucket may
    generate: an exact/prefix bucket with ``n_left * n_right >
    max_bucket`` is skipped deterministically (its pairs never
    materialize), so a degenerate blocking key — empty-string names,
    a default phone, a catch-all zip — cannot silently go quadratic at
    100 TB.  Cost of the guard is two per-key counts + one anti-join
    per capped blocker (key-cardinality-sized frames).  Skipped
    buckets are observable via :func:`blocking_skip_report` (same
    inputs, same criterion); 'edit' and callable strategies are not
    bucket blockers and are never capped.
    """
    from woodwork_spark.lifecycle import persisted_frames

    strategies = list(strategies)
    if not strategies:
        raise ValueError("blocked_candidates: strategies are required")
    if max_bucket is not None and max_bucket < 1:
        raise ValueError("max_bucket must be >= 1 when given")

    def keyed(df, id_c, expr):
        return df.filter(expr.isNotNull()).select(
            F.col(id_c),
            F.xxhash64(expr).alias("__k1"),
            F.xxhash64(expr, F.lit(1)).alias("__k2"),
        )

    def capped_join(lk, rk):
        if max_bucket is None:
            return lk.join(rk, ["__k1", "__k2"])
        over = _oversized_keys(lk, rk, max_bucket).select("__k1", "__k2")
        return lk.join(over, ["__k1", "__k2"], "left_anti").join(
            rk, ["__k1", "__k2"],
        )

    frames, persisted = [], []
    for s in strategies:
        spec = _blocking_spec_exprs(s)
        if spec is not None:
            kind, le, re_ = spec
            cand = capped_join(
                keyed(left, left_id, le), keyed(right, right_id, re_),
            )
        elif callable(s):
            cand = s(left, right)
        else:
            if len(s) == 3:
                cl = cr = s[1]
                k = int(s[2])
            else:
                cl, cr, k = s[1], s[2], int(s[3])
            cand = edit_distance_join(
                left, right, left_id, right_id, cl,
                max_dist=k, right_text_col=cr,
            )
        frames.append(cand.select(left_id, right_id))
        persisted.extend(persisted_frames(cand))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return attach_persisted(out.distinct(), *persisted)


def _oversized_keys(lk, rk, max_bucket: int):
    """Buckets whose pair count would exceed ``max_bucket``: join the
    two per-key counts, keep ``n_left * n_right > max_bucket``.
    Returns ``(__k1, __k2, __nl, __nr)``."""
    lc = lk.groupBy("__k1", "__k2").agg(F.count(F.lit(1)).alias("__nl"))
    rc = rk.groupBy("__k1", "__k2").agg(F.count(F.lit(1)).alias("__nr"))
    return lc.join(rc, ["__k1", "__k2"]).filter(
        F.col("__nl") * F.col("__nr") > int(max_bucket),
    )


def blocking_skip_report(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    strategies,
    max_bucket: int,
) -> DataFrame:
    """What :func:`blocked_candidates` with the same ``max_bucket``
    SKIPPED: one row per strategy with the count of capped buckets and
    the pair count those buckets would have generated — the governance
    readout that makes the cap auditable instead of silent (a nonzero
    row means the blocking key needs cleaning, not that linkage
    quietly lost recall).

    'edit' / callable strategies are not bucket blockers: their rows
    carry NULL counts.  Returns ``(strategy, kind, n_buckets_skipped,
    n_pairs_skipped)``.
    """
    strategies = list(strategies)
    if not strategies:
        raise ValueError("blocking_skip_report: strategies are required")
    if max_bucket < 1:
        raise ValueError("max_bucket must be >= 1")

    def keyed(df, id_c, expr):
        return df.filter(expr.isNotNull()).select(
            F.col(id_c),
            F.xxhash64(expr).alias("__k1"),
            F.xxhash64(expr, F.lit(1)).alias("__k2"),
        )

    parts = []
    for i, s in enumerate(strategies):
        spec = _blocking_spec_exprs(s)
        if spec is None:
            kind = "callable" if callable(s) else str(s[0])
            parts.append((
                None,
                (i, kind),
            ))
            continue
        kind, le, re_ = spec
        over = _oversized_keys(
            keyed(left, left_id, le), keyed(right, right_id, re_),
            max_bucket,
        )
        parts.append((
            over.agg(
                F.count(F.lit(1)).cast("long").alias("n_buckets_skipped"),
                F.coalesce(
                    F.sum(F.col("__nl").cast("long") * F.col("__nr")),
                    F.lit(0),
                ).cast("long").alias("n_pairs_skipped"),
            ),
            (i, kind),
        ))
    spark = left.sparkSession
    frames = []
    for agg, (i, kind) in parts:
        tag = local_rows_df(spark, 
            [(i, kind)], "strategy long, kind string",
        )
        if agg is None:
            frames.append(tag.select(
                "strategy", "kind",
                F.lit(None).cast("long").alias("n_buckets_skipped"),
                F.lit(None).cast("long").alias("n_pairs_skipped"),
            ))
        else:
            frames.append(tag.crossJoin(agg))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out



def fellegi_sunter_score(
    pairs: DataFrame,
    fields,
    prior: float = 0.01,
    upper: float = 0.9,
    lower: float = 0.1,
) -> DataFrame:
    """Fellegi–Sunter probabilistic record-linkage scoring over a
    candidate-pairs frame (produced by any blocking join in this module
    — :func:`edit_distance_join`, :func:`similarity_join`,
    :func:`sorted_neighborhood_pairs`): per-field agreement folds to
    the classic log2 likelihood weight ``agree ? log2(m/u) :
    log2((1-m)/(1-u))``; the total weight plus a match ``prior``
    (lambda) gives the posterior match probability
    ``p = 1 / (1 + (1-lambda)/lambda * 2^-W)``, thresholded into
    ``'match' / 'possible' / 'non_match'``.

    ``fields`` is a list of ``(agreement, m, u)`` where ``agreement``
    is a boolean Column over the pair columns or a ``(col_a, col_b)``
    name tuple (compared with ``=``), ``m = P(agree | match)`` and
    ``u = P(agree | non-match)``.  A field with EITHER side NULL
    contributes weight 0 — missing data is no evidence, the standard
    FS convention.

    Pure column expressions — zero extra shuffles on top of the
    blocking join; at 100 TB the cost is the blocking, never the
    scoring.  Adds ``fs_weight``, ``match_prob``, ``fs_class``.
    """
    import math

    if not fields:
        raise ValueError("fellegi_sunter_score: fields are required")
    if not (0.0 < prior < 1.0):
        raise ValueError("prior must be in (0, 1)")
    w = F.lit(0.0)
    for agree, m, u in fields:
        m, u = float(m), float(u)
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"need 0 < u < m < 1 per field, got m={m}, u={u} — an "
                "agreement must be MORE likely under a match",
            )
        if isinstance(agree, (tuple, list)):
            ca, cb = F.col(agree[0]), F.col(agree[1])
            cond = ca == cb
            missing = ca.isNull() | cb.isNull()
        else:
            cond = agree
            missing = agree.isNull()
        w = w + F.when(missing, F.lit(0.0)).when(
            cond, F.lit(math.log2(m / u)),
        ).otherwise(F.lit(math.log2((1.0 - m) / (1.0 - u))))
    odds = F.lit(prior / (1.0 - prior)) * F.pow(F.lit(2.0), w)
    p = odds / (F.lit(1.0) + odds)
    out = pairs.withColumn("fs_weight", w).withColumn("match_prob", p)
    return out.withColumn(
        "fs_class",
        F.when(p >= F.lit(float(upper)), F.lit("match"))
        .when(p < F.lit(float(lower)), F.lit("non_match"))
        .otherwise(F.lit("possible")),
    )


def record_linkage(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    name_col: str,
    fields,
    max_dist: int = 2,
    prior: float = 0.01,
    upper: float = 0.9,
    lower: float = 0.1,
    right_name_col: str = None,
    blockers=None,
    max_bucket: int = None,
) -> DataFrame:
    """End-to-end probabilistic record linkage: ED-Join blocking on the
    name (exact, lossless — :func:`edit_distance_join`), then both
    sides' comparison fields join back by id (two keyed joins on
    already-blocked pairs), then :func:`fellegi_sunter_score`.

    ``fields`` maps field name -> (m, u); each must exist in both
    inputs (the right side's columns are suffixed ``_r`` in the pair
    frame).  Returns ``(left_id, right_id, distance, fs_weight,
    match_prob, fs_class)``.

    ``blockers`` switches candidate generation to OR-blocking
    (:func:`blocked_candidates` over the given strategies) — the
    multi-key union that still finds a record whose name is corrupted
    past ``max_dist`` but whose phone/zip survived.  With blockers the
    ``distance`` column is NULL (candidates are no longer
    distance-verified pairs; the FS fields are the evidence).
    ``max_bucket`` (with blockers) caps the per-bucket pair count of
    exact/prefix blocking keys — see :func:`blocked_candidates`; audit
    the skips with :func:`blocking_skip_report`.  Feed capped pairs to
    :func:`estimate_m_u` the same way: the EM consumes whatever pair
    frame blocking produced, so the cap is where pair-space blowups
    are stopped for the whole FS stack.
    """
    fields = dict(fields)
    if blockers is not None:
        cand = blocked_candidates(
            left, right, left_id, right_id, blockers,
            max_bucket=max_bucket,
        ).withColumn("distance", F.lit(None).cast("int"))
    else:
        cand = edit_distance_join(
            left, right, left_id, right_id, name_col,
            max_dist=max_dist, right_text_col=right_name_col,
        )
    lf = left.select(left_id, *fields)
    rf = right.select(
        right_id, *[F.col(c).alias(f"{c}_r") for c in fields],
    )
    pairs = cand.join(lf, left_id).join(rf, right_id)
    scored = fellegi_sunter_score(
        pairs,
        [((c, f"{c}_r"), m, u) for c, (m, u) in fields.items()],
        prior=prior, upper=upper, lower=lower,
    )
    # lifecycle attrs do not survive the field joins — re-attach the
    # blocking join's persisted frames so callers can release() them
    from woodwork_spark.lifecycle import persisted_frames

    return attach_persisted(
        scored.select(
            left_id, right_id, "distance", "fs_weight", "match_prob",
            "fs_class",
        ),
        *persisted_frames(cand),
    )


def estimate_m_u(
    pairs: DataFrame,
    fields,
    iters: int = 5,
    init_m: float = 0.9,
    init_u: float = 0.1,
    init_lambda: float = 0.1,
    eps: float = 1e-4,
) -> DataFrame:
    """EM estimation of the Fellegi–Sunter parameters from a candidate-
    pairs frame — the classic unsupervised completion (Fellegi & Sunter
    1969; Winkler 1988) that turns :func:`fellegi_sunter_score` from
    "scoring given m/u" into a learner: no labeled matches needed, the
    mixture structure of the agreement patterns identifies the
    parameters.

    ``fields`` is a list of field names (the pair frame carries ``f``
    and ``f_r``, the :func:`record_linkage` convention) or ``(col_a,
    col_b)`` tuples.  Per EM round, with current ``m_k``/``u_k`` and
    match prior ``lambda``:

    - E-step: posterior ``g = lam*prod_k P(gamma_k|M) / (lam*prod_k
      P(gamma_k|M) + (1-lam)*prod_k P(gamma_k|U))`` where an agreeing
      field contributes ``m_k`` (match) / ``u_k`` (non-match), a
      disagreeing one ``1-m_k`` / ``1-u_k``, and a field with either
      side NULL contributes 1 to both (missing is no evidence — the
      same convention :func:`fellegi_sunter_score` uses).
    - M-step: ``m_k = sum(g*agree_k)/sum(g over observed_k)``, ``u_k =
      sum((1-g)*agree_k)/sum((1-g) over observed_k)``, ``lambda =
      mean(g)`` — each a ratio of sufficient statistics.

    Scale shape: the agreement pattern per field is computed ONCE as a
    boolean column and the projected (2 bits per field) frame is
    persisted; every EM round is then ONE map-side-combinable
    aggregation over it (the E-step posterior is a pure column
    expression in the current scalar parameters), collecting a single
    row of ``4*k + 2`` doubles to the driver — parameters are scalars,
    so unlike :func:`~woodwork_spark.operators.preferences.bradley_terry`
    (item-sized state, broadcast-join rounds) there is nothing to join
    back.  ``iters`` bounded rounds, no growing lineage.  Parameters
    are clamped to ``[eps, 1-eps]`` (an empty expectation keeps its
    previous value), so degenerate fields cannot produce log(0) weights
    downstream.  Pair-space safety: cost is linear in the PAIRS frame,
    so generate it with :func:`blocked_candidates` ``max_bucket=...`` —
    a degenerate blocking key then cannot go quadratic before the EM
    even starts (audit the capped buckets via
    :func:`blocking_skip_report`).

    Returns one row per field: ``(field, m, u, lam)`` (``lam`` — the
    estimated match prior — repeated on every row), ready to feed back
    into :func:`fellegi_sunter_score` / :func:`record_linkage`.
    """
    if not fields:
        raise ValueError("estimate_m_u: fields are required")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not (0.0 < eps < 0.5):
        raise ValueError("eps must be in (0, 0.5)")

    def norm(f):
        if isinstance(f, (tuple, list)):
            return str(f[0]), F.col(f[0]), F.col(f[1])
        return str(f), F.col(f), F.col(f"{f}_r")

    named = [norm(f) for f in fields]
    proj = pairs.select(
        *[
            c
            for name, ca, cb in named
            for c in (
                (ca.isNotNull() & cb.isNotNull()).alias(f"__obs_{name}"),
                (ca.isNotNull() & cb.isNotNull() & (ca == cb)).alias(
                    f"__agr_{name}",
                ),
            )
        ],
    ).persist()

    def clamp(x: float, lo: float) -> float:
        return min(max(float(x), lo), 1.0 - lo)

    m = {name: clamp(init_m, eps) for name, _, _ in named}
    u = {name: clamp(init_u, eps) for name, _, _ in named}
    lam = clamp(init_lambda, eps)
    try:
        for _ in range(int(iters)):
            pm, pu = F.lit(float(lam)), F.lit(1.0 - float(lam))
            for name, _, _ in named:
                obs, agr = F.col(f"__obs_{name}"), F.col(f"__agr_{name}")
                pm = pm * F.when(~obs, F.lit(1.0)).when(
                    agr, F.lit(m[name]),
                ).otherwise(F.lit(1.0 - m[name]))
                pu = pu * F.when(~obs, F.lit(1.0)).when(
                    agr, F.lit(u[name]),
                ).otherwise(F.lit(1.0 - u[name]))
            g = pm / (pm + pu)
            aggs = [
                F.sum(g).alias("__sg"),
                F.count(F.lit(1)).alias("__n"),
            ]
            for name, _, _ in named:
                obs, agr = F.col(f"__obs_{name}"), F.col(f"__agr_{name}")
                aggs += [
                    F.sum(F.when(agr, g).otherwise(F.lit(0.0))).alias(
                        f"__ga_{name}",
                    ),
                    F.sum(F.when(obs, g).otherwise(F.lit(0.0))).alias(
                        f"__go_{name}",
                    ),
                    F.sum(
                        F.when(agr, 1.0 - g).otherwise(F.lit(0.0)),
                    ).alias(f"__ua_{name}"),
                    F.sum(
                        F.when(obs, 1.0 - g).otherwise(F.lit(0.0)),
                    ).alias(f"__uo_{name}"),
                ]
            row = proj.agg(*aggs).collect()[0]
            if not row["__n"]:
                raise ValueError(
                    "estimate_m_u: the candidate-pairs frame is empty",
                )
            lam = clamp(row["__sg"] / row["__n"], eps)
            for name, _, _ in named:
                if row[f"__go_{name}"] and row[f"__go_{name}"] > 0.0:
                    m[name] = clamp(
                        row[f"__ga_{name}"] / row[f"__go_{name}"], eps,
                    )
                if row[f"__uo_{name}"] and row[f"__uo_{name}"] > 0.0:
                    u[name] = clamp(
                        row[f"__ua_{name}"] / row[f"__uo_{name}"], eps,
                    )
    finally:
        proj.unpersist()
    spark = pairs.sparkSession
    return local_rows_df(spark, 
        [(name, m[name], u[name], lam) for name, _, _ in named],
        "field string, m double, u double, lam double",
    )
