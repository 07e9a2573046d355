"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed ANN.

Scale design:
- **brute force** is the correctness baseline and is already the right
  answer when the query set is small: the query side is broadcast, so the
  scan over N corpus vectors never shuffles — O(N·d) work, embarrassingly
  parallel, no state on the driver.
- **random-hyperplane LSH** is the scale path for query sets too large to
  broadcast: both sides are bucketed by sign-pattern of dot products with H
  deterministic pseudo-random hyperplanes, then candidates equi-join on the
  bucket key, and exact cosine re-ranks inside buckets. Recall/cost is
  tuned by H and the number of probe permutations.

Determinism: element values are quantized to integers
(``round(x * 10^7)`` as BIGINT — float→decimal rounding differs between
engines, ``round`` on double does not), so dot products and squared norms
are exact integer sums, order-independent, and hash-match the DuckDB
oracle bit-for-bit; only the final sqrt/divide runs in IEEE double, which
is deterministic everywhere. The hyperplanes derive from md5, so bucket
assignments are reproducible across engines and runs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# quantization scale: 7 decimal digits covers float32 mantissa precision
_Q = 10_000_000

# Expression-tree builders come in two flavors: Column-based (for callers
# holding arbitrary Column expressions) and SQL-string-based (for the hot
# operator paths, where every F.<fn> / lambda is one or more py4j round
# trips — profiling showed ~2800 round-trips ≈ 0.8 s of pure DRIVER time
# per ann_topk_ivf plan build; the string forms build the same tree in a
# handful of calls).


def _qvec_sql(col: str) -> str:
    """SQL for: float vector ``col`` → exact BIGINT vector round(x·1e7)."""
    return f"transform({col}, x -> cast(round(cast(x as double) * {_Q}) as bigint))"


_NORM_SQL = (
    "sqrt(cast(aggregate(transform(_q, x -> x * x), cast(0 as bigint), "
    "(acc, x) -> acc + x) as double))"
)


def _pair_cosine_sql(qa: str, na: str, qb: str, nb: str) -> str:
    """SQL for exact cosine from pre-quantized vector columns and
    pre-computed norm columns (names, not Column objects)."""
    return (
        f"try_divide(cast(aggregate(zip_with({qa}, {qb}, (x, y) -> x * y), "
        f"cast(0 as bigint), (acc, x) -> acc + x) as double), {na} * {nb})"
    )


def _qvec(a):
    """float vector → exact BIGINT vector: round(x * 1e7)."""
    return F.transform(a, lambda x: F.round(x.cast("double") * _Q).cast("long"))


def _dot_q(a, b):
    """Exact dot product over quantized vectors (BIGINT sum; for 64-dim
    unit-scale embeddings the sum stays far below 2^63)."""
    prods = F.zip_with(_qvec(a), _qvec(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _norm_q(a):
    return F.sqrt(_dot_q(a, a).cast("double"))


def cosine(a, b):
    # try_divide: a zero (or fully-null) vector has norm 0 — its cosine is
    # NULL (ranked last / filtered out), not a DIVIDE_BY_ZERO that kills
    # the whole job under ANSI mode
    return F.try_divide(_dot_q(a, b).cast("double"), _norm_q(a) * _norm_q(b))


def _with_qnorm(df: DataFrame, id_col: str, vec_col: str, *extra_cols: str) -> DataFrame:
    """Materialize the quantized vector and its norm ONCE per row.

    ``cosine(a, b)`` inlined per candidate pair re-quantizes both vectors
    and re-computes both norms inside every pair expression — six O(dim)
    array passes per pair. Join sides prepared here pay one quantize + one
    norm per ROW, and each pair costs a single zip_with dot product. The
    arithmetic is bit-identical (same quantized longs, same double sqrt),
    so oracle parity is unaffected.

    If ``df`` already carries a ``_q`` column stamped by
    ``hyperplane_buckets`` with field metadata ``qvec_of == vec_col``, it
    is reused instead of re-quantizing ``vec_col`` — the bucketing pass
    and the norm pass then share a single quantization. The metadata gate
    (not mere column-name presence) keeps an unrelated caller-supplied
    ``_q`` from silently poisoning norms and cosines."""
    if "_q" in df.columns and (
        df.schema["_q"].metadata.get("qvec_of") == vec_col
    ):
        q = df.select(id_col, *extra_cols, "_q")
    else:
        q = df.select(id_col, *extra_cols, F.expr(f"{_qvec_sql(vec_col)} as _q"))
    return q.select(id_col, *extra_cols, "_q", F.expr(f"{_NORM_SQL} as _norm"))


def _rank_topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Shared top-k ranking: per query, best cosine first, ties and NULL
    scores (zero vectors) ranked deterministically by corpus id."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine_sim", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force, broadcast).

    Output: (query_id, vec_id, cosine_sim, rank), rank 1..k, ties broken by
    corpus id ascending for full determinism. ``exclude_self`` drops the
    corpus row whose id equals the query id — correct when queries come
    FROM the corpus (self-search); pass False when the two sides are
    distinct datasets whose id spaces merely overlap."""
    q = _with_qnorm(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_q").alias("_qq"),
        F.col("_norm").alias("_qnorm"),
    )
    c = _with_qnorm(corpus, id_col, vec_col)
    scored = c.crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col("query_id"))
    scored = scored.select(
        "query_id",
        id_col,
        F.expr(f"{_pair_cosine_sql('_qq', '_qnorm', '_q', '_norm')} as cosine_sim"),
    )
    return _rank_topk(scored, k, id_col)


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup detection).

    Quadratic by nature — at corpus scale run it per LSH bucket
    (``hyperplane_buckets``) instead of globally; ``embedding_near_dup``
    is that composition. ``max_rows`` enforces the contract — ON BY
    DEFAULT (100k rows ≈ 5·10^9 candidate pairs, the ceiling of sane
    brute force): the input is counted first and a ValueError aborts the
    plan before the crossJoin if the corpus exceeds it, so a 10^9-row
    table can never silently schedule a 10^18-pair cartesian (VERDICT
    r4 #7, default-on per r5 #9). Pass ``max_rows=None`` to explicitly
    opt out."""
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"cosine_pairs over {n} rows exceeds max_rows={max_rows}: "
                "the all-pairs crossJoin is quadratic — run it per LSH "
                "bucket (hyperplane_buckets / embedding_near_dup) instead"
            )
    pre = _with_qnorm(df, id_col, vec_col)
    a = pre.select(
        F.col(id_col).alias("id_a"), F.col("_q").alias("_qa"), F.col("_norm").alias("_na")
    )
    b = pre.select(
        F.col(id_col).alias("id_b"), F.col("_q").alias("_qb"), F.col("_norm").alias("_nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr(
                f"{_pair_cosine_sql('_qa', '_na', '_qb', '_nb')} as cosine_sim"
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# --- random-hyperplane LSH (the ANN scale path) ------------------------------


def _hyperplane(dim: int, plane_idx: int) -> list[int]:
    """Deterministic pseudo-random hyperplane from md5 — identical on every
    executor, engine, and run; no RNG state to ship.

    Coefficients are INTEGERS in [-32768, 32767] so the bucket-deciding dot
    product (quantized embedding · plane) is an exact BIGINT sum: sign bits
    never depend on float summation order, which makes bucket assignment
    bit-reproducible in any engine (the DuckDB oracles rely on this).
    Magnitude bound: |q|≤~1e8 per element × 2^15 × dim 64 ≈ 2·10^14 ≪ 2^63."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"plane{plane_idx}:dim{d}".encode()).hexdigest()
        # top 16 of the first 32 hash bits → [-32768, 32767]
        out.append((int(h[:8], 16) >> 16) - 32768)
    return out


def hyperplane_buckets(
    df: DataFrame,
    dim: int,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, _q, bucket) where bucket is the sign pattern over H
    hyperplanes.

    All H dot products run in ONE pass over the quantized vector: the
    plane coefficients are laid out dim-major (``mat[d] = [plane0[d], …,
    planeH-1[d]]``) so a single ``aggregate`` folds a length-H accumulator
    across the dims — versus one full array traversal per plane, which is
    what made this 8× more expensive than it needs to be. Each dot is
    still an exact integer sum, so the H sign bits are deterministic.

    The quantized vector is kept in the output (``_q``) so downstream
    ``_with_qnorm`` reuses it instead of quantizing again."""
    planes = [_hyperplane(dim, p) for p in range(num_planes)]
    # the whole dots+bits computation is ONE F.expr call: a 64×8 matrix
    # built element-wise from F.lit().cast() Columns costs >1000 py4j
    # round-trips (~3 s of DRIVER time per call — measured; execution was
    # never the problem)
    mat_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{planes[p][d]}L" for p in range(num_planes)) + ")"
            for d in range(dim)
        )
        + ")"
    )
    dots_sql = (
        f"aggregate(zip_with(_q, {mat_sql}, (x, coeffs) -> "
        "transform(coeffs, c -> x * c)), "
        f"array_repeat(cast(0 as bigint), {num_planes}), "
        "(acc, contrib) -> zip_with(acc, contrib, (a, b) -> a + b))"
    )
    bucket_sql = (
        f"array_join(transform({dots_sql}, "
        "d -> case when d >= 0 then '1' else '0' end), '')"
    )
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        # metadata marks WHICH column this quantization came from, so
        # _with_qnorm only reuses it for the same vec_col — a caller df
        # carrying an unrelated `_q` is re-quantized, not trusted
        F.expr(_qvec_sql(vec_col)).alias("_q", metadata={"qvec_of": vec_col}),
    ).select(F.col(id_col), F.col(vec_col), F.col("_q"), F.expr(f"{bucket_sql} as bucket"))


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket, exact cosine
    re-ranks. One equi-join on the bucket key — no cross product."""
    cb = _with_qnorm(
        hyperplane_buckets(corpus, dim, num_planes, id_col, vec_col),
        id_col,
        vec_col,
        "bucket",
    )
    qb = _with_qnorm(
        hyperplane_buckets(queries, dim, num_planes, id_col, vec_col),
        id_col,
        vec_col,
        "bucket",
    ).select(
        F.col(id_col).alias("query_id"),
        "bucket",
        F.col("_q").alias("_qq"),
        F.col("_norm").alias("_qnorm"),
    )
    scored = (
        cb.join(qb, "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.expr(
                f"{_pair_cosine_sql('_qq', '_qnorm', '_q', '_norm')} as cosine_sim"
            ),
        )
    )
    return _rank_topk(scored, k, id_col)


def _probe_variants_sql(num_planes: int) -> str:
    """SQL array of the query's probe buckets: its own sign pattern plus
    every single-bit flip (the H nearest Hamming neighbors)."""
    variants = ["bucket"] + [
        (
            f"concat(substring(bucket, 1, {i}), "
            f"case when substring(bucket, {i + 1}, 1) = '1' then '0' else '1' end, "
            f"substring(bucket, {i + 2}, {num_planes - i - 1}))"
        )
        for i in range(num_planes)
    ]
    return "array(" + ",".join(variants) + ")"


def ann_topk_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multiprobe LSH top-k: each query probes its own bucket AND the H
    single-bit-flip neighbor buckets — the buckets a near neighbor most
    likely fell into when one hyperplane margin was tight.

    Recall rises from (1 − θ/π)^H to roughly the probability that at most
    one plane separates the pair, at the cost of H+1× more candidate
    lookups — WITHOUT re-bucketing the corpus (the index is unchanged;
    only the query side explodes). This is the standard recall/cost knob
    when re-hashing a 100 TB corpus with fewer planes is off the table.
    A corpus vector lives in exactly one bucket and the H+1 probe strings
    are distinct, so no candidate pair is generated twice — no distinct
    pass needed before ranking."""
    cb = _with_qnorm(
        hyperplane_buckets(corpus, dim, num_planes, id_col, vec_col),
        id_col,
        vec_col,
        "bucket",
    )
    qb = _with_qnorm(
        hyperplane_buckets(queries, dim, num_planes, id_col, vec_col),
        id_col,
        vec_col,
        "bucket",
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("_q").alias("_qq"),
        F.col("_norm").alias("_qnorm"),
        F.explode(F.expr(_probe_variants_sql(num_planes))).alias("bucket"),
    )
    scored = (
        cb.join(qb, "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.expr(
                f"{_pair_cosine_sql('_qq', '_qnorm', '_q', '_norm')} as cosine_sim"
            ),
        )
    )
    return _rank_topk(scored, k, id_col)


def embedding_near_dup_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs at corpus scale: candidates must
    share a hyperplane-LSH bucket (equi-join — the all-pairs cross join
    never materializes), exact cosine filters to ``threshold``.

    Recall: two vectors with cosine ≥ t land in the same bucket with
    probability (1 - acos(t)/π)^H; raise recall by lowering num_planes or
    unioning several plane sets. Precision is exact — every emitted pair
    passed the true cosine test."""
    b = _with_qnorm(
        hyperplane_buckets(df, dim, num_planes, id_col, vec_col), id_col, vec_col, "bucket"
    )
    a = b.select(
        F.col(id_col).alias("id_a"),
        "bucket",
        F.col("_q").alias("_qa"),
        F.col("_norm").alias("_na"),
    )
    c = b.select(
        F.col(id_col).alias("id_b"),
        "bucket",
        F.col("_q").alias("_qb"),
        F.col("_norm").alias("_nb"),
    )
    return (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr(
                f"{_pair_cosine_sql('_qa', '_na', '_qb', '_nb')} as cosine_sim"
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# --- IVF (inverted-file index — the other ANN scale path) --------------------


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    engine: str = "catalyst",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by cosine.

    ``centroids`` is (centroid_id, embedding) — small, broadcast. Output:
    (id, vec, centroid_id) with one row per probed list. nprobe=1 builds
    the index; nprobe>1 is the query-side multi-probe that trades extra
    candidate reads for recall.

    Two engines, identical results (asserted in tests/test_layout):

    - ``catalyst``: broadcast crossJoin → corpus × C scored rows → a
      row_number window over them. Fine for the query side (a handful
      of rows × C) but the corpus-side build stages C× the corpus AND
      shuffles it for the window — at 1M vectors × 64 centroids that is
      a 64M-row exchange, measured as ~60% of the whole r11 index-build
      wall.
    - ``numpy``: ONE Arrow ``mapInPandas`` pass — per batch the exact
      int64 quantized dot against all C centroids (``V @ Cᵀ``), the same
      IEEE-double divide by the norm product, top-``nprobe`` by
      (c_sim desc, centroid_id asc). No fanout, no shuffle. The cosine
      arithmetic is bit-identical to the Catalyst expressions: the dot
      and squared norms are exact integers, and sqrt/multiply/divide are
      single deterministic IEEE-754 ops in the same order.
    """
    from pyspark.sql import Window

    if engine == "numpy":
        return _ivf_assign_np(df, centroids, id_col, vec_col, nprobe)
    if engine != "catalyst":
        raise ValueError(f"unknown ivf_assign engine: {engine!r}")

    # pre-quantize + pre-norm both sides: with C centroids inlining
    # cosine() would recompute each row's norm C times
    c = _with_qnorm(
        centroids.select("centroid_id", vec_col), "centroid_id", vec_col
    ).select(
        "centroid_id", F.col("_q").alias("_cq"), F.col("_norm").alias("_cnorm")
    )
    pre = df.select(
        F.col(id_col), F.col(vec_col), F.expr(f"{_qvec_sql(vec_col)} as _q")
    )
    pre = pre.select(id_col, vec_col, "_q", F.expr(f"{_NORM_SQL} as _norm"))
    scored = pre.crossJoin(F.broadcast(c)).select(
        id_col,
        vec_col,
        "centroid_id",
        F.expr(f"{_pair_cosine_sql('_q', '_norm', '_cq', '_cnorm')} as c_sim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("c_sim").desc(), F.col("centroid_id").asc())
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= nprobe)
        .drop("_r", "c_sim")
    )


def _round_half_up_q(v):
    """numpy replica of Spark's ``round(x * 1e7)`` (HALF_UP = half away
    from zero; ``np.round`` is banker's and would disagree on exact .5).

    Exactness note (ADVICE r12): ``floor(scaled + 0.5)`` decides the
    HALF_UP question on the BINARY double, but Spark decides it on the
    double's SHORTEST-DECIMAL value (``BigDecimal.valueOf``, i.e.
    ``Double.toString``): a scaled value one ulp below a .5 boundary —
    e.g. ``0.49999999999999994 + 0.5 == 1.0`` — would round up here and
    down in Spark. Elements within a few ulps of a .5 boundary are
    therefore re-decided exactly via ``decimal`` on ``repr(x)``, which
    is the same shortest-round-trip decimal Java produces — keeping the
    vectorized fast path AND the bit-identical-to-Catalyst contract."""
    import numpy as np

    scaled = np.ascontiguousarray(v * float(_Q), dtype=np.float64)
    shape = scaled.shape
    flat = scaled.reshape(-1)
    fast = np.where(flat >= 0, np.floor(flat + 0.5), np.ceil(flat - 0.5))
    # distance from the nearest k+0.5 boundary, vs a generous ulp window
    risky = np.abs(flat - np.floor(flat) - 0.5) <= (
        np.spacing(np.abs(flat) + 1.0) * 4.0
    )
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal

        one = Decimal(1)
        for j in np.flatnonzero(risky):
            fast[j] = float(
                Decimal(repr(float(flat[j]))).quantize(
                    one, rounding=ROUND_HALF_UP
                )
            )
    return fast.astype(np.int64).reshape(shape)


def _ivf_assign_np(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """One-Arrow-pass centroid assignment (see ``ivf_assign`` engine
    docs). Centroids are collected driver-side (C rows — the relation is
    broadcast-sized by definition) as exact quantized int64 rows plus
    their IEEE-double norms, exactly what ``_with_qnorm`` stamps."""
    import numpy as np

    cent_rows = sorted(
        _with_qnorm(
            centroids.select("centroid_id", vec_col), "centroid_id", vec_col
        ).collect(),
        key=lambda r: r["centroid_id"],
    )
    cids = np.array([r["centroid_id"] for r in cent_rows], dtype=np.int64)
    CQ = np.array([r["_q"] for r in cent_rows], dtype=np.int64)
    cnorms = np.array([r["_norm"] for r in cent_rows], dtype=np.float64)

    id_field = df.schema[id_col]
    vec_field = df.schema[vec_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField(vec_col, vec_field.dataType, vec_field.nullable),
            T.StructField(
                "centroid_id", centroids.schema["centroid_id"].dataType, False
            ),
        ]
    )
    take = min(nprobe, len(cids))

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            Q = _round_half_up_q(V)
            norms = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
            # exact int64 dot, then the same single IEEE divide the SQL
            # try_divide performs; zero norms → -inf, which sorts last
            # exactly like the SQL's NULL under c_sim DESC
            denom = norms[:, None] * cnorms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(
                    denom > 0,
                    (Q @ CQ.T).astype(np.float64) / denom,
                    -np.inf,
                )
            # top-nprobe by (c_sim desc, centroid_id asc): centroids are
            # already cid-ascending and argsort is stable, so sorting on
            # -sims alone reproduces the window's tie-break
            order = np.argsort(-sims, axis=1, kind="stable")[:, :take]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(take),
                    vec_col: pdf[vec_col].to_numpy().repeat(take),
                    "centroid_id": cids[order].ravel(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(run, schema=out_schema)


def _arrow_list_matrix(col, dtype):
    """(n, d) numpy matrix from an Arrow list column, zero-copy when the
    buffer layout allows (guide §4.2: a list column is one contiguous
    values buffer plus offsets — re-slicing beats per-row object
    conversion; the pandas path materialized one ndarray PER ROW).
    Requires fixed-width, null-free lists — the contract every numpy
    engine here already imposed via ``np.stack``."""
    import numpy as np

    offs = col.offsets.to_numpy()
    n = len(col)
    if n == 0:
        return None
    d = int(offs[1] - offs[0])
    if not (np.diff(offs) == d).all():
        raise ValueError("ragged or null vector rows in Arrow batch")
    vals = col.values.to_numpy(zero_copy_only=False)
    start = int(offs[0])
    return np.ascontiguousarray(
        vals[start : start + n * d].reshape(n, d)
    ).astype(dtype, copy=False)


def _ivf_flat(
    df: DataFrame,
    centroids: DataFrame,
    calib: DataFrame,
    id_col: str,
    vec_col: str,
    encoder: str,
) -> DataFrame:
    """Engine dispatch for the fused per-row index relation (id,
    centroid_id, _q, _norm, q, n_dims) — see ``_ivf_flat_np``. The
    catalyst form composes the existing SQL builders (one pass over the
    assign output; values bit-identical by the same contracts)."""
    if encoder == "numpy":
        return _ivf_flat_np(df, centroids, calib, id_col, vec_col)
    assigned = ivf_assign(
        df, centroids, id_col, vec_col, nprobe=1, engine="catalyst"
    )
    pre = assigned.crossJoin(F.broadcast(calib)).select(
        F.col(id_col),
        F.col("centroid_id"),
        F.expr(f"{_qvec_sql(vec_col)} as _q"),
        F.expr(f"{_int8_quant_sql(vec_col)} as q"),
        F.size(vec_col).alias("n_dims"),
    )
    return pre.select(
        id_col,
        "centroid_id",
        "_q",
        F.expr(f"{_NORM_SQL} as _norm"),
        "q",
        "n_dims",
    )


def _ivf_flat_np(
    df: DataFrame,
    centroids: DataFrame,
    calib: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The fused index-build corpus pass (numpy engine): ONE Arrow pass
    emits every per-row artifact the IVF-PQ index stores — the nprobe=1
    coarse assignment, the exact-cosine quantization (``_q``/``_norm``)
    and the int8 codes (``q``/``n_dims``). Output: (id, centroid_id,
    _q, _norm, q, n_dims). Replaces two corpus passes (assign +
    ``quantize_int8``) that each converted the whole corpus across the
    Arrow boundary (guide §1.2: don't compute in two passes what one
    pass already has in registers).

    Bit-identity contracts, each mirrored from the SQL formulation and
    pinned in tests/test_layout:

    - ``_q``: ``_round_half_up_q`` (the documented HALF_UP replica);
    - ``_norm``: int64 exact square-sum → the same single int→double
      cast and IEEE sqrt;
    - ``q``: ``floor(((v - mn) * 255.0) / (mx - mn) + 0.5)`` evaluated
      in float64 with the SAME operation order as ``_int8_quant_sql``,
      then the same floor→clamp(0,255)→int−128 chain; a degenerate
      dimension (mx <= mn) maps to 0."""
    import numpy as np

    cent_rows = sorted(
        _with_qnorm(
            centroids.select("centroid_id", vec_col), "centroid_id", vec_col
        ).collect(),
        key=lambda r: r["centroid_id"],
    )
    cids = np.array([r["centroid_id"] for r in cent_rows], dtype=np.int64)
    CQ = np.array([r["_q"] for r in cent_rows], dtype=np.int64)
    cnorms = np.array([r["_norm"] for r in cent_rows], dtype=np.float64)
    cal = calib.collect()[0]
    mns = np.asarray(cal["_mns"], dtype=np.float64)
    mxs = np.asarray(cal["_mxs"], dtype=np.float64)

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField(
                "centroid_id", centroids.schema["centroid_id"].dataType, False
            ),
            T.StructField("_q", T.ArrayType(T.LongType(), True), True),
            T.StructField("_norm", T.DoubleType(), True),
            T.StructField("q", T.ArrayType(T.IntegerType(), True), True),
            T.StructField("n_dims", T.IntegerType(), False),
        ]
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            V = _arrow_list_matrix(batch.column(1), np.float64)
            Q = _round_half_up_q(V)
            norms = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
            denom = norms[:, None] * cnorms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(
                    denom > 0,
                    (Q @ CQ.T).astype(np.float64) / denom,
                    -np.inf,
                )
            pick = cids[np.argsort(-sims, axis=1, kind="stable")[:, 0]]
            live = mxs > mns
            with np.errstate(divide="ignore", invalid="ignore"):
                scaled = np.floor((V - mns) * 255.0 / (mxs - mns) + 0.5)
                clamped = np.minimum(np.maximum(scaled, 0.0), 255.0)
            if not live.all():
                clamped[:, ~live] = 128.0  # becomes 0 after the -128
            codes = clamped.astype(np.int32) - 128
            d = V.shape[1]
            offs = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(pick).cast(arrow_schema.field(1).type),
                    pa.ListArray.from_arrays(
                        offs, pa.array(Q.ravel(), type=pa.int64())
                    ).cast(arrow_schema.field(2).type),
                    pa.array(norms, type=pa.float64()),
                    pa.ListArray.from_arrays(
                        offs, pa.array(codes.ravel(), type=pa.int32())
                    ).cast(arrow_schema.field(4).type),
                    pa.array(
                        np.full(n, d, dtype=np.int32), type=pa.int32()
                    ),
                ],
                schema=arrow_schema,
            )

    return df.select(id_col, vec_col).mapInArrow(run, schema=out_schema)


def ivf_centroids(
    df: DataFrame, num_centroids: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic pseudo-random centroid pick: the k smallest vectors
    in md5(id) order — plans as TakeOrderedAndProject (per-partition heap,
    k rows to the driver), never a global sort or count.

    A k-means refinement would improve list balance; seeded selection is
    reproducible across engines/runs and good enough for recall testing —
    swap in ``pyspark.ml.clustering.KMeans`` when index quality matters
    more than determinism."""
    return (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
        .limit(num_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col))
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    num_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed into centroid
    lists (one equi-join key), queries probe their ``nprobe`` nearest
    lists, exact cosine re-ranks candidates.

    At 100 TB the index build is one broadcast-scored pass + a write
    partitioned by ``centroid_id``; queries then read only
    nprobe/num_centroids of the corpus — the same list-pruning contract as
    FAISS IVF, expressed as partition pruning."""
    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    # the centroid list is the INDEX — materialize it once (it feeds both
    # the corpus-side list build and the query-side probe assignment; an
    # uncached plan re-runs the TakeOrdered selection and re-broadcasts)
    cents = cache_scoped(
        ivf_centroids(corpus, num_centroids, id_col, vec_col), "ivf_centroids"
    )
    lists = _with_qnorm(
        ivf_assign(corpus, cents, id_col, vec_col, nprobe=1),
        id_col,
        vec_col,
        "centroid_id",
    )
    probes = _with_qnorm(
        ivf_assign(queries, cents, id_col, vec_col, nprobe=nprobe),
        id_col,
        vec_col,
        "centroid_id",
    ).select(
        F.col(id_col).alias("query_id"),
        "centroid_id",
        F.col("_q").alias("_qq"),
        F.col("_norm").alias("_qnorm"),
    )
    scored = (
        lists.join(probes, "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.expr(
                f"{_pair_cosine_sql('_qq', '_qnorm', '_q', '_norm')} as cosine_sim"
            ),
        )
    )
    return _rank_topk(scored, k, id_col)


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label mean vector, one row per (label, dimension).

    Sums run over quantized BIGINTs (exact, order-independent — a double
    sum would be partition-order-dependent and never hash-match another
    engine), divided back to double at the end. Single hash aggregate with
    map-side partial combine; the posexplode multiplies rows by the
    dimension count but each row is 3 small fixed-width columns, so at
    100 TB this shuffles ~dim × n_rows × 20 bytes — the same shape every
    distributed k-means/IVF training step uses.
    """
    el = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_qvec(F.col(vec_col))).alias("pos", "q"),
    )
    return el.groupBy("label", "pos").agg(
        (F.sum("q").cast("double") / (F.count("*") * F.lit(float(_Q)))).alias("centroid"),
        F.count("*").alias("n_vectors"),
    )


def normalize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """L2-normalize an embedding column (unit L2 norm, float output)."""
    # _norm_q is the norm of the QUANTIZED vector — 1e7 × the true norm
    norm = _norm_q(F.col(vec_col)) / F.lit(float(_Q))
    # try_divide: a zero (or all-null) embedding has norm 0 — yield NULL
    # elements instead of aborting the whole job under ANSI DIVIDE_BY_ZERO
    return df.withColumn(
        vec_col,
        F.transform(
            F.col(vec_col), lambda x: F.try_divide(x.cast("double"), norm).cast("float")
        ),
    )


EMBEDDING_TYPE = T.ArrayType(T.FloatType())


def semantic_dedup(
    corpus: DataFrame,
    num_clusters: int = 16,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then mark a vector as
    a semantic duplicate when a SMALLER-id vector in the SAME cluster has
    cosine similarity above ``threshold``. Output: (id, centroid_id,
    is_dup) — downstream keeps ``~is_dup`` rows, retaining exactly one
    representative (the minimum id) per mutually-similar group, which is
    the greedy keep-first policy of the paper with document id as the
    deterministic keep order.

    Scale shape: the pairwise comparison is an equi-join on
    ``centroid_id`` — cost Σ|cluster|², never corpus², which is the whole
    point of clustering first (the paper's k-means; here the seeded
    deterministic centroid pick of ``ivf_centroids`` — swap in
    ``pyspark.ml`` KMeans when index quality matters more than
    cross-engine reproducibility). Vectors are quantized and normed once
    per row (``_with_qnorm``), each pair costs one zip_with dot product.

    ``max_cluster`` (off by default — it changes results) excludes
    clusters holding more than that many vectors from the PAIRING stage:
    a degenerate cluster of k vectors emits k²/2 pairs, so one
    mega-cluster (near-origin noise, an overloaded seed) can dominate
    the whole job — the same k²/2 hazard ``max_bucket`` caps in
    ``dedup.minhash_candidate_pairs``. Vectors in excluded clusters keep
    their assignment row and report ``is_dup = false`` (never silently
    dropped); the count is one window over the centroid key the pair
    join shuffles on anyway."""
    from pyspark.sql import Window

    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    cents = ivf_centroids(corpus, num_clusters, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1)
    # one materialization feeds the pair join's BOTH sides and the final
    # output — without it the centroid-assignment cross join (the O(N·C)
    # pass over the corpus) re-runs three times (measured: 6 embedding
    # scans at sf0.01 → 2 with the cache; AQE does not reuse the
    # identical subtrees because each sits under a different join)
    pre = cache_scoped(
        _with_qnorm(assigned, id_col, vec_col, "centroid_id"), "semantic_dedup_pre"
    )
    pairable = pre
    if max_cluster is not None:
        w = Window.partitionBy("centroid_id")
        pairable = (
            pre.withColumn("_cn", F.count("*").over(w))
            .filter(F.col("_cn") <= max_cluster)
            .drop("_cn")
        )
    a = pairable.select(
        F.col("centroid_id"),
        F.col(id_col).alias("_ida"),
        F.col("_q").alias("_qa"),
        F.col("_norm").alias("_na"),
    )
    b = pairable.select(
        F.col("centroid_id"),
        F.col(id_col).alias("_idb"),
        F.col("_q").alias("_qb"),
        F.col("_norm").alias("_nb"),
    )
    dup_ids = (
        a.join(b, "centroid_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(
            F.expr(_pair_cosine_sql("_qa", "_na", "_qb", "_nb")) > F.lit(threshold)
        )
        .select(F.col("_idb").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        pre.select(id_col, "centroid_id")
        .join(dup_ids, id_col, "left")
        .select(
            id_col, "centroid_id", F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup")
        )
    )


def ivf_centroids_refined(
    corpus: DataFrame,
    num_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 1,
) -> DataFrame:
    """Seeded centroid pick + DETERMINISTIC Lloyd refinement — the
    k-means upgrade ``ivf_centroids`` defers to "when index quality
    matters", made oracle-hashable: the centroid update is an
    ELEMENT-WISE INTEGER FLOOR-MEAN over the members' quantized vectors
    (``sum(x) div count``), so every round is exact and order-independent
    — float mean k-means diverges between engines in the last ulp and
    can flip assignments.

    Per round: one nearest-centroid assignment (broadcast cross join —
    O(N·C), same as ``ivf_assign``), one posexplode + (centroid, dim)
    aggregate for the means, one array reassembly (``array_sort`` over
    (dim, mean) structs — ``collect_list`` alone is partition-order
    nondeterministic). Clusters that lose all members DISAPPEAR (both
    engines drop them identically); callers needing a fixed C should
    re-seed. The refined centroids come back as double arrays whose
    re-quantization recovers the integer means exactly (|q/10^7·10^7 −
    q| ≪ 0.5)."""
    cents = ivf_centroids(corpus, num_centroids, id_col, vec_col)
    for _ in range(rounds):
        assigned = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1)
        el = assigned.select(
            "centroid_id", F.expr(f"{_qvec_sql(vec_col)} as _q")
        ).select("centroid_id", F.posexplode("_q").alias("i", "x"))
        means = el.groupBy("centroid_id", "i").agg(
            F.expr("sum(x) div count(*)").alias("m")
        )
        cents = (
            means.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("_ims"))
            .select(
                "centroid_id",
                F.expr(
                    f"transform(_ims, s -> cast(s.m as double) / {_Q})"
                ).alias(vec_col),
            )
        )
    return cents


def random_projection(
    df: DataFrame,
    dim: int,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_offset: int = 1000,
) -> DataFrame:
    """Johnson–Lindenstrauss-style dimensionality reduction with the same
    deterministic md5-derived integer hyperplanes the LSH family uses
    (plane j = ``_hyperplane(dim, plane_offset + j)`` — the offset keeps
    the projection matrix independent of the LSH bucketing planes).

    Component j is the EXACT BIGINT dot ``Σ round(x·1e7) · plane_j`` —
    order-independent and engine-exact, so the 4-8× narrower
    representation a downstream clustering/coarse-ANN stage wants stays
    value-hash verifiable (the float-JL matrix never is). All ``out_dim``
    dots fold in ONE pass over the quantized vector via the dim-major
    matrix layout (the ``hyperplane_buckets`` trick); no shuffle, no UDF —
    a pure projection inside whole-stage codegen.

    Output: (id, proj array<long> of length out_dim)."""
    planes = [_hyperplane(dim, plane_offset + j) for j in range(out_dim)]
    mat_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{planes[j][d]}L" for j in range(out_dim)) + ")"
            for d in range(dim)
        )
        + ")"
    )
    dots_sql = (
        f"aggregate(zip_with({_qvec_sql(vec_col)}, {mat_sql}, (x, coeffs) -> "
        "transform(coeffs, c -> x * c)), "
        f"array_repeat(cast(0 as bigint), {out_dim}), "
        "(acc, contrib) -> zip_with(acc, contrib, (a, b) -> a + b))"
    )
    return df.select(F.col(id_col), F.expr(f"{dots_sql} as proj"))


def int8_calibration(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The 1-row per-dimension (min, max) calibration relation
    ``quantize_int8`` scales by — split out so an incremental index can
    STORE it at build time and encode appended vectors against the
    frozen scale (``ivfpq_append``)."""
    el = corpus.select(
        F.col(id_col), F.posexplode(vec_col).alias("pos", "v")
    ).select(id_col, "pos", F.col("v").cast("double").alias("v"))
    stats = el.groupBy("pos").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    return stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("_s")
    ).select(
        F.expr("transform(_s, s -> s.mn)").alias("_mns"),
        F.expr("transform(_s, s -> s.mx)").alias("_mxs"),
    )


def quantize_int8(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    calibration: DataFrame | None = None,
) -> DataFrame:
    """Per-dimension min/max int8 scalar quantization — the standard
    4× shrink for embedding shuffles and vector-index storage (each
    float32 dim becomes one signed byte). At 100 TB of embeddings the
    dominant ANN cost is moving vectors through the bucket-join
    exchanges; quantizing BEFORE the shuffle cuts those bytes 4× while
    keeping recall (scalar-quantized cosine ranks ≈ float ranks for
    min/max-calibrated int8).

    Shape: one (dim → min,max) hash aggregate over the posexploded
    corpus (64·P partial rows, nothing driver-side), reassembled into a
    single 1-row calibration relation of two arrays and broadcast back
    onto the corpus — the quantize itself is a ``transform`` over the
    array, pure codegen. No UDFs, no collect.

    Determinism: the quantized code is
    ``floor((v - mn) * 255 / (mx - mn) + 0.5) - 128`` evaluated in
    DOUBLE. float→double widening is exact, IEEE ops are bit-identical
    across engines for identical operand order, and floor is exact, so
    codes hash-match the DuckDB oracle. A degenerate dimension
    (mx == mn) maps to code 0.

    Returns (id, q int8-coded array<int>, n_dims) — callers feeding the
    LSH/IVF paths can carry ``q`` instead of the float vector.

    ``calibration``: pass a stored ``int8_calibration`` relation to
    encode NEW rows against a FROZEN scale (the incremental-index
    contract: recalibrating on append would silently re-mean every
    stored code). Default derives the calibration from ``corpus``.
    """
    calib = (
        calibration
        if calibration is not None
        else int8_calibration(corpus, id_col, vec_col)
    )
    return (
        corpus.crossJoin(F.broadcast(calib))
        .select(
            F.col(id_col),
            F.expr(_int8_quant_sql(vec_col)).alias("q"),
            F.size(vec_col).alias("n_dims"),
        )
    )


def _int8_quant_sql(vec_col: str) -> str:
    """SQL for the int8 min/max quantize against a joined-in calibration
    row (``_mns``/``_mxs`` array columns in scope).

    least/greatest clamp: a NO-OP when the calibration derives from
    this corpus (every v sits in [mn, mx], so the scaled value lands
    in [0, 255] — the DuckDB oracles replay the unclamped formula and
    still hash-match), but REQUIRED for a frozen external calibration
    (ivfpq_append): a drifted value outside the stored range must
    saturate to a valid int8 code, not overflow the int cast."""
    return (
        f"transform({vec_col}, (v, i) -> CASE WHEN _mxs[i] > _mns[i] THEN "
        "cast(least(greatest(floor((cast(v as double) - _mns[i]) * 255.0D "
        "/ (_mxs[i] - _mns[i]) + 0.5D), 0.0D), 255.0D) as int) - 128 "
        "ELSE 0 END)"
    )


def cosine_topk_int8(
    codes: DataFrame,
    query_codes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k over int8 codes from ``quantize_int8`` —
    the memory-bandwidth-bound ANN variant: the corpus side streams 1
    byte/dim instead of 4, so the scan that dominates brute-force search
    moves 4× less data (and a shuffle-side bucket join moves 4× fewer
    bytes). Same shape as ``cosine_topk``: query side broadcast, corpus
    never shuffles, per-partition top-k heap via row_number.

    Exact-integer inner products (BIGINT sums of code products) make the
    scores engine-deterministic; only the final norm-divide is IEEE
    double. Norms are precomputed per side BEFORE the join so the
    corpus-side norm is one pass, not one per query."""
    from pyspark.sql import Window

    def _norm(col: str):
        return F.sqrt(
            F.expr(
                f"aggregate(transform({col}, x -> cast(x as bigint) * cast(x as bigint)),"
                " 0L, (a, x) -> a + x)"
            ).cast("double")
        )

    q = query_codes.select(
        F.col(id_col).alias("query_id"),
        F.col("q").alias("qa"),
        _norm("q").alias("_na"),
    )
    c = codes.select(F.col(id_col), F.col("q").alias("qb"), _norm("q").alias("_nb"))
    dot = F.expr(
        "aggregate(zip_with(qa, qb, (x, y) -> cast(x as bigint) * cast(y as bigint)),"
        " 0L, (a, x) -> a + x)"
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            id_col,
            (dot.cast("double") / (F.col("_na") * F.col("_nb"))).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# product quantization (PQ): m-subspace codes + asymmetric-distance top-k
# ---------------------------------------------------------------------------


def pq_codebook(
    codes: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
) -> DataFrame:
    """Seeded per-subspace PQ codebook over int8-coded vectors
    (``quantize_int8`` output): ``k`` seeded corpus vectors (md5-of-id
    order — the same deterministic pick as the IVF lists) exploded into
    (code_id, sub, pos, cq) rows — k·D rows total, meant to broadcast
    (and small enough to collect for the numpy encoder)."""
    from pyspark.sql import Window

    md5_order = [F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()]
    picked = codes.orderBy(*md5_order).limit(k)
    # k rows: a single-partition row_number on the picked relation is the
    # plan; single_partition_key states that on purpose without tripping
    # the empty-partition-spec WindowExec warning (lit(0) folds away)
    from muninn_avro_to_parquet_spark.plans.windows import single_partition_key

    wcb = Window.partitionBy(single_partition_key(F.col(id_col))).orderBy(*md5_order)
    return (
        picked.withColumn("code_id", F.row_number().over(wcb) - 1)
        .select("code_id", "n_dims", F.posexplode("q").alias("pos", "cq"))
        .withColumn("sub", F.expr(f"pos div (n_dims div {m})"))
        .select("code_id", "sub", "pos", "cq")
    )


def pq_model(
    codes: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization model over int8-coded vectors
    (``quantize_int8`` output): split each vector into ``m`` subspaces,
    take ``k`` seeded corpus vectors (md5-of-id order — the same
    deterministic pick as the IVF lists) as the per-subspace codebook,
    and assign every vector its nearest code per subspace by EXACT
    integer squared distance (argmin ties broken by code_id).

    Returns ``(dist, enc)``:

    - ``dist``: (vec_id, sub, code_id, dist) — every vector's integer
      squared distance to every code in every subspace. Doubles as the
      encoder input and the ADC lookup table, so it is computed once and
      cached.
    - ``enc``: (vec_id, sub, code_id) — the argmin code assignment; at
      rest this is the entire index: ``m·log2(k)`` bits per vector
      (8 subspaces × 4 bits = 4 BYTES per 64-dim vector, a 64× shrink
      over float32 — the reason PQ is the 100 TB vector-index answer).

    Scale shape: the codebook is k·D rows (broadcast), the distance
    relation is corpus × m × k rows of integers built by ONE broadcast
    equi-join on the subspace id, each row one ``zip_with`` dot over the
    ``slice`` of the vector (r15: no d/m-way position explode, no
    rebuild aggregate — see ``_pq_distances``) — no cross product over
    vectors, and everything downstream of the corpus scan is
    integer-exact (oracle-hashable). At large k the corpus × m × k
    relation itself becomes the bottleneck — ``pq_encode(engine=
    "numpy")`` produces the identical assignment in one Arrow pass with
    no k-fanout, which is how ``ivfpq_index`` builds at the 1M-vector
    bench scale.

    ``m`` should divide the vector dimension; with a non-divisor the
    floor split ``pos div (n_dims div m)`` still partitions dimensions
    deterministically (identically in every engine), but produces up to
    one extra, smaller trailing subspace."""
    cb = pq_codebook(codes, m=m, k=k, id_col=id_col)
    dist = _pq_distances(codes, cb, m, id_col, cache_key="pq_dist")
    return dist, _pq_argmin(dist, id_col)


def _pq_subvectors(codes: DataFrame, m: int, id_col: str) -> DataFrame:
    return codes.select(
        id_col, "n_dims", F.posexplode("q").alias("pos", "vq")
    ).withColumn("sub", F.expr(f"pos div (n_dims div {m})"))


def _pq_distances(
    codes: DataFrame, cb: DataFrame, m: int, id_col: str, cache_key: str
) -> DataFrame:
    """(id, sub, code_id, dist) — integer squared distance of every
    vector's subvector to every code, in ARRAY form (r15 plan audit):
    subspaces are CONTIGUOUS position ranges (``pos div (d div m)``), so
    the subvector is a ``slice`` of ``q`` and the distance one
    ``zip_with`` dot — corpus × m × k rows through the broadcast join,
    each doing one array fold. The previous formulation exploded to
    corpus × d × k rows and rebuilt the pairs with a giant hash
    aggregate (d/m× more join rows, plus a 256k-group agg); at
    production k=256 that fanout was the documented 100 TB blocker.
    Measured at sf0.1: 0.3 vs 1.0 executor-cpu-s for the dist+argmin
    pair, values bit-identical (same integer sums, order-independent).

    A non-divisor ``m`` reproduces the exploded rule exactly: positions
    past ``m·(d div m)`` form one extra, smaller trailing subspace
    (``sub = pos div (d div m)`` reaches ``m``), hence the per-row
    sequence bound below."""
    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    cbarr = cb.groupBy("sub", "code_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cq"))),
            lambda s: s["cq"],
        ).alias("cq_arr")
    )
    sub_len = f"(n_dims div {m})"
    vparts = codes.select(
        id_col,
        F.explode(
            F.expr(f"sequence(0, (n_dims - 1) div {sub_len})")
        ).alias("sub"),
        "n_dims",
        "q",
    ).select(
        id_col,
        "sub",
        F.expr(
            f"slice(q, sub * {sub_len} + 1,"
            f" least({sub_len}, n_dims - sub * {sub_len}))"
        ).alias("vq_arr"),
    )
    dist = vparts.join(F.broadcast(cbarr), "sub").select(
        id_col,
        "sub",
        "code_id",
        F.expr(
            "aggregate(zip_with(vq_arr, cq_arr,"
            " (x, y) -> cast(x - y as bigint) * (x - y)),"
            " 0L, (a, x) -> a + x)"
        ).alias("dist"),
    )
    return cache_scoped(dist, cache_key)


def _pq_argmin(dist: DataFrame, id_col: str) -> DataFrame:
    # min over struct(dist, code_id) = argmin with the (dist ASC,
    # code_id ASC) tie-break as ONE hash aggregate — the former
    # row_number window sorted all corpus × m × k rows to keep one per
    # group (r15 plan audit)
    return (
        dist.groupBy(id_col, "sub")
        .agg(F.min(F.struct("dist", "code_id")).alias("_m"))
        .select(id_col, "sub", F.col("_m.code_id").alias("code_id"))
    )


def _collect_codebook(cb: DataFrame):
    """Driver-side codebook structure for the numpy encoder: per sub,
    (positions asc, code_ids asc, C matrix int64 [codes × positions]).
    k·D rows — a few MB even at m=64 × k=256 × 128 dims."""
    import numpy as np

    cells: dict[int, dict[int, dict[int, int]]] = {}
    for r in cb.collect():
        cells.setdefault(r["sub"], {}).setdefault(r["code_id"], {})[r["pos"]] = r[
            "cq"
        ]
    out = {}
    for sub, by_code in cells.items():
        code_ids = sorted(by_code)
        positions = sorted(next(iter(by_code.values())))
        C = np.array(
            [[by_code[c][p] for p in positions] for c in code_ids], dtype=np.int64
        )
        out[sub] = (
            np.array(positions, dtype=np.int64),
            np.array(code_ids, dtype=np.int32),
            C,
        )
    return out


def pq_encode(
    codes: DataFrame,
    cb: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    engine: str = "catalyst",
    passthrough_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign every vector its nearest code per subspace against an
    explicit codebook ``cb`` (``pq_codebook`` / ``pq_refine_codebook``
    output) → (id, sub, code_id).

    Two engines, bit-identical results (asserted in tests/test_layout):

    - ``catalyst``: the oracle-replayable formulation — one equi-join on
      dimension position + hash aggregate + window argmin. Its
      intermediate is corpus × m × k rows, fine at k=16 but the 100 TB
      blocker at production k=256 (a 1M×128 corpus would stage 32B rows).
    - ``numpy``: ONE Arrow ``mapInPandas`` pass, no k-fanout and no
      shuffle — per batch the squared distance expands to
      ``‖v‖² − 2·V@Cᵀ + ‖c‖²`` (exact int64 matmul; ties break to the
      lowest code_id exactly like the window's (dist, code_id) order).
      This is the encoder the 1M-vector index build uses.

    ``passthrough_cols``: extra ``codes`` columns copied verbatim onto
    every output row (m rows per vector) — ``ivfpq_index`` threads
    ``centroid_id`` through so the stored codes land in their inverted
    list (the FAISS IVFPQ at-rest layout) without a corpus-sized join.
    """
    if engine == "catalyst":
        dist = _pq_distances(codes, cb, m, id_col, cache_key="pq_encode_dist")
        enc = _pq_argmin(dist, id_col)
        if passthrough_cols:
            enc = enc.join(codes.select(id_col, *passthrough_cols), id_col)
        return enc
    if engine != "numpy":
        raise ValueError(f"unknown pq_encode engine: {engine!r}")

    sub_structs = _collect_codebook(cb)
    id_field = codes.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("sub", T.IntegerType(), False),
            T.StructField("code_id", T.IntegerType(), False),
        ]
        + [codes.schema[c] for c in passthrough_cols]
    )
    n_pass = len(passthrough_cols)

    def run(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            # input column order: (id, *passthrough, q)
            V = _arrow_list_matrix(batch.column(1 + n_pass), np.int64)
            subs = sorted(sub_structs)
            picks = []
            for sub in subs:
                positions, code_ids, C = sub_structs[sub]
                Vs = V[:, positions]
                # exact int64 ‖v−c‖²: ‖v‖² − 2 v·c + ‖c‖² (codes ≤ 255,
                # ≤128 dims → |terms| < 2^31, matmul exact in int64)
                d = (
                    (Vs * Vs).sum(axis=1, keepdims=True)
                    - 2 * (Vs @ C.T)
                    + (C * C).sum(axis=1)[None, :]
                )
                # argmin returns the FIRST minimum; code_ids ascend, so
                # ties go to the lowest code_id — the window's order
                picks.append(code_ids[np.argmin(d, axis=1)])
            # one output batch per input batch: m stacked sub-blocks;
            # id/passthrough columns repeat via a type-generic take
            tile = pa.array(np.tile(np.arange(n), len(subs)))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(tile),
                    pa.array(
                        np.repeat(np.array(subs, dtype=np.int32), n),
                        type=pa.int32(),
                    ),
                    pa.array(np.concatenate(picks), type=pa.int32()),
                ]
                + [
                    batch.column(1 + i).take(tile) for i in range(n_pass)
                ],
                names=[id_col, "sub", "code_id", *passthrough_cols],
            )

    return codes.select(id_col, *passthrough_cols, "q").mapInArrow(
        run, schema=out_schema
    )


def pq_refine_codebook(
    codes: DataFrame,
    cb: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    rounds: int = 1,
    engine: str = "catalyst",
) -> DataFrame:
    """Deterministic Lloyd refinement of a PQ codebook: each round
    re-assigns every vector (``pq_encode``) and replaces every
    (sub, code) cell with the ELEMENT-WISE INTEGER FLOOR-MEAN of its
    members' int8 codes (``sum(q) div count``). Exact integer
    arithmetic → refined codebooks are bit-identical in every engine;
    codes that lose all members disappear (both engines drop them
    identically).

    ``engine="numpy"`` computes PER-PARTITION PARTIAL SUMS inside the
    same Arrow pass that assigns codes (``np.add.at`` scatter), so a
    refinement round costs one Arrow pass + a k·D-row aggregate —
    never the corpus × m × k join or the 100M-row members shuffle the
    Catalyst formulation stages. Integer partial sums are
    order-independent, so the global floor-mean is identical."""
    for _ in range(rounds):
        if engine == "catalyst":
            vsub = _pq_subvectors(codes, m, id_col)
            enc = pq_encode(codes, cb, m=m, id_col=id_col, engine="catalyst")
            members = enc.join(vsub, [id_col, "sub"])
            cb = (
                members.groupBy("sub", "code_id", "pos")
                .agg(F.expr("sum(vq) div count(*)").alias("cq"))
                .select("code_id", "sub", "pos", "cq")
            )
        elif engine == "numpy":
            partials = _pq_refine_partials_np(codes, cb, id_col)
            cb = (
                partials.groupBy("sub", "code_id", "pos")
                .agg(F.expr("sum(s) div sum(c)").alias("cq"))
                .select("code_id", "sub", "pos", "cq")
            )
        else:
            raise ValueError(f"unknown pq_refine_codebook engine: {engine!r}")
    return cb


def _pq_refine_partials_np(
    codes: DataFrame, cb: DataFrame, id_col: str
) -> DataFrame:
    """(sub, code_id, pos, s, c) per-batch partial sums for one Lloyd
    round: assignment + scatter-add in a single Arrow pass."""
    sub_structs = _collect_codebook(cb)
    out_schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType(), False),
            T.StructField("code_id", T.IntegerType(), False),
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("s", T.LongType(), False),
            T.StructField("c", T.LongType(), False),
        ]
    )

    def run(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = _arrow_list_matrix(batch.column(0), np.int64)
            subs_o, codes_o, pos_o, s_o, c_o = [], [], [], [], []
            for sub in sorted(sub_structs):
                positions, code_ids, C = sub_structs[sub]
                Vs = V[:, positions]
                d = (
                    (Vs * Vs).sum(axis=1, keepdims=True)
                    - 2 * (Vs @ C.T)
                    + (C * C).sum(axis=1)[None, :]
                )
                pick = np.argmin(d, axis=1)  # row index into code_ids
                sums = np.zeros((len(code_ids), Vs.shape[1]), dtype=np.int64)
                np.add.at(sums, pick, Vs)
                cnt = np.bincount(pick, minlength=len(code_ids)).astype(np.int64)
                live = cnt > 0
                n_live = int(live.sum())
                n_pos = Vs.shape[1]
                subs_o.append(np.full(n_live * n_pos, sub, dtype=np.int32))
                codes_o.append(np.repeat(code_ids[live], n_pos))
                pos_o.append(np.tile(positions.astype(np.int32), n_live))
                s_o.append(sums[live].ravel())
                c_o.append(np.repeat(cnt[live], n_pos))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(subs_o), type=pa.int32()),
                    pa.array(np.concatenate(codes_o), type=pa.int32()),
                    pa.array(np.concatenate(pos_o), type=pa.int32()),
                    pa.array(np.concatenate(s_o), type=pa.int64()),
                    pa.array(np.concatenate(c_o), type=pa.int64()),
                ],
                names=["sub", "code_id", "pos", "s", "c"],
            )

    return codes.select("q").mapInArrow(run, schema=out_schema)


def pq_query_adc(
    codes_q: DataFrame,
    cb: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC lookup tables for a (small) set of query vectors against an
    explicit codebook: (id, sub, code_id, dist) — queries × m × k rows,
    built by the same broadcast equi-join as ``pq_model``'s corpus-wide
    relation but WITHOUT materializing the corpus fanout (the reason a
    built index stores codes + codebook, not distance tables)."""
    vsub = _pq_subvectors(codes_q, m, id_col)
    return (
        vsub.join(F.broadcast(cb), "pos")
        .groupBy(id_col, vsub["sub"].alias("sub"), "code_id")
        .agg(
            F.sum(
                (F.col("vq") - F.col("cq")).cast("long")
                * (F.col("vq") - F.col("cq"))
            ).alias("dist")
        )
    )


def pq_model_refined(
    codes: DataFrame,
    m: int = 8,
    k: int = 16,
    rounds: int = 1,
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Seeded PQ codebooks + deterministic Lloyd refinement per subspace —
    the same oracle-hashable k-means upgrade ``ivf_centroids_refined``
    applies to the coarse quantizer, applied to the product codebooks:
    each round replaces every (sub, code) cell's subvector with the
    ELEMENT-WISE INTEGER FLOOR-MEAN of its assigned members' int8 codes
    (``sum(q) div count``) and re-encodes. Exact integer arithmetic, so
    refined codebooks, assignments, and ADC tables stay bit-identical in
    every engine; codes that lose all members disappear (both engines
    drop them identically). Returns (dist, enc) against the REFINED
    codebooks — drop-in for the ``pq_model`` consumers.

    The subvector relation is cached (r15 audit): it feeds the round-0
    distance build, every round's members join, and every round's
    re-encode — uncached, each consumer re-derived the quantize +
    posexplode subtree from the source scan (measured 2× the cold wall
    of the cached form on the registry entry; the relation is corpus ×
    D integer rows, the same thing ``ivfpq_index`` caches)."""
    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    cb = pq_codebook(codes, m=m, k=k, id_col=id_col)
    vsub = cache_scoped(_pq_subvectors(codes, m, id_col), "pq_refined_vsub")
    dist = _pq_distances(codes, cb, m, id_col, cache_key="pq_dist")
    enc = _pq_argmin(dist, id_col)
    for r in range(rounds):
        members = enc.join(vsub, [id_col, "sub"])
        cb = (
            members.groupBy("sub", "code_id", "pos")
            .agg(F.expr("sum(vq) div count(*)").alias("cq"))
            .select("code_id", "sub", "pos", "cq")
        )
        dist = _pq_distances(codes, cb, m, id_col, cache_key=f"pq_dist_r{r + 1}")
        enc = _pq_argmin(dist, id_col)
    return dist, enc


def ann_topk_pq(
    codes: DataFrame,
    query_pred,
    m: int = 8,
    k: int = 16,
    top_k: int = 10,
    id_col: str = "vec_id",
    refine_rounds: int = 0,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query's
    per-subspace distance table (its row of ``dist``) joins the corpus
    code assignments on (sub, code_id) and sums — the approximate
    squared distance is ``Σ_sub table[code]``, all integer, so ranking
    is engine-deterministic. One equi-join on the (sub, code_id) key;
    the corpus side moves only its m log2(k)-bit codes, never vectors —
    the bandwidth win that makes ADC the standard 100 TB scoring loop.

    ``query_pred`` is a Column predicate over ``codes`` selecting the
    query vectors (they must be part of the indexed corpus; self-matches
    are excluded). ``refine_rounds`` > 0 swaps in the Lloyd-refined
    codebooks (``pq_model_refined``) — same plan shape, better cells.
    Output: (query_id, vec_id, approx_sqdist, rank)."""
    from pyspark.sql import Window

    if refine_rounds > 0:
        dist, enc = pq_model_refined(
            codes, m=m, k=k, rounds=refine_rounds, id_col=id_col
        )
    else:
        dist, enc = pq_model(codes, m=m, k=k, id_col=id_col)
    qtab = dist.filter(query_pred).select(
        F.col(id_col).alias("query_id"), "sub", "code_id", "dist"
    )
    adc = (
        qtab.join(enc, ["sub", "code_id"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("dist").cast("long").alias("approx_sqdist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_sqdist"), F.asc(id_col)
    )
    return adc.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )


def ann_topk_pq_rerank(
    codes: DataFrame,
    query_pred,
    m: int = 8,
    k: int = 16,
    shortlist: int = 50,
    top_k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage PQ search — the production ANN pattern: ADC over
    4-byte PQ codes builds a ``shortlist`` per query (corpus side moves
    only codes), then EXACT int8 cosine re-ranks just the shortlist
    (``shortlist × queries`` pairs, not corpus × queries). Recovers most
    of the recall PQ loses while touching full vectors for ~0.1% of the
    corpus — the reason FAISS-style engines always re-rank.

    Integer code products keep both stages engine-deterministic; output
    is (query_id, vec_id, cosine_sim, rank) like ``cosine_topk_int8``."""
    from pyspark.sql import Window

    cand = ann_topk_pq(
        codes, query_pred, m=m, k=k, top_k=shortlist, id_col=id_col
    ).select("query_id", id_col)

    def _norm(col: str):
        return F.sqrt(
            F.expr(
                f"aggregate(transform({col}, x -> cast(x as bigint) * cast(x as bigint)),"
                " 0L, (a, x) -> a + x)"
            ).cast("double")
        )

    q = codes.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qa"), _norm("q").alias("_na")
    )
    c = codes.select(F.col(id_col), F.col("q").alias("qb"), _norm("q").alias("_nb"))
    dot = F.expr(
        "aggregate(zip_with(qa, qb, (x, y) -> cast(x as bigint) * cast(y as bigint)),"
        " 0L, (a, x) -> a + x)"
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, id_col)
        .select(
            "query_id",
            id_col,
            (dot.cast("double") / (F.col("_na") * F.col("_nb"))).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )


def ann_topk_pq_rerank_exact(
    corpus: DataFrame,
    query_pred,
    m: int = 8,
    k: int = 16,
    shortlist: int = 400,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieve with EXACT final scores — the full production
    pattern: ADC over 4-byte PQ codes shortlists candidates (the corpus
    side moves only codes), then the shortlist joins back to the STORED
    full-precision vectors and scores with the same quantized-exact
    cosine ``cosine_topk`` uses. Where ``ann_topk_pq_rerank`` re-ranks
    in int8 (and inherits its quantization ceiling — measured ~0.74
    recall@10 on the tightly-margined synthetic corpus), this variant's
    recall is bounded ONLY by shortlist containment: at shortlist=400 on
    the sf corpus the ADC shortlist contains 100% of the exact top-10,
    so the result EQUALS brute force while the per-query scan cost is
    codes + shortlist·full-vectors. Output: (query_id, vec_id,
    cosine_sim, rank) with scores identical to ``cosine_topk``."""
    from pyspark.sql import Window

    codes = quantize_int8(corpus, id_col=id_col, vec_col=vec_col)
    cand = ann_topk_pq(
        codes, query_pred, m=m, k=k, top_k=shortlist, id_col=id_col
    ).select("query_id", id_col)
    return _exact_rerank(corpus, cand, query_pred, top_k, id_col, vec_col)


@dataclass
class IvfPqIndex:
    """A built IVF-PQ index: the index-at-rest relations a production
    deployment persists once and queries many times (r10 verdict #6 —
    the nprobe dial must be turnable WITHOUT rebuilding the index).
    ``lists``/``enc`` are cached (together they ARE the index:
    one centroid id + m·log2(k) bits per vector); ``codes`` is the
    cached int8-quantized corpus (query-side ADC tables derive from it
    without re-calibrating), ``codebook`` the k·D-row cell relation;
    ``centroids`` is n_centroids rows, broadcast by every probe
    assignment. The full corpus × m × k ADC distance relation the r11
    index materialized is GONE — it was the bulk of the build wall and
    searches only ever read the query rows.

    Contract for an index assembled outside ``ivfpq_index``: every id
    sits in exactly ONE list (``lists``/``flat`` carry one row per id).
    Searches rely on it to keep (query_id, id) pairs unique without a
    dedup pass, so an id stored in two probed lists is counted twice:
    its ADC partial sums add up, and an exact-scored id can rank twice."""

    centroids: DataFrame
    lists: DataFrame
    codes: DataFrame
    codebook: DataFrame
    enc: DataFrame
    m: int
    k: int
    id_col: str
    vec_col: str
    # the stored int8 calibration (1 row of per-dim min/max): appended
    # vectors MUST encode against this frozen scale — recalibrating
    # would silently re-mean every stored code (see ivfpq_append)
    calib: DataFrame
    # the IVF-FLAT side of the index (FAISS IndexIVFFlat stores the full
    # vectors in its lists for exactly this reason): (id, centroid_id,
    # _q, _norm) — the quantized vectors + norms the exact-cosine stages
    # (``ivfflat_search``, the rerank of ``ivfpq_search``) score against.
    # ONE cached corpus-sized relation backs both this and ``lists``
    # (``lists`` is a column-pruned projection of it); without it every
    # search re-quantized the whole corpus (measured 49 executor-cpu-s
    # per search at 1M x 128) and shuffled it into the candidate join.
    flat: DataFrame


def _resolve_encoder(encoder: str) -> str:
    """``"auto"`` → the numpy Arrow engine (numpy is a dependency of the
    package: ``operators/udaf.py`` imports it); ``"catalyst"`` picks the
    pure-Catalyst formulation. The two are bit-identical
    (tests/test_layout.py); auto picks the one that avoids the
    corpus × m × k Catalyst fanout at scale."""
    return "numpy" if encoder == "auto" else encoder


def ivfpq_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    k: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_rounds: int = 1,
    encoder: str = "auto",
) -> IvfPqIndex:
    """Build the IVF-PQ index once: seeded coarse centroids, one
    integer-cosine assignment pass over the corpus (the IVF lists), the
    PQ codebook (optionally Lloyd-refined ``refine_rounds`` times) and
    the code assignment. At 100 TB this is the write-side job — the
    lists land partitioned by ``centroid_id`` and the codes ride along
    at m·log2(k) bits/vector; every subsequent search touches
    nprobe/n_centroids of it.

    ``encoder="numpy"`` runs BOTH corpus-sized assignment passes as one
    Arrow ``mapInPandas`` each (bit-identical to the Catalyst
    formulations — proven in tests/test_layout.py) and is the scale
    path: the Catalyst list assignment stages corpus × n_centroids rows
    through a window shuffle, and Catalyst code assignment stages a
    corpus × m × k join (32B rows at production k=256 over 1M×128).

    Defaults (r12 verdict #3) ARE the measured production
    configuration — ``k=256, refine_rounds=1, encoder="auto"`` (numpy)
    — the exact build every bench recall/wall claim is based on
    (BENCH ``ann_recall_bigindex``: flat/rerank recall 1.0 at
    nprobe=16/64 over 1M×128). The old ``k=16, refine_rounds=0``
    4-bit-code config that raw-ADC benches proved shortlist-grade at
    best remains available explicitly for the small oracle-replayable
    tests."""
    from concurrent.futures import ThreadPoolExecutor

    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    encoder = _resolve_encoder(encoder)

    # The MODEL relations (centroids, calibration, codebook) are
    # bounded-size artifacts — n_centroids rows, 1 row, k·D rows — that
    # every search subtree references. Materialize them with an eager
    # ``localCheckpoint`` instead of a lazy cache: a cached relation
    # keeps its full logical subtree, so a report assembling several
    # searches over one index re-analyzes (and AQE re-optimizes, once
    # per finished stage) the whole centroid/refine/codebook lineage
    # under every method — measured on ann_recall_report: warm wall
    # 12.7 → 8.6 s, 71 → 64 jobs, values identical. The checkpoint
    # truncates lineage at a tiny LogicalRDD leaf; every consumer join
    # already carries an explicit ``F.broadcast`` hint, so losing the
    # leaf's size statistics cannot flip a join strategy. Block release
    # stays GC-driven (ContextCleaner) — see cacheutil.py for why the
    # scoped explicit-unpersist variant was rejected.
    #
    # The eager materializations used to run as three SEQUENTIAL driver
    # round-trips (the r15 watch-item: +0.3-0.5 s wall per build from
    # jobs the lazy form overlapped under AQE). The centroid pick is
    # independent of the calibration → quantize → codebook chain, so it
    # runs on one driver worker thread while the chain proceeds here
    # (guide §2.6 — concurrent jobs back-fill idle executors; results
    # are unchanged, only the schedule moves).
    with ThreadPoolExecutor(max_workers=1) as pool:
        f_cents = pool.submit(
            lambda: ivf_centroids(
                corpus, n_centroids, id_col, vec_col
            ).localCheckpoint(eager=True)
        )
        calib = int8_calibration(corpus, id_col, vec_col).localCheckpoint(
            eager=True
        )
        cents = f_cents.result()
    # ONE cached corpus relation backs the whole per-row side of the
    # index: (id, centroid_id, _q, _norm, q, n_dims) — the coarse
    # assignment, the exact-cosine quantization the flat/rerank stages
    # score with, and the int8 codes the PQ stages encode from. The
    # numpy engine emits it in a single fused Arrow pass (the assign
    # pass already has the quantized vectors in registers — r16 build
    # audit: assign 4.8 s + separate quantize_int8 materialization
    # 3.3 s collapsed into one ~5 s pass); consumers (``lists``,
    # ``codes``) are column-pruned projections of the same columnar
    # cache, so nothing pays for columns it does not read.
    flat = cache_scoped(
        _ivf_flat(corpus, cents, calib, id_col, vec_col, encoder),
        "ivfpq_flat",
    )
    lists = flat.select(id_col, "centroid_id")
    codes = flat.select(id_col, "q", "n_dims")
    cb = pq_codebook(codes, m=m, k=k, id_col=id_col)
    if refine_rounds:
        cb = pq_refine_codebook(
            codes, cb, m=m, id_col=id_col, rounds=refine_rounds,
            engine=encoder,
        )
    cb = cb.localCheckpoint(eager=True)
    # the stored codes land in their inverted list (centroid_id rides
    # every enc row — the FAISS IVFPQ layout): ADC search restricts
    # candidates with one broadcast of the probed list ids instead of
    # shuffling the whole enc relation into a candidate join per search
    enc = cache_scoped(
        pq_encode(
            flat.select(id_col, "centroid_id", "q", "n_dims"),
            cb,
            m=m,
            id_col=id_col,
            engine=encoder,
            passthrough_cols=("centroid_id",),
        ),
        "ivfpq_enc",
    )
    return IvfPqIndex(
        cents, lists, codes, cb, enc, m, k, id_col, vec_col, calib, flat
    )


def ivfpq_append(
    index: IvfPqIndex, new_rows: DataFrame, encoder: str = "auto"
) -> IvfPqIndex:
    """Append vectors to a built IVF-PQ index WITHOUT rebuilding — the
    streaming-embedding-ingest shape (the incremental-dedup ledger
    discipline applied to the vector index): the model stays FROZEN
    (coarse centroids, PQ codebook, int8 calibration are the stored
    ones) and only the appended rows pay work — one centroid
    assignment, one quantize against the stored calibration, one PQ
    encode. Existing lists/codes/enc rows are untouched (a frozen-model
    append cannot re-mean stored codes), so the result is EXACTLY the
    index ``ivfpq_index`` would build over the union if its model had
    been derived from the base corpus — the property the
    ``ann_ivfpq_append_search`` oracle replays end-to-end.

    Recall caveat: appended vectors quantize-clamp to the base
    calibration range and join the nearest EXISTING list — a drifted
    embedding distribution degrades gracefully (clamped codes, fuller
    lists) and is the signal to schedule a rebuild, exactly as in FAISS
    ``add`` vs retrain."""
    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    encoder = _resolve_encoder(encoder)
    id_col, vec_col = index.id_col, index.vec_col
    # the appended rows get the same fused per-row relation the build
    # stores — assigned against the FROZEN centroids and quantized
    # against the FROZEN calibration. Scope-cached (its own key — the
    # base index's "ivfpq_flat" cache must stay live under the union):
    # the appended index's searches read this union through flat, codes
    # AND enc, and an uncached delta re-ran the fused Arrow pass once
    # per consumer (r16 A/B: append_search 3.07 -> 3.81 s before this
    # cache; one pass + reuse restores it).
    new_flat = cache_scoped(
        _ivf_flat(
            new_rows, index.centroids, index.calib, id_col, vec_col, encoder
        ),
        "ivfpq_append_flat",
    )
    new_lists = new_flat.select(id_col, "centroid_id")
    new_codes = new_flat.select(id_col, "q", "n_dims")
    new_enc = pq_encode(
        new_flat.select(id_col, "centroid_id", "q", "n_dims"),
        index.codebook,
        m=index.m,
        id_col=id_col,
        engine=encoder,
        passthrough_cols=("centroid_id",),
    )
    return IvfPqIndex(
        index.centroids,
        index.lists.unionByName(new_lists),
        index.codes.unionByName(new_codes),
        index.codebook,
        index.enc.unionByName(new_enc),
        index.m,
        index.k,
        id_col,
        vec_col,
        index.calib,
        index.flat.unionByName(new_flat),
    )


def ivfpq_search(
    index: IvfPqIndex,
    corpus: DataFrame,
    query_pred,
    nprobe: int = 2,
    top_k: int = 10,
    rerank: bool = True,
    shortlist: int = 400,
) -> DataFrame:
    """Query a built ``IvfPqIndex``: assign each query to its ``nprobe``
    nearest coarse lists (n_centroids-row broadcast), equi-join the
    probed lists for candidates, score by integer ADC over the stored
    codes, then — BY DEFAULT — re-rank the ADC ``shortlist`` against
    the STORED full-precision vectors with the same quantized-exact
    cosine ``cosine_topk`` computes (r11 verdict #1: compressed ADC
    ranks are shortlist material, not answers — measured at 1M×128,
    raw ADC trails exact-scored flat recall at every nprobe and is not
    even monotone in nprobe, while the reranked path matches flat
    exactly; on margin-free tie geometry raw ADC recall is 0.0 and no
    shortlist saves it). Output
    with ``rerank=True``: (query_id, vec_id, cosine_sim, rank);
    ``rerank=False`` keeps the raw ADC ranking (query_id, vec_id,
    approx_sqdist, rank) for distillation/debugging.

    Only the probe fan-out scales with ``nprobe`` — the recall/cost
    dial turns with NO index work; the rerank stage touches full
    vectors for ``shortlist`` rows per query only."""
    from pyspark.sql import Window

    id_col = index.id_col
    q_lists = ivf_assign(
        corpus.filter(query_pred), index.centroids, id_col, index.vec_col,
        nprobe=nprobe,
    ).select(F.col(id_col).alias("query_id"), "centroid_id")
    qtab = pq_query_adc(
        index.codes.filter(query_pred), index.codebook, m=index.m, id_col=id_col
    ).select(F.col(id_col).alias("query_id"), "sub", "code_id", "dist")
    # the stored codes carry their inverted-list id: candidate
    # restriction is ONE broadcast of the probed (query, list) pairs
    # onto the cached enc relation — no per-search shuffle of the
    # corpus-sized enc into a candidate join (r16: 3.1 → 1.1 s per
    # search at 1M x 128, identical rows). qtab (|queries| x m x k)
    # broadcasts as before; the groupBy's map-side partial aggregate
    # reduces the m rows per candidate before the only exchange. No
    # .distinct() on the candidates: q_lists probes nprobe DISTINCT
    # lists per query and each id sits in exactly ONE list (the
    # IvfPqIndex contract), so (query_id, id) pairs are unique.
    adc = (
        index.enc.join(F.broadcast(q_lists), "centroid_id")
        .filter(F.col("query_id") != F.col(id_col))
        .join(F.broadcast(qtab), ["query_id", "sub", "code_id"])
        .groupBy("query_id", id_col)
        .agg(F.sum("dist").cast("long").alias("approx_sqdist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_sqdist"), F.asc(id_col)
    )
    ranked = adc.withColumn("rank", F.row_number().over(w))
    if not rerank:
        return ranked.filter(F.col("rank") <= top_k)
    short = ranked.filter(F.col("rank") <= shortlist).select("query_id", id_col)
    return _exact_rerank(
        corpus, short, query_pred, top_k, id_col, index.vec_col,
        stored=index.flat,
    )


def _exact_rerank(
    corpus: DataFrame,
    cand: DataFrame,
    query_pred,
    top_k: int,
    id_col: str,
    vec_col: str,
    stored: DataFrame | None = None,
) -> DataFrame:
    """Score a (query_id, id) candidate relation with the exact
    quantized cosine against the stored full-precision vectors and
    rank — the shared final stage of every two-stage retrieve
    (``ann_topk_pq_rerank_exact``, reranked ``ivfpq_search``).

    ``stored`` is an optional pre-quantized (id, ..., _q, _norm)
    relation (an index's ``flat`` side): when given, the corpus side
    reads it instead of re-quantizing ``corpus`` — same values (the
    flat relation IS the stored quantization of the build corpus),
    none of the per-search corpus-wide quantize cost. The candidate ×
    query relation is broadcast (bounded by |queries| x shortlist by
    construction), so the corpus side streams with no exchange."""
    full = (
        stored.select(id_col, "_q", "_norm")
        if stored is not None
        else _with_qnorm(corpus, id_col, vec_col)
    )
    q = _with_qnorm(corpus.filter(query_pred), id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_q").alias("_qq"),
        F.col("_norm").alias("_qnorm"),
    )
    c = full.select(F.col(id_col), "_q", "_norm")
    scored = (
        c.join(
            F.broadcast(cand.join(F.broadcast(q), "query_id")), id_col
        )
        .select(
            "query_id",
            id_col,
            F.expr(
                f"{_pair_cosine_sql('_qq', '_qnorm', '_q', '_norm')} as cosine_sim"
            ),
        )
    )
    return _rank_topk(scored, top_k, id_col)


def ivfflat_search(
    index: IvfPqIndex,
    corpus: DataFrame,
    query_pred,
    nprobe: int = 2,
    top_k: int = 10,
) -> DataFrame:
    """IVF-Flat search over a built index (FAISS ``IndexIVFFlat``): the
    probed lists restrict candidates exactly as ``ivfpq_search``, but
    scoring joins back to the STORED full vectors and ranks by the same
    quantized-exact cosine ``ann_topk_ivf`` uses — recall is bounded
    ONLY by list containment (exact scoring of a candidate superset can
    never evict a true hit from the top-k), which makes the nprobe →
    recall curve provably monotone. The flat row of the 1M bench sweep;
    the gap to the ivfpq row is the ADC compression price.

    Candidates and their vectors come from the STORED index
    (``flat``), whatever ``corpus`` holds now: ``corpus`` only supplies
    the query rows (``query_pred``). Rows filtered out of ``corpus``
    after the build (soft deletes, say) can still be returned; rebuild
    the index to drop them."""
    id_col, vec_col = index.id_col, index.vec_col
    qs = corpus.filter(query_pred)
    q_lists = ivf_assign(
        qs, index.centroids, id_col, vec_col, nprobe=nprobe
    ).select(F.col(id_col).alias("query_id"), "centroid_id")
    qn = _with_qnorm(qs, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_q").alias("_qq"),
        F.col("_norm").alias("_qnorm"),
    )
    # Score against the index's stored flat side: ONE broadcast join
    # on centroid_id attaches each probing query (with its quantized
    # vector) to the stored rows of its probed lists — the corpus is
    # neither re-quantized (measured 49 executor-cpu-s per search at
    # 1M x 128) nor shuffled (the old cand ⋈ corp sort-merge join
    # exchanged the full quantized corpus per search; wall 10.3 →
    # 3.9 s from the join shape alone at nprobe=16/64). The
    # broadcast side is |queries| x nprobe rows of query vectors —
    # the same query-side-is-broadcast-small contract the old plan's
    # qn broadcast already assumed.
    qj = q_lists.join(qn, "query_id")
    scored = (
        index.flat.join(F.broadcast(qj), "centroid_id")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            id_col,
            F.expr(
                f"{_pair_cosine_sql('_qq', '_qnorm', '_q', '_norm')}"
                " as cosine_sim"
            ),
        )
    )
    return _rank_topk(scored, top_k, id_col)


def ann_topk_ivfpq(
    corpus: DataFrame,
    query_pred,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 8,
    k: int = 256,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: bool = True,
    shortlist: int = 400,
    refine_rounds: int = 1,
    encoder: str = "auto",
) -> DataFrame:
    """IVF-PQ: the FAISS-style composition of both index structures —
    coarse IVF lists restrict WHICH vectors are scored (each query reads
    only its ``nprobe`` probed lists, ~nprobe/n_centroids of the corpus),
    and PQ codes decide HOW they are scanned (integer ADC over the
    compressed codes, no vector movement). At 100 TB this is the full
    vector-search architecture: partition pruning × compressed scoring ×
    a ``shortlist``-bounded exact rerank against the stored vectors
    (default ON — see ``ivfpq_search``; pass ``rerank=False`` for the
    raw ADC ranking and its (query_id, vec_id, approx_sqdist, rank)
    schema).

    Everything stays engine-deterministic: the seeded centroid pick and
    integer-cosine assignment come from the IVF path, the codebook and
    ADC tables from the PQ path; the candidate restriction is one
    equi-join on centroid_id, the scoring one equi-join on
    (query, sub, code). One-shot convenience over ``ivfpq_index`` +
    ``ivfpq_search`` — same measured-config defaults (k=256, one Lloyd
    refinement round, auto-numpy encoder; r12 verdict #3)."""
    idx = ivfpq_index(
        corpus, n_centroids, m, k, id_col, vec_col,
        refine_rounds=refine_rounds, encoder=encoder,
    )
    return ivfpq_search(
        idx, corpus, query_pred, nprobe=nprobe, top_k=top_k,
        rerank=rerank, shortlist=shortlist,
    )


def _knn_lists_np(
    lists: DataFrame, k: int, id_col: str, max_list: int
) -> DataFrame:
    """numpy engine for ``knn_graph``: one ``applyInPandas`` over the
    centroid_id exchange. Per list: exact int64 ``Q @ Qᵀ`` (the same
    quantized dot the SQL zip_with computes), the same IEEE norm
    product divide, md5-smallest ``max_list`` target cap, top-k by
    (cosine desc, dst asc). Sources are row-blocked so peak memory is
    ``block × |targets|`` doubles, not ``|list|²``."""
    import hashlib

    out_schema = T.StructType(
        [
            T.StructField("src_id", lists.schema[id_col].dataType, True),
            T.StructField("dst_id", lists.schema[id_col].dataType, True),
            T.StructField("cosine_sim", T.DoubleType(), True),
            T.StructField("rank", T.IntegerType(), False),
        ]
    )

    def run(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "src_id": pd.Series(dtype=pdf[id_col].dtype),
                    "dst_id": pd.Series(dtype=pdf[id_col].dtype),
                    "cosine_sim": pd.Series(dtype="float64"),
                    "rank": pd.Series(dtype="int32"),
                }
            )
        ids = pdf[id_col].to_numpy()
        Q = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["_q"]])
        norms = pdf["_norm"].to_numpy(dtype=np.float64)
        # md5-smallest max_list rows are the candidate TARGETS — the
        # same (md5(id), id) order the Catalyst window cap uses
        if n > max_list:
            md5s = np.array(
                [hashlib.md5(str(i).encode()).hexdigest() for i in ids]
            )
            keep = np.lexsort((ids, md5s))[:max_list]
        else:
            keep = np.arange(n)
        QT, idT, nT = Q[keep], ids[keep], norms[keep]
        frames = []
        take = min(k, len(idT))
        for lo in range(0, n, 2048):
            hi = min(lo + 2048, n)
            dots = (Q[lo:hi] @ QT.T).astype(np.float64)
            denom = norms[lo:hi, None] * nT[None, :]
            # -inf marks a zero-norm pair: Catalyst's try_divide yields
            # NULL cosine there and NULLS-LAST still RANKS the row, so
            # the numpy engine must keep it (as a NULL) too — dropping
            # it would emit fewer edges than the oracle (r12 review)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(denom > 0, dots / denom, -np.inf)
            # NaN marks a self-pair: never emitted (the catalyst filter)
            self_mask = ids[lo:hi, None] == idT[None, :]
            sims = np.where(self_mask, np.nan, sims)
            # top-k by (cosine desc, dst asc): targets pre-sorted by id,
            # stable argsort on the negated key; ascending order puts
            # finite first, +inf (= negated null) next, NaN (self) last
            ordT = np.argsort(idT, kind="stable")
            sims_o, id_o = sims[:, ordT], idT[ordT]
            order = np.argsort(-sims_o, axis=1, kind="stable")[:, :take]
            rows = len(sims_o)
            src = np.repeat(ids[lo:hi], take)
            dst = id_o[order].ravel()
            cs = np.take_along_axis(sims_o, order, axis=1).ravel()
            rk = np.tile(np.arange(1, take + 1, dtype=np.int32), rows)
            ok = ~np.isnan(cs)
            cos_out = pd.array(cs[ok], dtype="Float64")
            cos_out[np.isneginf(cs[ok])] = pd.NA
            frames.append(
                pd.DataFrame(
                    {
                        "src_id": src[ok],
                        "dst_id": dst[ok],
                        "cosine_sim": cos_out,
                        "rank": rk[ok],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    return lists.select(id_col, "_q", "_norm", "centroid_id").groupBy(
        "centroid_id"
    ).applyInPandas(run, schema=out_schema)


def knn_graph(
    corpus: DataFrame,
    k: int = 3,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mutual: bool = False,
    max_list: int = 10_000,
    engine: str = "catalyst",
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the WHOLE corpus:
    every row gets its ``k`` nearest neighbors by exact quantized
    cosine among rows sharing its IVF list — the relation SemDeDup-style
    clustering, graph dedup, and kNN label propagation consume. Where
    ``ann_topk_*`` serve a small query set, this is the all-rows shape:
    the candidate generation is a per-list SELF-join of the corpus
    partitioned by ``centroid_id`` (ONE exchange per side, co-located),
    never an all-pairs cross join.

    Quadratic cost is per-list: ``max_list`` caps each list's candidate
    TARGETS to its md5-smallest members (sources always keep every row,
    so every row still receives neighbors; the cap only binds past
    ``max_list`` members per list — size ``num_centroids`` so average
    list length stays ~sqrt-scale). Recall caveat: a true neighbor in a
    different coarse list is missed — the standard IVF trade; raise
    ``num_centroids`` granularity or re-run on residual singletons when
    recall matters more than cost.

    ``mutual=True`` keeps only edges present in both directions (the
    mutual-kNN form clustering prefers) via one semi-join on the
    reversed key. Output: (src_id, dst_id, cosine_sim, rank).

    Two scoring engines, identical results (asserted in
    tests/test_layout):

    - ``catalyst``: the oracle-replayable formulation — per-list
      equi-join, one zip_with dot aggregate per pair. The lambda
      aggregate is interpreted per element, measured ~8.6k edges/s at
      100k × 64-dim.
    - ``numpy``: one ``applyInPandas`` over the SAME centroid_id
      exchange — per list the exact int64 ``Q @ Qᵀ`` and the same
      single IEEE norm-product divide, top-k by (cosine desc, id asc).
      Bit-identical, an order of magnitude faster; the bench leg's
      engine."""
    from pyspark.sql import Window

    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    cents = cache_scoped(
        ivf_centroids(corpus, num_centroids, id_col, vec_col), "knn_cents"
    )
    lists = cache_scoped(
        _with_qnorm(
            ivf_assign(corpus, cents, id_col, vec_col, nprobe=1, engine=engine),
            id_col,
            vec_col,
            "centroid_id",
        ),
        "knn_lists",
    )
    if engine == "numpy":
        edges = _knn_lists_np(lists, k, id_col, max_list)
    elif engine == "catalyst":
        wcap = Window.partitionBy("centroid_id").orderBy(
            F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
        )
        targets = (
            lists.withColumn("_r", F.row_number().over(wcap))
            .filter(F.col("_r") <= max_list)
            .select(
                "centroid_id",
                F.col(id_col).alias("dst_id"),
                F.col("_q").alias("_tq"),
                F.col("_norm").alias("_tnorm"),
            )
        )
        srcs = lists.select(
            "centroid_id", F.col(id_col).alias("src_id"), "_q", "_norm"
        )
        # Few-key skew gate (the CC/pagerank broadcast-budget
        # discipline): the candidate join's key space is num_centroids
        # values, so on a SMALL corpus the shuffled join lands all
        # scoring work on ≤ num_centroids tasks (16 here vs 32 cores at
        # the bench scale — one straggler stage owned the entry's wall).
        # When the capped target relation's EXACT count proves it fits
        # the session's broadcast budget, broadcast it: the corpus side
        # is then never exchanged and scoring parallelizes over the
        # source partitions. Past the budget (the 100 TB corpus, where
        # num_centroids ~ sqrt(n) keys spread fine) the co-partitioned
        # join is unchanged. One tiny preamble action on the cached
        # lists relation returns count and dimension together.
        from muninn_avro_to_parquet_spark.operators.dedup import (
            _broadcast_threshold_bytes,
        )

        _sz = lists.agg(
            F.count("*").alias("n"),
            F.coalesce(F.max(F.size("_q")), F.lit(0)).alias("d"),
        ).first()
        # 28 B row overhead + ~9 B per quantized element, deliberately fat.
        # Size the CAPPED side that is actually broadcast: targets keeps at
        # most max_list rows per list, so when the cap binds the uncapped
        # corpus count would over-estimate and skip a broadcast that fits
        # (ADVICE r15), reinstating the few-key skew this gate removes.
        n_eff = min(_sz["n"], num_centroids * max_list)
        est_bytes = n_eff * (28 + 9 * _sz["d"])
        if 0 < est_bytes < max(_broadcast_threshold_bytes(corpus.sparkSession), 0):
            targets = F.broadcast(targets)
        scored = (
            srcs.join(targets, "centroid_id")
            .filter(F.col("src_id") != F.col("dst_id"))
            .select(
                "src_id",
                "dst_id",
                F.expr(
                    f"{_pair_cosine_sql('_q', '_norm', '_tq', '_tnorm')}"
                    " as cosine_sim"
                ),
            )
        )
        w = Window.partitionBy("src_id").orderBy(
            F.col("cosine_sim").desc(), F.col("dst_id").asc()
        )
        edges = scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
    else:
        raise ValueError(f"unknown knn_graph engine: {engine!r}")
    if not mutual:
        return edges
    # both sides of the mutuality semi-join read the SAME edge relation;
    # without the scope cache the dominant per-list quadratic stage
    # would execute twice (r12 review)
    edges = cache_scoped(edges, "knn_edges")
    rev = edges.select(
        F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id")
    )
    return edges.join(rev, ["src_id", "dst_id"], "left_semi")
