"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; IVF (coarse quantizer +
probe) is the scale path: at 100 TB the centroid table is tiny (broadcast)
and each query only scans its probed partitions — with the embedding table
pre-partitioned by centroid id this becomes partition pruning.

All vector math stays JVM-side: ``zip_with`` + ``aggregate`` lambdas compile
to Catalyst expressions (no Python UDF, no per-row Python cost).
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cache_scope

def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(_dot(a, a))


def _cosine(a: str, b: str) -> F.Column:
    """Zero-norm-safe cosine: a degenerate (all-zero) vector gets sim 0.0
    instead of a DIVIDE_BY_ZERO under Spark's default ANSI mode (neutral:
    it never clears a similarity threshold and ranks last). The DuckDB
    oracles mirror this via ``catalog_data._cos_sql``'s CASE guard."""
    den = _norm(a) * _norm(b)
    return F.when(den == F.lit(0.0), F.lit(0.0)).otherwise(_dot(a, b) / den)


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return emb.withColumn("norm", _norm(vec_col))


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact brute-force cosine top-k for each query id (self excluded).

    The query side is tiny and broadcast; similarity + per-query top-k run as
    one shuffle on q_id. Returns: q_id, vec_id, sim, rank.
    """
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    joined = emb.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("q_id"))
    sim = _cosine("q_vec", vec_col)
    scored = joined.select(
        "q_id", F.col(id_col), F.round(sim, round_to).alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", id_col, "sim", "rank")
    )


def _big_int_to_double(x: int) -> float:
    """Python mirror of decimate.big_to_double: exact big integer ->
    double via sign x (hi*2^64 + mid*2^32 + lo), SAME IEEE op order as
    the SQL expression — Spark-side driver math and the DuckDB oracle
    see the bit-identical double for any |x| < 2^117."""
    b32, b64 = 4294967296, 18446744073709551616
    a = abs(x)
    sign = -1.0 if x < 0 else 1.0
    return sign * (
        float(a // b64) * float(b64)
        + float((a % b64) // b32) * float(b32)
        + float(a % b32)
    )


def pca_top_component(
    emb: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    dim: int = 64,
) -> DataFrame:
    """Top principal component of the embedding corpus, the
    deterministic distributed way. The DISTRIBUTED work is the exact
    scatter matrix S_ij = n·Σ(x_i x_j) − Σx_i·Σx_j over the quantized
    integer grid — one scan, dim² map-combined DECIMAL(38,0) sums
    (n·covariance·n, exact integers). The dim x dim eigensolve is
    bounded DRIVER-side metadata math (exactly where production
    systems put it): an UNNORMALIZED power iteration in IEEE doubles
    with fixed ascending-index fold order — v₀ = ones, v_{k+1} = S·v_k
    (no per-step normalization; 2–3 iterations stay far inside the
    double range since |S_ij| ≲ 1e27), u = v_iters/‖v_iters‖, λ = the
    Rayleigh quotient (v_k·v_{k-1})/(v_{k-1}·v_{k-1}). Exact integers
    cross the engine boundary through the big_to_double decomposition
    and every float op is a left fold, so the DuckDB oracle (same
    unrolled iteration over the same exact S) reproduces u, λ, and the
    per-vector projections bit-for-bit — the whitening/compression
    direction a pipeline uses before truncation or quantization.

    Returns a tall DataFrame: kind='component1'/'component2'
    (i = 1..dim, value = u_i for the top two Hotelling-deflated
    directions), kind='lambda' (i = 1 and 2, the Rayleigh eigenvalues),
    and kind='projection1'/'projection2' rows for ``query_ids``
    (value = Σ u_j · xq_j). A DEGENERATE scatter (single vector,
    all-identical or all-zero corpus: S is exactly the zero matrix in
    integer arithmetic) returns zero components and lambda 0.0 instead
    of crashing on 0/0 (round-10 review)."""
    spark = emb.sparkSession
    xq = F.expr(
        f"transform({vec_col}, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )
    out_schema = "kind string, i int, value double"
    q = emb.select(F.col(id_col).alias("_id"), xq.alias("q"))
    # S is symmetric: aggregate only the upper triangle (j >= i) — half
    # the exploded rows and half the shuffled groups — and mirror when
    # the bounded dim² result is assembled driver-side below (the (j,i)
    # entry is the same commutative product, so the mirrored double is
    # bit-identical). r11 optimization; guide §2.3 "shuffle fewer bytes".
    pairs = q.select(
        F.posexplode("q").alias("i", "xi"), F.col("q")
    ).select("i", "xi", F.posexplode("q").alias("j", "xj")).filter("j >= i")
    s2 = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xi").cast("decimal(38,0)") * F.col("xj")).alias("sxx"),
    )
    s1 = q.select(F.posexplode("q").alias("i", "xi")).groupBy("i").agg(
        F.sum(F.col("xi").cast("decimal(38,0)")).alias("sx")
    )
    rows = (
        s2.join(s1, "i")
        .join(
            s1.select(F.col("i").alias("j"), F.col("sx").alias("sy")), "j"
        )
        .select(
            "i", "j",
            (
                F.col("n").cast("decimal(38,0)") * F.col("sxx")
                - F.col("sx") * F.col("sy")
            ).alias("s"),
        )
        .collect()  # dim² scatter entries: bounded metadata, the same
        # contract as the planner's probe stats
    )
    if not rows:
        return spark.createDataFrame([], out_schema)
    seen_dim = max(r["j"] for r in rows) + 1
    if seen_dim != dim:
        # longer vectors would IndexError below; shorter ones would
        # null-pad zip_with and silently NULL every projection
        raise ValueError(
            f"pca_top_component: dim={dim} but {vec_col!r} has "
            f"{seen_dim} components — pass dim={seen_dim}"
        )
    S = [[0.0] * dim for _ in range(dim)]
    for r in rows:  # upper triangle + symmetric mirror
        v = _big_int_to_double(int(r["s"]))
        S[r["i"]][r["j"]] = v
        S[r["j"]][r["i"]] = v

    def _power(M: list[list[float]]) -> tuple[list[float], float]:
        """Unnormalized power iteration with fixed ascending folds;
        returns (unit eigenvector, Rayleigh eigenvalue)."""
        v = [1.0] * dim
        prev = v
        for _ in range(iters):
            prev = v
            w = []
            for i in range(dim):
                acc = 0.0
                for j in range(dim):  # fixed ascending fold order
                    acc += M[i][j] * prev[j]
                w.append(acc)
            v = w
        num = den = 0.0
        for i in range(dim):
            num += v[i] * prev[i]
            den += prev[i] * prev[i]
        nrm = 0.0
        for i in range(dim):
            nrm += v[i] * v[i]
        nrm = math.sqrt(nrm)
        if den == 0.0 or nrm == 0.0:
            # exactly-zero scatter (degenerate corpus): the direction is
            # undefined — return the zero vector and lambda 0.0 rather
            # than raising ZeroDivisionError driver-side
            return [0.0] * dim, 0.0
        return [x / nrm for x in v], num / den

    u1, lam1 = _power(S)
    # Hotelling deflation with the computed pair — the standard
    # truncated power method; the second direction is approximate to
    # the extent (u1, lam1) is, and its quality is a MEASURED property
    # (orthogonality pinned in tests), never assumed
    S2 = [
        [S[i][j] - lam1 * u1[i] * u1[j] for j in range(dim)]
        for i in range(dim)
    ]
    u2, lam2 = _power(S2)

    out = [("component1", i + 1, u1[i]) for i in range(dim)]
    out += [("component2", i + 1, u2[i]) for i in range(dim)]
    out.append(("lambda", 1, lam1))
    out.append(("lambda", 2, lam2))
    comp = spark.createDataFrame(out, out_schema)
    if not query_ids:
        return comp.orderBy("kind", "i")

    def _proj(kind: str, u: list[float]) -> DataFrame:
        # literal array as ONE parsed expression, not 64 F.lit calls
        # (~2-3 ms of py4j each — r11 build-cost pass). repr(float) is
        # the shortest round-trip form and Spark's double parsing is
        # correctly rounded, so the 'D' literals are bit-identical.
        # Non-finite components (an overflowed power iteration) have no
        # 'D' literal form — repr gives 'nan'/'inf', which fails to
        # parse where the old F.lit path propagated them (r11 review);
        # emit the cast-from-string spelling for exactly those.
        def lit(x: float) -> str:
            x = float(x)
            if math.isfinite(x):
                return f"{x!r}D"
            s = "NaN" if math.isnan(x) else (
                "Infinity" if x > 0 else "-Infinity")
            return f"CAST('{s}' AS DOUBLE)"

        uv = "array(" + ", ".join(lit(x) for x in u) + ")"
        ids = ", ".join(str(int(i)) for i in query_ids)
        return q.filter(f"_id IN ({ids})").selectExpr(
            f"'{kind}' AS kind",
            "CAST(_id AS INT) AS i",
            f"aggregate(zip_with(q, {uv}, (a, b) ->"
            " CAST(a AS DOUBLE) * b), CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + x) AS value",
        )

    return (
        comp.unionByName(_proj("projection1", u1))
        .unionByName(_proj("projection2", u2))
        .orderBy("kind", "i")
    )


def hard_negatives(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the ``k`` MOST similar vectors carrying a DIFFERENT label — the
    negatives nearest the decision boundary, the ones that actually
    move a contrastive loss (in-batch random negatives are mostly
    easy). Exact brute-force baseline: queries broadcast, one shuffle
    on q_id; at corpus scale run the IVF-PQ shortlist first and apply
    the label-exclusion filter on the shortlist (the
    :func:`rerank_shortlist` composition — negatives only need to be
    hard, not provably hardest).

    Returns (q_id, vec_id, label, sim, rank), rank 1..k per query."""
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("_q_label"),
    )
    joined = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("q_id"))
        .filter(F.col(label_col) != F.col("_q_label"))
    )
    sim = _cosine("q_vec", vec_col)
    scored = joined.select(
        "q_id", F.col(id_col), F.col(label_col),
        F.round(sim, round_to).alias("sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", id_col, label_col, "sim", "rank")
    )


def _batch_cosine_udf():
    """Arrow/numpy exact-cosine verify kernel — ONE definition (r12)
    shared by the SRP verify and the exact all-pairs baseline.

    SEQUENTIAL left fold over dimensions, vectorized across pairs:
    numpy's ``.sum`` is PAIRWISE summation, which can differ from the
    oracle's list_sum (a strict left fold — probed empirically) in the
    last ulp; a sim landing on a round-to-4 midpoint would then flip
    pair membership between the engines (round-10 review). One
    elementwise add per dimension keeps the numpy speed and the fold
    order — the same order as the Catalyst ``fold_dot``/``fold_norm``
    expressions, so swapping either form for the other is bit-exact.

    Returned marked ``asNondeterministic`` (guide §4.4, r12): the
    ``sim >= threshold`` filter was otherwise pushed below the UDF
    projection, evaluating the kernel — and shipping the two vectors
    per candidate across Arrow — TWICE (two ArrowEvalPython nodes in
    the r12 'before' plan). Pure function; the flag only stops the
    optimizer duplicating it."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _batch_cosine(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        a = np.stack(va.to_numpy()).astype(np.float64)
        b = np.stack(vb.to_numpy()).astype(np.float64)
        n = a.shape[0]
        num = np.zeros(n)
        na2 = np.zeros(n)
        nb2 = np.zeros(n)
        for j in range(a.shape[1]):
            num += a[:, j] * b[:, j]
            na2 += a[:, j] * a[:, j]
            nb2 += b[:, j] * b[:, j]
        den = np.sqrt(na2) * np.sqrt(nb2)
        # zero-norm guard: NaN would PASS `sim >= threshold` (NaN compares
        # greater in Spark) and rank first — 0.0 is the neutral value
        safe = np.where(den == 0.0, 1.0, den)
        return pd.Series(np.where(den == 0.0, 0.0, num / safe))

    return _batch_cosine.asNondeterministic()


#: Refuse the exact all-pairs baselines above this input size: 100k rows is
#: already 5e9 candidate pairs — far past where the LSH paths win, and a
#: plausible accidental "run it on the corpus" foot-gun at real scale.
EXACT_PAIRS_MAX_ROWS = 100_000


def _guard_exact_pairs(df, op: str, alternative: str, max_rows: int | None):
    if max_rows is None:
        return  # guard disabled: do not pay the count job either
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"{op}: input has {n} rows; the exact all-pairs scan is O(n^2) "
            f"and is capped at {max_rows} rows as a recall/oracle baseline. "
            f"Use {alternative} for large corpora, or pass max_rows=None to "
            "override deliberately."
        )


def cosine_near_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    max_rows: int | None = EXACT_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all (a, b), a < b, with
    ``cos(a, b) >= threshold``. O(n²) baseline — the oracle/recall anchor
    for the LSH-bucketed scale path (:func:`srp_near_pairs`), and the ONE
    place the plan audit permits a CartesianProduct. Inputs larger than
    ``max_rows`` are refused with a pointer at the LSH path (the count is
    a single bounded metadata job). Returns: id_a, id_b, sim."""
    _guard_exact_pairs(
        emb, "cosine_near_pairs",
        "similarity.srp_near_pairs (SRP-LSH buckets + exact verify)",
        max_rows,
    )
    # r12: the n² cosines run through the shared Arrow/numpy verify
    # kernel (bit-exact same sequential fold as the `_cosine` Catalyst
    # expression — see _batch_cosine_udf) instead of interpreted
    # higher-order-function lambdas, which measured ~55 s at a mere
    # n=2000 (≈700M interpreted lambda steps). One side of the
    # cartesian is spread over the cores FIRST (a compact input scan is
    # one partition, so the product — and the kernel — otherwise ran as
    # a single task); repartitioning after the product would shuffle
    # both vector payloads per pair.
    par = emb.sparkSession.sparkContext.defaultParallelism
    a = (
        emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        .repartition(par, "id_a")
    )
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    sim = F.round(_batch_cosine_udf()(F.col("va"), F.col("vb")), round_to)
    return (
        pairs.select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def _srp_sign_matrix(n_bits: int, n_bands: int, dim: int, seed: int):
    """(dim x n_bits*n_bands) ±1 hyperplane matrix; sign(j, i) = parity of
    a splitmix-style integer mix — fully deterministic, identical on every
    executor and reproducible in SQL (`catalog_data._sql_srp_near_dup`)."""
    import numpy as np

    total = n_bits * n_bands
    j = np.arange(total, dtype=np.int64)[None, :]
    i = np.arange(dim, dtype=np.int64)[:, None]
    mixed = (seed * (j * dim + i + 1)) % 2147483647
    return np.where(mixed % 2 == 0, 1.0, -1.0)


def srp_signature(
    emb: DataFrame,
    n_bits: int = 16,
    n_bands: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    seed: int = 0x9E3779B9,
) -> DataFrame:
    """Signed-random-projection (SimHash-for-vectors) banded signatures.

    Each of ``n_bands`` bands hashes ``n_bits`` projections into one bucket
    id; near-identical vectors collide in at least one band w.h.p. The
    projection is ONE Arrow-batched numpy matmul per batch
    (``(batch x dim) @ (dim x total)`` — BLAS), ~50x faster than the
    equivalent per-row Catalyst fold lambdas once total > ~100 projections,
    and bit-compatible with the sequential-fold reference implementation
    (:func:`srp_signature_expr`, equality pinned in tests — a sign could
    only differ if a projection lands within float-summation-order noise of
    exactly 0, probability ~1e-14 per projection). Adds columns ``band``
    and ``bucket`` (exploded: one row per band).
    """
    from pyspark.sql.functions import pandas_udf

    S = _srp_sign_matrix(n_bits, n_bands, dim, seed)

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        import numpy as np

        V = np.stack(v.to_numpy()).astype(np.float64)
        bits = (V @ S) >= 0  # (batch, total)
        w = (1 << np.arange(n_bits - 1, -1, -1, dtype=np.int64))
        b = bits.reshape(len(V), n_bands, n_bits).astype(np.int64) @ w
        return pd.Series(list(b))

    # asNondeterministic (guide §4.4, r12): posexplode's implicit
    # `size(..) > 0` filter was pushed below the UDF projection, so the
    # signature matmul ran TWICE over the whole corpus (two
    # ArrowEvalPython nodes in the r12 'before' plan). The function is
    # pure — the flag only stops the optimizer duplicating it.
    _buckets = _buckets.asNondeterministic()

    return (
        emb.withColumn("_bkts", _buckets(F.col(vec_col)))
        .select("*", F.posexplode("_bkts").alias("band", "bucket"))
        .drop("_bkts")
    )


def srp_signature_expr(
    emb: DataFrame,
    n_bits: int = 16,
    n_bands: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    seed: int = 0x9E3779B9,
) -> DataFrame:
    """Reference implementation of :func:`srp_signature` as pure Catalyst
    ``aggregate``/``zip_with`` lambdas (sequential fold, same order as the
    DuckDB oracle's ``list_sum``). Kept for the equality test; the numpy
    path is the production one."""
    total = n_bits * n_bands
    sign = (
        f"(CASE WHEN ((({seed} * (j * {dim} + i + 1)) % 2147483647) % 2) = 0"
        " THEN 1.0 ELSE -1.0 END)"
    )
    proj = (
        f"transform(sequence(0, {total - 1}), j -> "
        f"aggregate(zip_with({vec_col}, sequence(0, {dim - 1}),"
        f" (x, i) -> CAST(x AS DOUBLE) * {sign}),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    bits = f"transform({proj}, p -> CASE WHEN p >= 0 THEN 1 ELSE 0 END)"
    d = emb.withColumn("_bits", F.expr(bits))
    bucket = F.expr(
        f"aggregate(slice(_bits, band * {n_bits} + 1, {n_bits}),"
        " 0L, (acc, b) -> acc * 2 + b)"
    )
    return (
        d.withColumn("band", F.explode(F.expr(f"sequence(0, {n_bands - 1})")))
        .withColumn("bucket", bucket)
        .drop("_bits")
    )


def auto_srp_bits(n_rows: int) -> int:
    """Bucket-width sizing for SRP banding: ``n_bits = max(8, ceil(log2 n)
    + 3)`` keeps the expected band-bucket occupancy ``n / 2^n_bits`` at
    ~1/8 — O(1) — so same-bucket candidate pairs are O(n) per band instead
    of the O(n²/2^n_bits) a FIXED width degrades to as the corpus grows.
    This is the knob that makes the plan survive a 100× scale-up: at n=1e9
    it yields 33-bit buckets (bucket ids stay in one long)."""
    import math

    return max(8, math.ceil(math.log2(max(n_rows, 2))) + 3)


def fold_dot(a: str, b: str) -> str:
    """Sequential-fold dot product as a Catalyst expression — the ONE
    definition of the file's core bit-exactness discipline (every float
    reduction is a left fold in the same order as the SQL oracle);
    previously copy-pasted into two functions (round-10 review)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def fold_norm(a: str) -> str:
    """Sequential-fold L2 norm (see :func:`fold_dot`)."""
    return (
        f"sqrt(aggregate(transform({a}, x -> x * x),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )


def srp_candidate_pairs(
    emb: DataFrame,
    n_bits: int | None = None,
    n_bands: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 0,
) -> DataFrame:
    """Same-bucket SRP candidate pairs (id_a < id_b, deduped across bands).

    ``n_bits=None`` auto-sizes from the corpus count via
    :func:`auto_srp_bits` (one cheap count job — plan-time statistics, the
    same move a cost-based optimizer makes). The signature table is
    materialized once (``persist``); the bucket join carries ids only, so
    vectors never enter the shuffle.

    ``n_probes > 0`` enables **multi-probe LSH**: in each band, one side of
    the join additionally probes the buckets at Hamming distance 1 from
    its own (``bucket XOR (1 << k)`` for ``k < n_probes``;
    ``n_probes = n_bits`` covers every 1-bit neighbor). A near pair whose
    band signatures disagree in exactly one of the flipped bits still
    collides, which multiplies the per-band collision probability from
    ``p^b`` to ``p^b + q·p^(b-1)(1-p)`` at ~``(1+q)×`` candidate cost —
    the standard recall repair in the weak-gap regime (loose thresholds)
    where plain banding's S-curve is too steep. Probe buckets are pure
    integer XOR (no float margins), so the pair set has an exact SQL
    oracle on any engine."""
    if n_bits is None:
        n_bits = auto_srp_bits(emb.count())
    base = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    # cores-derived spread BEFORE the persist (guide §2, r12): the
    # signature table inherits the scan's partitioning — a compact
    # parquet input is ONE partition, which serialized the whole
    # probe-explode ⋈ bucket join and its partial pair-dedup into a
    # single task. The cached signature carries the spread to every
    # consumer; ~24 B/row, so the one-time exchange is tiny.
    sig = (
        srp_signature(base, n_bits=n_bits, n_bands=n_bands, dim=dim, vec_col="_v")
        .select("_id", "band", "bucket")
        .repartition(
            emb.sparkSession.sparkContext.defaultParallelism, "_id", "band"
        )
    )
    sig = cache_scope.persist(sig)
    if n_probes > 0:
        # probe side = base bucket + its Hamming-1 neighbors; index side
        # stays base-only, so the blowup is (1+q)x one side, not (1+q)^2.
        # Either endpoint's probes can discover a pair (the join runs both
        # orders and normalizes), so 1-bit disagreements in flipped
        # positions are always caught.
        probes = F.expr(
            f"transform(sequence(0, {n_probes - 1}),"
            " k -> bucket ^ shiftleft(CAST(1 AS BIGINT), k))"
        )
        left = sig.select(
            "_id",
            "band",
            F.explode(F.concat(F.array(F.col("bucket")), probes)).alias("bucket"),
        )
    else:
        left = sig
    x = left.select(F.col("_id").alias("_xid"), "band", "bucket")
    y = sig.select(F.col("_id").alias("_yid"), "band", "bucket")
    # `<` instead of `!=` + least/greatest: the probe relation is
    # XOR-symmetric (x's probe set contains y's base bucket iff their
    # band signatures differ in exactly one flipped bit — a condition
    # symmetric in x and y — so y's probe set contains x's base bucket
    # too, in the same band), and base-base matches are trivially
    # symmetric; every unordered pair therefore appears in BOTH
    # orientations and keeping only _xid < _yid provably preserves the
    # distinct pair set while HALVING the join output that feeds the
    # dedup exchange (guide §2.3 shuffle fewer bytes; r12 — candidate
    # set equality pinned by the oracle and test_similarity).
    return (
        x.join(y, ["band", "bucket"])
        .filter(F.col("_xid") < F.col("_yid"))
        .select(
            F.col("_xid").alias("id_a"),
            F.col("_yid").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def srp_near_pairs(
    emb: DataFrame,
    threshold: float,
    n_bits: int | None = None,
    n_bands: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    n_probes: int = 0,
) -> DataFrame:
    """LSH-bucketed near-duplicate pairs: SRP band buckets -> same-bucket
    candidate join -> exact cosine verify ``>= threshold``.

    At 100 TB this is the real plan, and its shape matters:

    - ``n_bits=None`` (default) auto-sizes bucket width to the corpus so
      expected occupancy stays O(1) (:func:`auto_srp_bits`) — the
      candidate set is O(n · n_bands), not quadratic;
    - the **signature table is materialized once** (``persist``) — the
      projection lambdas are the expensive expression, and a naive
      self-join would recompute them on both sides;
    - the candidate join carries **ids only** (id, band, bucket ≈ 24
      bytes/row) — vectors never enter the bucket shuffle or the pair
      dedup;
    - exact verification of the surviving candidate pairs is an
      **Arrow-batched numpy kernel** (`pandas_udf`), vectorized batch
      dots rather than interpreted higher-order-function lambdas.

    Recall honesty: recall < 1 by LSH nature and is governed by the
    S-curve ``1-(1-p^n_bits)^n_bands`` with ``p = 1 - θ/π``. At a LOOSE
    threshold like cos 0.4 (θ≈66°, p≈0.63) the gap to random pairs
    (p≈0.5) is small — NO plain-banding parameterization of a
    sign-projection family is simultaneously high-recall and
    sub-quadratic there (LSH exponent ρ≈0.66). ``n_probes`` (multi-probe,
    :func:`srp_candidate_pairs`) is the repair: full Hamming-1 probing
    (``n_probes = n_bits``) lifts the per-band collision probability from
    ``p^b`` to ``p^b + b·p^(b-1)(1-p)`` at ``(1+b)×`` candidate cost —
    measured recall at the catalog's τ=0.4 goes 0.085 → ≥0.5 (floor
    pinned in tests/test_similarity.py; recall-vs-probes table in
    PERF.md). At true near-dup thresholds (≥0.9, p≥0.85) even plain
    banding gives recall ≈ 1. Precision = 1 always (exact verify).
    """
    base = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    cand = srp_candidate_pairs(
        base, n_bits=n_bits, n_bands=n_bands, dim=dim, id_col="_id",
        vec_col="_v", n_probes=n_probes,
    )
    sim = F.round(_batch_cosine_udf()(F.col("va"), F.col("vb")), round_to)
    # cosine verification is an Arrow/numpy kernel over ~2·dim doubles
    # per candidate — compute-bound while the id-pair rows are tiny;
    # spread it over the cores (guide §2, cores-derived — see the dedup
    # module's verify repartitions)
    cand = cand.repartition(
        cand.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
    )
    return (
        cand.join(base.select(F.col("_id").alias("id_a"),
                              F.col("_v").alias("va")), "id_a")
        .join(base.select(F.col("_id").alias("id_b"),
                          F.col("_v").alias("vb")), "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Elementwise mean vector per label — the coarse quantizer ('train'
    step) for IVF. posexplode + groupBy(label, pos) keeps it JVM-side."""
    ex = emb.select(
        F.col(label_col), F.posexplode(vec_col).alias("pos", "val")
    )
    per_dim = ex.groupBy(label_col, "pos").agg(
        F.avg(F.col("val").cast("double")).alias("c")
    )
    return (
        per_dim.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            label_col,
            F.expr("transform(pc, x -> x.c)").alias("centroid"),
        )
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
) -> DataFrame:
    """IVF-style ANN: probe the ``n_probe`` nearest label-centroids per
    query, exact cosine inside the probed cells only.

    Approximate: recall < 1 vs :func:`cosine_topk` when a true neighbor
    lives in an unprobed cell. Returns: q_id, vec_id, sim, rank.
    """
    cent = label_centroids(emb, label_col=label_col, vec_col=vec_col)
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    qc = q.crossJoin(F.broadcast(cent))
    csim = _cosine("q_vec", "centroid")
    wq = Window.partitionBy("q_id").orderBy(F.desc("csim"), F.col(label_col))
    probes = (
        qc.withColumn("csim", csim)
        .withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= n_probe)
        .select("q_id", "q_vec", label_col)
    )
    cand = emb.join(
        F.broadcast(probes), on=label_col
    ).filter(F.col(id_col) != F.col("q_id"))
    sim = _cosine("q_vec", vec_col)
    scored = cand.select("q_id", F.col(id_col), F.round(sim, round_to).alias("sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", id_col, "sim", "rank")
    )


def kmeans_clusters(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic distributed K-Means (fixed-iteration Lloyd) — the
    iterative ML primitive under IVF index building, engineered so the
    result is BIT-IDENTICAL on any cluster size and in the SQL oracle:

    - components quantize once to scaled int64 (round-half-up at 9
      decimal places — floor(x·1e9 + 0.5), the same unambiguous
      quantization the TPC-H money sums use; decimal CASTs are avoided
      because engines disagree on cast rounding modes at midpoints);
    - centroid updates are exact integer sums per (cluster, dim) — the
      one shuffle per iteration, order-insensitive by construction —
      then ONE exact-to-double conversion and an IEEE division;
    - distances are sequential-fold ``aggregate(zip_with(...))`` lambdas
      (same summation order as the oracle's ``list_sum``), never a
      float sum over an exploded shuffle;
    - seeds are the first ``k`` vectors by id (deterministic init — at
      scale swap in k-means|| and the rest of the plan is unchanged);
      assignment ties break on the lower cluster id.

    ``iters`` is fixed (no convergence probe): each iteration is one
    broadcast of k tiny centroid arrays against the vector table, so
    plan depth stays linear and the oracle can unroll the same chain.
    Returns (cluster, n_vecs, centroid_norm) in the ORIGINAL (unscaled)
    space.
    """
    final, cent = _kmeans_fit(emb, k, iters, id_col, vec_col)
    norm = (
        "sqrt(aggregate(transform(_c, x -> (x / 1000000000.0)"
        " * (x / 1000000000.0)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    return (
        final.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(cent, "cluster")
        .select("cluster", "n_vecs", F.expr(norm).alias("centroid_norm"))
    )


def _kmeans_fit(
    emb: DataFrame, k: int, iters: int, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """Core deterministic Lloyd loop (see :func:`kmeans_clusters`).
    Returns (assignments (_id, _vq, cluster), centroids (cluster, _c))."""
    q = F.expr(
        f"transform({vec_col}, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )
    v = emb.select(F.col(id_col).alias("_id"), q.alias("_vq"))
    to_d = "transform(_vq, x -> CAST(x AS DOUBLE))"
    # seeds = the first k vectors BY ID ORDER (not ids < k, which yields
    # fewer/zero seeds for 1-based or hashed id spaces): TakeOrdered pulls
    # the k smallest ids scale-safely, then cluster ordinals come from a
    # window over just those k rows. For dense 0-based ids (the fixtures)
    # cluster == id, bit-identical to the unrolled SQL oracle.
    seeds = v.orderBy("_id").limit(k)
    wseed = Window.orderBy("_id")
    cent = (
        seeds.withColumn("_rn", F.row_number().over(wseed))
        .select(
            (F.col("_rn") - 1).cast("int").alias("cluster"),
            F.expr(to_d).alias("_c"),
        )
    )

    dist2 = (
        f"aggregate(zip_with({to_d}, _c, (a, b) -> (a - b) * (a - b)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )

    def assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
        d = vecs.crossJoin(F.broadcast(centroids)).withColumn(
            "_d2", F.expr(dist2)
        )
        w = Window.partitionBy("_id").orderBy("_d2", "cluster")
        return (
            d.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("_id", "_vq", "cluster")
        )

    def recompute(assigned: DataFrame) -> DataFrame:
        e = assigned.select(
            "cluster", F.posexplode("_vq").alias("pos", "comp")
        )
        agg = e.groupBy("cluster", "pos").agg(
            # decimal(38,0): a bigint sum of 1e9-grid components
            # overflows int64 near the 100 TB envelope (~1e9-row
            # clusters x |c|>9); the decimal sum is the same exact
            # integer at any tested SF (round-10 review — same fix as
            # the PCA scatter and pq_staleness_audit)
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        per_dim = agg.select(
            "cluster", "pos",
            (F.col("_s").cast("double") / F.col("_n")).alias("_m"),
        )
        return (
            per_dim.groupBy("cluster")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, _m))),"
                    " s -> s._m)"
                ).alias("_c")
            )
        )

    for _ in range(iters):
        cent = recompute(assign(v, cent))
    return assign(v, cent), cent


def kmeans_ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_clusters: int = 8,
    iters: int = 2,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k probe over the deterministic K-Means index: assign the
    corpus once, rank each query's centroids by cosine, search only the
    ``n_probe`` nearest cells with exact cosine inside. The index is the
    learned (unsupervised) partition — unlike :func:`ivf_topk`'s
    label-based cells, this needs no labels. Every arithmetic step is a
    sequential fold over the quantized components, so results are
    bit-identical across parallelism and engines.

    Returns (q_id, vec_id, sim, rank).
    """
    assigned, cent = _kmeans_fit(emb, n_clusters, iters, id_col, vec_col)
    assigned = cache_scope.persist(assigned)
    to_d = "transform({c}, x -> CAST(x AS DOUBLE))"

    qv = (
        assigned.filter(F.col("_id").isin(list(query_ids)))
        .select(F.col("_id").alias("q_id"),
                F.expr(to_d.format(c="_vq")).alias("_qd"))
    )
    qc = qv.crossJoin(F.broadcast(cent)).withColumn(
        "_csim",
        F.expr(
            f"CASE WHEN ({fold_norm('_qd')} * {fold_norm('_c')}) = 0.0"
            f" THEN 0.0 ELSE {fold_dot('_qd', '_c')}"
            f" / ({fold_norm('_qd')} * {fold_norm('_c')}) END"
        ),
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("_csim"), "cluster")
    probes = (
        qc.withColumn("_crank", F.row_number().over(wq))
        .filter(F.col("_crank") <= n_probe)
        .select("q_id", "_qd", "cluster")
    )
    cand = probes.join(assigned, "cluster").filter(
        F.col("_id") != F.col("q_id")
    )
    vd = to_d.format(c="_vq")
    sim = F.round(
        F.expr(
            f"CASE WHEN ({fold_norm('_qd')} * {fold_norm(vd)}) = 0.0"
            f" THEN 0.0 ELSE {fold_dot('_qd', vd)}"
            f" / ({fold_norm('_qd')} * {fold_norm(vd)}) END"
        ),
        4,
    )
    scored = cand.select("q_id", F.col("_id").alias("vec_id"), sim.alias("sim"))
    wr = Window.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "sim", "rank")
    )


def kmeans_assignments(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector cluster id from the deterministic Lloyd fit (see
    :func:`kmeans_clusters` for the bit-stability construction).
    Returns: ``id_col``, cluster."""
    a, _ = _kmeans_fit(emb, k, iters, id_col, vec_col)
    return a.select(F.col("_id").alias(id_col), "cluster")


def semantic_dedup_pairs(
    emb: DataFrame,
    threshold: float,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: pairwise cosine is
    computed only WITHIN each K-Means cluster of the deterministic Lloyd
    fit (:func:`kmeans_clusters`) — the clustering is the blocking key
    that makes embedding-level dedup tractable (Abbas et al., SemDeDup;
    also the LAION dedup recipe).

    100 TB shape: the per-cluster self-join is an equi-join on the
    cluster id, so total candidate cost is Σ|cluster|² — controlled by
    picking ``k`` proportional to n (constant target cluster size), at
    which point cost is O(n·cluster_size), not O(n²). Unlike the SRP-LSH
    path this has no recall S-curve *within* a cluster (every
    intra-cluster pair is verified exactly); misses are exactly the near
    pairs the quantizer separates — the same trade the published
    pipelines accept. Vectors do enter the cluster-key shuffle, which is
    why real deployments persist the assignment table once (here: the
    Lloyd fit is shared via ``_kmeans_fit``).

    Cosine runs over the quantized integer components with sequential
    folds (same order as the SQL oracle), so the pair set is
    bit-reproducible at any parallelism. Returns (cluster, id_a, id_b,
    sim) with ``sim >= threshold``, id_a < id_b.
    """
    assigned, _ = _kmeans_fit(emb, k, iters, id_col, vec_col)
    # persist: the helper self-joins the assignment, and without a cache
    # the full multi-shuffle Lloyd chain re-executes on BOTH join sides
    # (round-10 review; semantic_dedup below already did this)
    assigned = cache_scope.persist(assigned)
    return _semantic_pairs_from_assigned(assigned, threshold, round_to)


def _semantic_pairs_from_assigned(
    assigned: DataFrame, threshold: float, round_to: int = 4
) -> DataFrame:
    """Within-cluster verified pairs from a precomputed Lloyd assignment
    (``_kmeans_fit`` output) — split out so summary queries can share ONE
    fit instead of re-running the iteration chain per consumer."""
    to_d = "transform({c}, x -> CAST(x AS DOUBLE))"

    a = assigned.select(
        "cluster", F.col("_id").alias("id_a"),
        F.expr(to_d.format(c="_vq")).alias("_da"),
    )
    b = assigned.select(
        "cluster", F.col("_id").alias("id_b"),
        F.expr(to_d.format(c="_vq")).alias("_db"),
    )
    sim = F.round(
        F.expr(
            f"CASE WHEN ({fold_norm('_da')} * {fold_norm('_db')}) = 0.0"
            f" THEN 0.0 ELSE {fold_dot('_da', '_db')}"
            f" / ({fold_norm('_da')} * {fold_norm('_db')}) END"
        ),
        round_to,
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("cluster", "id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup keep/drop summary per cluster: a vector is DROPPED when a
    smaller-id vector in the same cluster has cosine >= threshold ("keep
    the first copy" — deterministic, order-free). Returns (cluster,
    n_vecs, n_dup_pairs, n_dropped, n_kept). The Lloyd fit runs ONCE
    (persisted assignment shared by the size and pair branches)."""
    assigned, _ = _kmeans_fit(emb, k, iters, id_col, vec_col)
    assigned = cache_scope.persist(assigned)
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vecs"))
    pairs = _semantic_pairs_from_assigned(assigned, threshold)
    stats = pairs.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("id_b").alias("n_dropped"),
    )
    return (
        sizes.join(stats, "cluster", "left")
        .select(
            "cluster",
            "n_vecs",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce("n_dropped", F.lit(0))).alias("n_kept"),
        )
    )


#: input quantization scale for the int8 audit: 6 decimal places holds
#: every float32 embedding component exactly enough that the audit's
#: "ground truth" is the 1e-6-gridded input on EVERY engine.
_Q_IN = 1_000_000


def quantize_audit(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 embedding quantization audit — the storage/serving
    compression step (float32 -> int8 + per-vector scale, 4x smaller)
    with its reconstruction error measured EXACTLY.

    Arithmetic is engineered for bit-identical results on any engine and
    any parallelism (the audit feeds a value-hash gate):

    - components grid to int64 at 1e-6 (``floor(x·1e6 + 0.5)``) — the
      gridded value is the audit's ground truth;
    - per-vector scale ``s = max |xi|``; int8 code
      ``q = sign(xi) · ((|xi|·254 + s) div (2s))`` — round-half-up in
      pure integer arithmetic (no float division whose midpoint rounding
      engines could disagree on), q ∈ [-127, 127] by construction;
    - per-component reconstruction error ``|xi·127 − q·s|`` is an EXACT
      int64 (units of 127e-6); per-vector max and per-label sums stay
      integral until the single final division.

    100 TB shape: pure map over the vector column + ONE hash aggregation
    on the label — no joins, no windows; the error sums are partial-agg
    friendly. Returns (label, n_vecs, n_exact, max_abs_err,
    mean_max_abs_err) where errors are in original embedding units.
    """
    xi = f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * {_Q_IN}.0 + 0.5) AS BIGINT))"
    d = emb.select(F.col(label_col).alias("label"), F.expr(xi).alias("_xi"))
    d = d.withColumn(
        "_s",
        F.expr("greatest(array_max(transform(_xi, x -> abs(x))), CAST(1 AS BIGINT))"),
    )
    q = (
        "transform(_xi, x -> CAST(sign(x) AS BIGINT)"
        " * ((abs(x) * 254 + _s) div (2 * _s)))"
    )
    err = "zip_with(_xi, _q, (x, q) -> abs(x * 127 - q * _s))"
    d = (
        d.withColumn("_q", F.expr(q))
        .withColumn("_vmax_err", F.expr(f"array_max({err})"))
    )
    scale = 127.0 * _Q_IN
    return (
        d.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("_vmax_err") == 0).cast("long")).alias("n_exact"),
            F.max("_vmax_err").alias("_max_i"),
            F.sum("_vmax_err").alias("_sum_i"),
        )
        .select(
            "label",
            "n_vecs",
            "n_exact",
            (F.col("_max_i").cast("double") / F.lit(scale)).alias("max_abs_err"),
            (
                F.col("_sum_i").cast("double")
                / (F.col("n_vecs").cast("double") * F.lit(scale))
            ).alias("mean_max_abs_err"),
        )
    )


def kmeans_cluster_representatives(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    per_cluster: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Representative subset ("coreset") selection: the ``per_cluster``
    members closest to their cluster's centroid, from the deterministic
    Lloyd fit — the standard recipe for a small eval/inspection set that
    covers the corpus's modes instead of sampling blindly.

    Ranking uses the same sequential-fold quantized distance the
    assignment step uses (the oracle's rank-1 equivalence extends to
    rank-R; ties break by id). One broadcast of k centroids + one
    per-cluster rank window over the assignment table — no new shuffle
    shape beyond :func:`kmeans_assignments`. Returns (cluster, rank,
    id_col).
    """
    assigned, cent = _kmeans_fit(emb, k, iters, id_col, vec_col)
    to_d = "transform(_vq, x -> CAST(x AS DOUBLE))"
    dist2 = (
        f"aggregate(zip_with({to_d}, _c, (a, b) -> (a - b) * (a - b)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    d = assigned.join(F.broadcast(cent), "cluster").withColumn(
        "_d2", F.expr(dist2)
    )
    w = Window.partitionBy("cluster").orderBy("_d2", "_id")
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_cluster)
        .select("cluster", "rank", F.col("_id").alias(id_col))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the 100 TB embedding-compression standard
# ---------------------------------------------------------------------------


def pq_fit_encode(
    emb: DataFrame,
    m: int = 4,
    sub_dim: int = 16,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_books: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Train PQ codebooks and encode every vector (Jégou et al. 2011,
    public algorithm): the vector splits into ``m`` subspaces of
    ``sub_dim`` dims; each subspace gets its own deterministic
    scaled-int Lloyd codebook (:func:`_kmeans_fit` — bit-identical at
    any parallelism); a vector's code is its nearest centroid per
    subspace. Returns:

      * codes: (_id, subspace, code, _vq) — one row per (vector,
        subspace), ``_vq`` the quantized subvector for audit math;
      * codebooks: (subspace, cluster, _c) — centroid component lists.

    At 100 TB this is the ANN memory story: m * ceil(log2 k) bits per
    vector instead of 4 * dim bytes. All m subspace fits run as ONE
    composite-key Lloyd — `subspace` simply joins the grouping keys, so
    an iteration costs one assign + one recompute job regardless of m
    (never m sequential fits; same math, same seeds, same tie-breaks as
    the per-subspace formulation the SQL oracle unrolls)."""
    sub_expr = (
        f"transform(sequence(0, {m - 1}), j -> struct(CAST(j AS INT) AS"
        f" subspace, transform(slice({vec_col}, j * {sub_dim} + 1,"
        f" {sub_dim}), c -> CAST(floor(CAST(c AS DOUBLE) * 1000000000.0"
        " + 0.5) AS BIGINT)) AS vq))"
    )
    v = (
        emb.select(F.col(id_col).alias("_id"), F.explode(F.expr(sub_expr)).alias("_s"))
        .select("_id", F.col("_s.subspace").alias("subspace"), F.col("_s.vq").alias("_vq"))
    )

    # seeds: the k smallest ids, cluster ordinal = rank by id (the
    # _kmeans_fit convention, per subspace — id sets are identical)
    seed_ids = emb.select(F.col(id_col).alias("_id")).orderBy("_id").limit(k)
    return _pq_core_fit(
        v, seed_ids, k, iters, checkpoint_books=checkpoint_books
    )


def _pq_core_fit(
    v: DataFrame,
    seed_ids: DataFrame,
    k: int,
    iters: int,
    extra_cols: tuple[str, ...] = (),
    checkpoint_books: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Composite-key Lloyd over a prebuilt subspace table ``v`` =
    (_id, subspace, _vq BIGINT list): the shared engine behind
    :func:`pq_fit_encode` (raw subvectors) and :func:`ivfpq_fit_encode`
    (IVF residual subvectors — same units across cells, so ONE shared
    codebook per subspace). ``seed_ids`` carries the k seed vector ids;
    cluster ordinal = rank by id per subspace. ``extra_cols`` ride
    through to the returned code table unchanged (IVF-PQ threads the
    vector's cell this way — no codes⋈cells join at build time)."""
    wseed = Window.partitionBy("subspace").orderBy("_id")
    to_d = "transform(_vq, x -> CAST(x AS DOUBLE))"
    cent = (
        v.join(F.broadcast(seed_ids), "_id")
        .withColumn("_rn", F.row_number().over(wseed))
        .select(
            "subspace",
            (F.col("_rn") - 1).cast("int").alias("cluster"),
            F.expr(to_d).alias("_c"),
        )
    )

    dist2 = (
        f"aggregate(zip_with({to_d}, _c, (a, b) -> (a - b) * (a - b)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )

    def assign(centroids: DataFrame) -> DataFrame:
        d = v.join(F.broadcast(centroids), "subspace").withColumn(
            "_d2", F.expr(dist2)
        )
        w = Window.partitionBy("_id", "subspace").orderBy("_d2", "cluster")
        return (
            d.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("_id", "subspace", "_vq", "cluster", *extra_cols)
        )

    def recompute(assigned: DataFrame) -> DataFrame:
        e = assigned.select(
            "subspace", "cluster", F.posexplode("_vq").alias("pos", "comp")
        )
        agg = e.groupBy("subspace", "cluster", "pos").agg(
            F.sum("comp").alias("_s"), F.count(F.lit(1)).alias("_n")
        )
        per_dim = agg.select(
            "subspace", "cluster", "pos",
            (F.col("_s").cast("double") / F.col("_n")).alias("_m"),
        )
        return per_dim.groupBy("subspace", "cluster").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, _m))),"
                " s -> s._m)"
            ).alias("_c")
        )

    for _ in range(iters):
        cent = recompute(assign(cent))
    if checkpoint_books:
        # materialize the FINAL codebooks once (m x k tiny rows) for
        # callers that action codes and books SEPARATELY (the session
        # pq-fit cache: books.count() then codes' persist) — each action
        # would re-run the whole Lloyd chain. OPT-IN only: inside a
        # single action the chain's duplicate subtrees are deduped by
        # exchange reuse, and an eager checkpoint there measured SLOWER
        # (ivfpq_adc_recall 1.6 -> 4.2 s — blocking jobs replacing
        # reused exchanges).
        cent = cent.localCheckpoint()
    codes = assign(cent).select(
        "_id", "subspace", F.col("cluster").alias("code"), "_vq", *extra_cols
    )
    return codes, cent


def pq_codebook_audit(
    emb: DataFrame,
    m: int = 4,
    sub_dim: int = 16,
    k: int = 4,
    iters: int = 2,
    fit: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Per-(subspace, code) audit of the trained PQ index: population,
    worst-case in-cell quantization distance, and the centroid norm —
    every value either integer or a single-divide/fixed-fold double, so
    the unrolled-SQL oracle matches bit-for-bit (the kmeans_clusters
    contract, times m subspaces). Pass ``fit`` (a pq_fit_encode result)
    to audit an existing index instead of refitting."""
    codes, books = fit if fit is not None else pq_fit_encode(
        emb, m, sub_dim, k, iters
    )
    to_d = "transform(_vq, x -> CAST(x AS DOUBLE))"
    dist2 = (
        f"aggregate(zip_with({to_d}, _c, (a, b) -> (a - b) * (a - b)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    # name-based join: codes now DERIVES from the checkpointed books
    # (shared lineage), so dataframe-attribute equality predicates are
    # ambiguous self-join references; renaming the build side and
    # joining USING-style resolves cleanly and keeps the broadcast
    bk = books.select(
        "subspace", F.col("cluster").alias("code"), F.col("_c").alias("_bc")
    )
    dist2_bc = (
        f"aggregate(zip_with({to_d}, _bc, (a, b) -> (a - b) * (a - b)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    joined = (
        codes.join(F.broadcast(bk), ["subspace", "code"])
        .select("subspace", "code", F.expr(dist2_bc).alias("_d2"))
    )
    norms = books.select(
        "subspace",
        F.col("cluster").alias("code"),
        F.expr(
            "sqrt(aggregate(transform(_c, x -> (x / 1000000000.0)"
            " * (x / 1000000000.0)), CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + x))"
        ).alias("centroid_norm"),
    )
    return (
        joined.groupBy("subspace", "code")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.max("_d2").alias("max_d2"))
        .join(F.broadcast(norms), ["subspace", "code"])
        .orderBy("subspace", "code")
    )


def l2_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact L2 top-k over the scaled-int representation (the metric PQ
    approximates — cosine_topk audits the cosine family). Guarded
    brute-force baseline: distances are fixed-fold doubles over the
    quantized components, ties break on vec_id, so the ranking is
    bit-portable."""
    q = F.expr(
        f"transform({vec_col}, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )
    v = emb.select(F.col(id_col).alias("vec_id"), q.alias("_vq"))
    queries = v.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("_vq").alias("_qq")
    )
    d2 = (
        "aggregate(zip_with(_vq, _qq, (a, b) ->"
        " (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"
        " * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    pairs = (
        v.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("_d2", F.expr(d2))
    )
    w = Window.partitionBy("q_id").orderBy("_d2", "vec_id")
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("q_id", "vec_id", F.col("_d2").alias("d2"))
    )


def pq_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m: int = 4,
    sub_dim: int = 16,
    kc: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ index: per query, a
    LUT of (subspace, code) -> exact query-to-centroid distance (m * kc
    doubles — tiny, broadcast), then every database vector's ADC
    distance is m LUT lookups summed in FIXED subspace order (pivoted
    columns, not a float agg, so the double is engine-portable). The
    100 TB shape: the scan touches only the (vector, code) table — m
    small ints per vector — never the raw embeddings. Pass ``fit`` (a
    pq_fit_encode result) to search an existing index instead of
    refitting."""
    codes, books = fit if fit is not None else pq_fit_encode(
        emb, m, sub_dim, kc, iters, id_col, vec_col
    )

    sub_expr = (
        f"transform(sequence(0, {m - 1}), j -> struct(CAST(j AS INT) AS"
        f" subspace, transform(slice({vec_col}, j * {sub_dim} + 1,"
        f" {sub_dim}), c -> CAST(floor(CAST(c AS DOUBLE) * 1000000000.0"
        " + 0.5) AS BIGINT)) AS qq))"
    )
    qsub = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("q_id"), F.explode(F.expr(sub_expr)).alias("_s"))
        .select("q_id", F.col("_s.subspace").alias("subspace"), F.col("_s.qq").alias("_qq"))
    )
    d2 = (
        "aggregate(zip_with(_qq, _c, (a, b) ->"
        " (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    lut = qsub.join(F.broadcast(books), "subspace").select(
        "q_id",
        "subspace",
        F.col("cluster").alias("code"),
        F.expr(d2).alias("_d2"),
    )

    per_sub = codes.join(F.broadcast(lut), ["subspace", "code"]).select(
        "q_id", "_id", "subspace", "_d2"
    )
    pivoted = per_sub.groupBy("q_id", "_id").agg(
        *[
            F.max(F.when(F.col("subspace") == j, F.col("_d2"))).alias(f"_d{j}")
            for j in range(m)
        ]
    )
    adc_expr = F.col("_d0")
    for j in range(1, m):
        adc_expr = adc_expr + F.col(f"_d{j}")
    scored = pivoted.select(
        "q_id", F.col("_id").alias("vec_id"), adc_expr.alias("adc")
    ).filter(F.col("vec_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("q_id", "vec_id", "adc")
    )


def ivfpq_fit_encode(
    emb: DataFrame,
    n_cells: int = 8,
    coarse_iters: int = 2,
    m: int = 8,
    sub_dim: int = 8,
    kpq: int = 8,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """IVF-PQ index build (Jégou et al. 2011 §V: coarse quantizer +
    product-quantized RESIDUALS — the FAISS ``IVFPQ`` structure, the
    production 100 TB ANN index): a deterministic coarse Lloyd
    partitions vectors into ``n_cells`` Voronoi cells; each vector is
    then PQ-encoded by its residual against its cell's centroid, so
    the codebooks spend their bits on the (much smaller) within-cell
    spread instead of the global one.

    Bit-portability: the coarse centroid is re-quantized onto the same
    x1e9 integer grid as the vectors (``floor(c + 0.5)`` of the
    exact-sum/count double — identical IEEE ops both engines), so every
    residual is an exact BIGINT in SHARED units across cells — which is
    what lets ALL cells share one codebook per subspace and the whole
    fit run as the same composite-key Lloyd as plain PQ
    (:func:`_pq_core_fit`). Search touches only (cell, code) smallints
    per vector; the scan never reads raw embeddings.

    Returns (cells (_id, cell), cq (cell, _cq BIGINT centroid), codes
    (_id, subspace, code, _vq residual slice, cell — the inverted
    list, join-free), books (subspace, cluster, _c double centroid in
    residual units)).
    """
    assigned, cent = _kmeans_fit(emb, n_cells, coarse_iters, id_col, vec_col)
    cq = cent.select(
        F.col("cluster").alias("cell"),
        F.expr("transform(_c, x -> CAST(floor(x + 0.5) AS BIGINT))").alias("_cq"),
    )
    cells = assigned.select("_id", F.col("cluster").alias("cell"), "_vq")
    res = cells.join(F.broadcast(cq), "cell").select(
        "_id", "cell", F.expr("zip_with(_vq, _cq, (a, b) -> a - b)").alias("_r")
    )
    sub_expr = (
        f"transform(sequence(0, {m - 1}), j -> struct(CAST(j AS INT) AS"
        f" subspace, slice(_r, j * {sub_dim} + 1, {sub_dim}) AS vq))"
    )
    v = (
        res.select("_id", "cell", F.explode(F.expr(sub_expr)).alias("_s"))
        .select("_id", "cell", F.col("_s.subspace").alias("subspace"),
                F.col("_s.vq").alias("_vq"))
    )
    seed_ids = emb.select(F.col(id_col).alias("_id")).orderBy("_id").limit(kpq)
    codes, books = _pq_core_fit(v, seed_ids, kpq, pq_iters, extra_cols=("cell",))
    return cells.select("_id", "cell"), cq, codes, books


def ivfpq_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 8,
    coarse_iters: int = 2,
    m: int = 8,
    sub_dim: int = 8,
    kpq: int = 8,
    pq_iters: int = 2,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-ADC search over the IVF-PQ index: per query, rank cells by
    L2 to the quantized coarse centroid and probe the ``n_probe``
    nearest; within probed cells, the asymmetric distance is the PQ
    LUT of the QUERY'S RESIDUAL against that cell — d(q,x) ≈
    Σ_j ||(q - c(cell))_j - book_j(code_j(x))||² (Jégou Eq. 13). Every
    LUT is (n_queries × n_probe × m × kpq) doubles — tiny, broadcast —
    and the per-vector work is m smallint lookups summed in FIXED
    subspace order (pivoted columns), so the ranking is engine-portable
    and the scan reads only the code table.

    Build-vs-search: the code table carries each vector's cell from
    the fit (threaded through the Lloyd core — the inverted list needs
    NO build join); the search side joins only broadcast probe / LUT
    tables, so the whole path is scan + broadcasts + one top-k window.

    Returns (q_id, vec_id, adc) — top-k per query, ties on vec_id.
    """
    index = ivfpq_fit_encode(
        emb, n_cells, coarse_iters, m, sub_dim, kpq, pq_iters,
        id_col, vec_col,
    )
    queries = emb.filter(F.col(id_col).isin(query_ids))
    return ivfpq_search(
        index, queries, k=k, m=m, sub_dim=sub_dim, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )


def ivfpq_search(
    index: tuple[DataFrame, DataFrame, DataFrame, DataFrame],
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    sub_dim: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a PREBUILT IVF-PQ index (the tuple from
    :func:`ivfpq_fit_encode`) for an arbitrary query table — the
    build-once / search-many surface a served index actually has:
    :func:`ivfpq_adc_topk` wraps it for self-queries, and the streaming
    leg calls it per micro-batch against the frozen index. A query id
    equal to a corpus id is excluded from its own results (self-match
    suppression); external query ids simply never match."""
    cells_unused, cq, codes, books = index
    # the code table already carries each vector's cell (threaded
    # through the Lloyd core) — the inverted list exists join-free
    codes_cell = codes

    qexpr = F.expr(
        f"transform({vec_col}, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )
    qv = queries.select(F.col(id_col).alias("q_id"), qexpr.alias("_qvq"))
    cd2 = (
        "aggregate(zip_with(_qvq, _cq, (a, b) ->"
        " (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"
        " * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    qc = qv.crossJoin(F.broadcast(cq)).withColumn("_cd2", F.expr(cd2))
    wprobe = Window.partitionBy("q_id").orderBy("_cd2", "cell")
    probes = (
        qc.withColumn("_rn", F.row_number().over(wprobe))
        .filter(F.col("_rn") <= n_probe)
        .select(
            "q_id", "cell",
            F.expr("zip_with(_qvq, _cq, (a, b) -> a - b)").alias("_qr"),
        )
    )
    qsub_expr = (
        f"transform(sequence(0, {m - 1}), j -> struct(CAST(j AS INT) AS"
        f" subspace, slice(_qr, j * {sub_dim} + 1, {sub_dim}) AS qq))"
    )
    qsub = (
        probes.select("q_id", "cell", F.explode(F.expr(qsub_expr)).alias("_s"))
        .select("q_id", "cell", F.col("_s.subspace").alias("subspace"),
                F.col("_s.qq").alias("_qq"))
    )
    ld2 = (
        "aggregate(zip_with(_qq, _c, (a, b) ->"
        " (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    lut = qsub.join(F.broadcast(books), "subspace").select(
        "q_id", "cell", "subspace",
        F.col("cluster").alias("code"), F.expr(ld2).alias("_d2"),
    )

    cand = codes_cell.join(
        F.broadcast(probes.select("q_id", "cell")), "cell"
    ).filter(F.col("_id") != F.col("q_id"))
    per_sub = cand.join(
        F.broadcast(lut), ["q_id", "cell", "subspace", "code"]
    ).select("q_id", "_id", "subspace", "_d2")
    pivoted = per_sub.groupBy("q_id", "_id").agg(
        *[
            F.max(F.when(F.col("subspace") == j, F.col("_d2"))).alias(f"_d{j}")
            for j in range(m)
        ]
    )
    adc_expr = F.col("_d0")
    for j in range(1, m):
        adc_expr = adc_expr + F.col(f"_d{j}")
    scored = pivoted.select(
        "q_id", F.col("_id").alias("vec_id"), adc_expr.alias("adc")
    )
    w = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("q_id", "vec_id", "adc")
    )


def pq_staleness_audit(
    emb: DataFrame,
    train_pred: "F.Column",
    m: int = 8,
    sub_dim: int = 8,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Frozen-codebook staleness audit — the "when do I retrain?"
    signal of a production PQ/IVF-PQ index: codebooks are trained ONCE
    on the rows where ``train_pred`` holds, every later batch is
    encoded against those FROZEN books (per-vector assignment, no
    refit — how a live index absorbs inserts), and this audit compares
    the quantization error the two populations actually see. A rising
    new/train error ratio is distribution drift eating the index's
    recall; retraining is the fix.

    Exactness: each centroid is re-quantized onto the vectors' x1e9
    integer grid (the ivfpq_fit_encode convention), so every
    per-(vector, subspace) error is an exact BIGINT, per-population
    sums are exact DECIMAL(38,0), and the means/ratio are
    single-divide doubles — order-independent, value-hash-checkable.

    Returns per subspace: n_train, n_new, mean_qerr_train,
    mean_qerr_new, drift_ratio (NULL when a population is empty or the
    train error is exactly 0).
    """
    train = emb.filter(train_pred)
    codes_unused, books = pq_fit_encode(
        train, m=m, sub_dim=sub_dim, k=k, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    bq = books.select(
        "subspace", "cluster",
        F.expr("transform(_c, x -> CAST(floor(x + 0.5) AS BIGINT))").alias("_cq"),
    )
    sub_expr = (
        f"transform(sequence(0, {m - 1}), j -> struct(CAST(j AS INT) AS"
        f" subspace, transform(slice({vec_col}, j * {sub_dim} + 1,"
        f" {sub_dim}), c -> CAST(floor(CAST(c AS DOUBLE) * 1000000000.0"
        " + 0.5) AS BIGINT)) AS vq))"
    )
    v = emb.select(
        F.col(id_col).alias("_id"),
        F.when(train_pred, F.lit(1)).otherwise(F.lit(0)).alias("_is_train"),
        F.explode(F.expr(sub_expr)).alias("_s"),
    ).select(
        "_id", "_is_train",
        F.col("_s.subspace").alias("subspace"), F.col("_s.vq").alias("_vq"),
    )
    # exact integer error to each grid-quantized centroid; nearest =
    # min error — assignment against FROZEN books. The square happens
    # in DECIMAL: a BIGINT (a-b)² overflows at |a-b| > 3e9 — i.e. for
    # exactly the far-out-of-distribution batches this audit exists to
    # flag (pinned by the shifted-distribution test).
    # The k candidate errors fold into ONE array_min over the
    # broadcast per-subspace centroid LIST (r12, guide §2.4): the old
    # k-row explode + Window.partitionBy(_id, subspace) row_number
    # shuffled and sorted n·m·k rows to pick a minimum the expression
    # computes row-locally — only the error of the nearest centroid is
    # ever used downstream, and min over exact DECIMALs needs no
    # tiebreak, so the value is identical.
    err = (
        "array_min(transform(_cqs, _cq ->"
        " aggregate(zip_with(_vq, _cq, (a, b) ->"
        " CAST(a - b AS DECIMAL(19,0)) * CAST(a - b AS DECIMAL(19,0))),"
        " CAST(0 AS DECIMAL(38,0)),"
        " (acc, x) -> acc + CAST(x AS DECIMAL(38,0)))))"
    )
    bqa = bq.groupBy("subspace").agg(F.collect_list("_cq").alias("_cqs"))
    nearest = (
        v.join(F.broadcast(bqa), "subspace")
        .select("subspace", "_is_train", F.expr(err).alias("_e"))
    )
    from .decimate import big_to_double

    agg = nearest.groupBy("subspace").agg(
        F.sum(F.when(F.col("_is_train") == 1, 1).otherwise(0))
        .cast("long").alias("n_train"),
        F.sum(F.when(F.col("_is_train") == 0, 1).otherwise(0))
        .cast("long").alias("n_new"),
        F.sum(F.when(F.col("_is_train") == 1, F.col("_e"))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("_et"),
        F.sum(F.when(F.col("_is_train") == 0, F.col("_e"))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("_en"),
    )
    mt = f"{big_to_double('_et')} / CAST(n_train AS DOUBLE)"
    mn = f"{big_to_double('_en')} / CAST(n_new AS DOUBLE)"
    return agg.select(
        "subspace", "n_train", "n_new",
        F.expr(f"CASE WHEN n_train = 0 THEN CAST(NULL AS DOUBLE)"
               f" ELSE {mt} END").alias("mean_qerr_train"),
        F.expr(f"CASE WHEN n_new = 0 THEN CAST(NULL AS DOUBLE)"
               f" ELSE {mn} END").alias("mean_qerr_new"),
        F.expr(
            f"CASE WHEN n_train = 0 OR n_new = 0 OR _et = 0"
            f" THEN CAST(NULL AS DOUBLE)"
            f" ELSE ({mn}) / ({mt}) END"
        ).alias("drift_ratio"),
    ).orderBy("subspace")


def ivfpq_rerank_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    shortlist_k: int = 50,
    n_cells: int = 8,
    coarse_iters: int = 2,
    m: int = 8,
    sub_dim: int = 8,
    kpq: int = 8,
    pq_iters: int = 2,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN serving, the production refinement on top of
    IVF-ADC: the compressed index proposes a ``shortlist_k`` candidate
    set per query (code-table scan only), then EXACT L2 re-ranks just
    those candidates against the raw vectors — so the expensive
    raw-embedding reads are ``shortlist_k`` rows per query instead of
    the corpus, and recall recovers most of what 24-bit codes lose
    (measured by ivfpq_rerank_recall, the audit contract). The
    shortlist is broadcast back onto the embedding table; everything
    stays deterministic (ties on vec_id both stages)."""
    index = ivfpq_fit_encode(
        emb, n_cells, coarse_iters, m, sub_dim, kpq, pq_iters,
        id_col, vec_col,
    )
    queries = emb.filter(F.col(id_col).isin(query_ids))
    shortlist = ivfpq_search(
        index, queries, k=shortlist_k, m=m, sub_dim=sub_dim,
        n_probe=n_probe, id_col=id_col, vec_col=vec_col,
    ).select("q_id", "vec_id")
    return rerank_shortlist(
        emb, queries, shortlist, k=k, id_col=id_col, vec_col=vec_col
    )


def rerank_shortlist(
    raw: DataFrame,
    queries: DataFrame,
    shortlist: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The exact-refinement stage alone: given a (q_id, vec_id)
    shortlist from ANY candidate generator, re-rank by exact L2 against
    the raw vectors and keep the top ``k`` per query. The shortlist
    (queries x shortlist_k rows) is broadcast onto the raw table, so
    raw-embedding reads stay proportional to the shortlist, never the
    corpus — the same stage batch and streaming serving share."""
    qexpr = F.expr(
        f"transform({vec_col}, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )
    qv = queries.select(F.col(id_col).alias("q_id"), qexpr.alias("_qq"))
    cand = raw.select(
        F.col(id_col).alias("vec_id"), qexpr.alias("_vq")
    ).join(F.broadcast(shortlist.select("q_id", "vec_id")), "vec_id")
    d2 = (
        "aggregate(zip_with(_vq, _qq, (a, b) ->"
        " (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"
        " * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    scored = cand.join(F.broadcast(qv), "q_id").withColumn("_d2", F.expr(d2))
    w = Window.partitionBy("q_id").orderBy("_d2", "vec_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("q_id", "vec_id", F.col("_d2").alias("d2"))
    )
