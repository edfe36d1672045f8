"""Count-Min sketch heavy-hitter audit (Cormode & Muthukrishnan 2005).

The 100 TB motivation: exact token counts need a full token-key shuffle;
a CMS is d×w counters that partial-aggregate map-side and merge by
addition — the mergeable-summaries pattern (same family as the HLL
distinct audit). The audit quantifies what that buys and costs: for the
TRUE top-k tokens (exact counts), report the sketch estimate and the
overestimate. CMS guarantees estimate >= exact always, and
overestimate <= eps*N with probability 1-delta (eps = e/w) — the first
invariant is hard (the oracle and tests pin it row by row), the second
is checked in expectation by the unit test.

Engine-portability: the d row-buckets are disjoint 16-bit slices of ONE
``md5(token)`` digest (row j reads hex nibbles [4j, 4j+4), reduced mod
width) — one hash call per token instead of d salted calls, and DuckDB
reproduces every bucket assignment and therefore every counter and
estimate bit-for-bit from the same digest slices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_heavy_hitter_audit(
    docs: DataFrame,
    top_k: int = 20,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build a CMS over the corpus token stream and audit it against the
    exact counts of the true top-``top_k`` tokens.

    Plan shape: ONE token scan feeds both sides — the exact top-k (one
    token-key hash agg + TakeOrdered-style rank) and the sketch (tokens
    × depth rows → groupBy(row, bucket): d·w counters, thousands of
    rows, map-side combined). The probe is a broadcast join of the tiny
    top-k token set against the tiny counter table. At 100 TB the exact
    side is the expensive baseline being audited; production keeps only
    the sketch.

    Returns: token, exact_n, cms_est, overestimate (>= 0 by the CMS
    guarantee — a negative value anywhere is a bug, and the oracle
    hash-checks every row).
    """
    from .sampling import hash_bucket16
    from .text import _WORDS

    toks = docs.select(F.explode(F.expr(_WORDS)).alias("token"))
    # persisted (invocation-scoped, r12): the term table feeds the top-k
    # ranking AND the sketch counters below — without it the token
    # hash-agg shuffle runs twice.
    from .. import cache_scope

    exact = cache_scope.persist(
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    )
    top = exact.orderBy(F.col("exact_n").desc(), "token").limit(top_k)

    # ONE md5 per token supplies all ``depth`` row-buckets from disjoint
    # 16-bit slices of the 128-bit digest (independent by construction) —
    # 4x less hashing than per-row salted digests, and the hash IS the
    # hot-path cost of a sketch builder (measured 3.6x -> ~2x at 100x SF)
    buckets = F.expr(
        f"transform(sequence(0, {depth - 1}), r -> struct(r AS row,"
        f" CAST(CAST(conv(substring(md5(token), 1 + 4 * r, 4), 16, 10)"
        f" AS INT) % {width} AS INT) AS bucket))"
    )
    # counters from the EXACT term table, not a second token scan: the
    # per-(row, bucket) occurrence count equals the sum of term counts
    # over the tokens hashing there (identical longs), so the sketch
    # side reuses the one aggregation the exact side already pays —
    # Catalyst does not share the duplicate explode subtree on its own
    # (guide §7.2; r11 — one corpus scan instead of two, and the bucket
    # md5 runs per DISTINCT token instead of per occurrence).
    counters = (
        exact.select(F.col("exact_n"), F.explode(buckets).alias("_b"))
        .select(
            F.col("_b.row").alias("row"),
            F.col("_b.bucket").alias("bucket"),
            "exact_n",
        )
        .groupBy("row", "bucket")
        .agg(F.sum("exact_n").alias("c"))
    )
    probes = top.select(
        "token", "exact_n", F.explode(buckets).alias("_b")
    ).select("token", "exact_n", F.col("_b.row").alias("row"),
             F.col("_b.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "token",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overestimate"),
    ).orderBy(F.col("exact_n").desc(), "token")


# ---------------------------------------------------------------------------
# Bloom-filter membership screen (Bloom 1970; the decontamination
# prefilter shape)
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 16  # bits
BLOOM_K = 4        # hash functions


def bloom_contamination_audit(
    sh: DataFrame,
    bench_ids: DataFrame,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination through a BLOOM FILTER prefilter, audited
    against the exact membership join — the membership member of the
    mergeable-sketch family (with the HLL distinct, CMS heavy-hitter, and
    GK quantile audits).

    The 100 TB motivation: the exact screen broadcasts the benchmark's
    full distinct-shingle set to every executor — its size grows with the
    benchmark. A Bloom filter is ``m`` BITS regardless of benchmark size
    (union-mergeable across benchmark partitions, the same map-side
    economics as the other sketches), guarantees NO false negatives, and
    admits a bounded false-positive rate ≈ (1 - e^{-kn/m})^k that this
    audit MEASURES per group instead of assuming.

    Engine-portability: hash j of a shingle is the j-th disjoint 16-bit
    slice of ONE md5(shingle), reduced mod ``m`` — the CMS row-bucket
    construction, so DuckDB reproduces every bit index, the whole filter,
    and every probe verdict bit-for-bit. The filter is represented as the
    distinct set of SET BIT POSITIONS (≤ m small ints, broadcast); a
    dense bitmap is the obvious physical packing at deploy time, with
    identical verdicts.

    A probe gram is bloom-positive iff ALL its (distinct) bit positions
    are set; md5-slice collisions within one gram are handled by
    comparing against the gram's own distinct-position count. Benchmark
    membership itself is the exact broadcast join — the audit reports,
    per ``group_col`` (default: corpus-wide under group '*'): probe gram
    occurrences, exact hits, bloom hits, false positives, measured FP
    rate among true negatives, and the filter's fill (bits set / m).

    Requires 4 * k <= 32 (md5 hex budget, same bound as CMS depth).
    """
    if 4 * k > 32:
        raise ValueError("bloom k too large for one md5 (4*k hex chars > 32)")
    pos_expr = (
        f"array_distinct(transform(sequence(0, {k - 1}), j ->"
        f" CAST(CAST(conv(substring(md5(shingle), 1 + 4 * j, 4), 16, 10)"
        f" AS INT) % {m} AS INT)))"
    )
    bench_sh = (
        sh.join(bench_ids.select(id_col), id_col)
        .select("shingle")
        .distinct()
    )
    bloom_bits = (
        bench_sh.select(F.explode(F.expr(pos_expr)).alias("bit")).distinct()
    )
    n_bits = bloom_bits.count()  # bounded: <= m rows (one tiny job)
    bench_grams = bench_sh.withColumn("_ex", F.lit(1))
    probes = (
        sh.join(bench_ids.select(id_col), id_col, "left_anti")
        .withColumn("_pos", F.expr(pos_expr))
        .withColumn("_npos", F.size("_pos"))
    )
    hit = (
        probes.select(
            id_col,
            "shingle",
            "_npos",
            *( [group_col] if group_col else [] ),
            F.explode("_pos").alias("bit"),
        )
        .join(F.broadcast(bloom_bits), "bit")
        .groupBy(id_col, "shingle", "_npos", *([group_col] if group_col else []))
        .agg(F.count(F.lit(1)).alias("_nhit"))
        .filter(F.col("_nhit") == F.col("_npos"))
        .select(id_col, "shingle", *([group_col] if group_col else []))
        .withColumn("_bl", F.lit(1))
    )
    base = probes.select(
        id_col, "shingle", *([group_col] if group_col else [])
    )
    j = base.join(
        hit.select(id_col, "shingle", "_bl"), [id_col, "shingle"], "left"
    ).join(F.broadcast(bench_grams), "shingle", "left")
    gcol = F.col(group_col) if group_col else F.lit("*")
    out = (
        j.groupBy(gcol.alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_ex"), F.lit(0)).cast("long").alias("n_exact"),
            F.coalesce(F.sum("_bl"), F.lit(0)).cast("long").alias("n_bloom"),
            F.coalesce(
                F.sum(F.when(F.col("_bl").isNotNull() & F.col("_ex").isNull(), 1)),
                F.lit(0),
            ).cast("long").alias("n_false_pos"),
        )
        .withColumn(
            "fp_rate",
            F.expr(
                "CASE WHEN n_grams - n_exact = 0 THEN CAST(NULL AS DOUBLE)"
                " ELSE n_false_pos / (n_grams - n_exact) END"
            ),
        )
        .withColumn("bits_set", F.lit(n_bits).cast("long"))
        .withColumn("fill", F.lit(n_bits / m).cast("double"))
        .orderBy("grp")
    )
    return out


def bloom_two_stage_funnel(
    sh: DataFrame,
    bench_ids: DataFrame,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """The production decontamination FUNNEL, composed end to end: the
    m-bit Bloom screen runs at scan cost over every document's
    shingles (stage 1 — no false negatives, so nothing contaminated
    slips past), and only the screened residue pays the exact
    benchmark join (stage 2). This reports the per-group economics a
    deployment sizes the filter by: how many documents the screen
    flags, how many the exact stage confirms, how many were
    false-positive work, and the verify_fraction — the share of the
    corpus that ever reaches stage 2 (the whole point of the screen).

    Same engine-portable construction as
    :func:`bloom_contamination_audit` (disjoint 16-bit md5 slices mod
    m; the filter is the distinct set-bit list, broadcast). ``sh``
    must carry ``group_col``. Documents in ``bench_ids`` are excluded
    from the funnel (they ARE the benchmark).

    Returns per group: n_docs, n_flagged, n_confirmed, n_fp_docs,
    verify_fraction, confirm_rate (NULL when nothing was flagged).
    """
    if 4 * k > 32:
        raise ValueError("bloom k too large for one md5 (4*k hex chars > 32)")
    pos_expr = (
        f"array_distinct(transform(sequence(0, {k - 1}), j ->"
        f" CAST(CAST(conv(substring(md5(shingle), 1 + 4 * j, 4), 16, 10)"
        f" AS INT) % {m} AS INT)))"
    )
    bench_sh = (
        sh.join(bench_ids.select(id_col), id_col)
        .select("shingle")
        .distinct()
    )
    bloom_bits = (
        bench_sh.select(F.explode(F.expr(pos_expr)).alias("bit")).distinct()
    )
    probes = sh.join(bench_ids.select(id_col), id_col, "left_anti")
    # per-gram verdicts computed ONCE PER DISTINCT GRAM (r11: the bloom
    # probe and the exact membership depend only on the shingle — the
    # per-occurrence formulation exploded k bit rows for every
    # (doc, gram) occurrence, ~10x the distinct-gram volume at sf0.1),
    # via BROADCAST joins only; per-doc flags fold by AGGREGATION —
    # never a corpus ⋈ corpus join-back (the flag tables are
    # corpus-cardinality at scale; max() over co-partitioned groups is
    # the join-free way to fold them onto documents)
    exact_grams = bench_sh.withColumn("_ex", F.lit(1))
    gram_verdict = (
        probes.select("shingle")
        .distinct()
        .withColumn("_pos", F.expr(pos_expr))
        .select(
            "shingle", F.size("_pos").alias("_npos"),
            F.explode("_pos").alias("bit"),
        )
        .join(
            F.broadcast(bloom_bits.withColumn("_set", F.lit(1))),
            "bit",
            "left",
        )
        .groupBy("shingle", "_npos")
        .agg(F.sum(F.coalesce("_set", F.lit(0))).alias("_nhit"))
        .join(F.broadcast(exact_grams), "shingle", "left")
        .select(
            "shingle",
            (F.col("_nhit") == F.col("_npos")).cast("int").alias("_bloom"),
            F.coalesce("_ex", F.lit(0)).alias("_ex"),
        )
    )
    per_doc = (
        probes.join(F.broadcast(gram_verdict), "shingle")
        .groupBy(id_col, group_col)
        .agg(F.max("_bloom").alias("_flag"), F.max("_ex").alias("_conf"))
    )
    agg = per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_flag").cast("long").alias("n_flagged"),
        F.sum("_conf").cast("long").alias("n_confirmed"),
    )
    return agg.select(
        group_col,
        "n_docs",
        "n_flagged",
        "n_confirmed",
        (F.col("n_flagged") - F.col("n_confirmed")).alias("n_fp_docs"),
        (F.col("n_flagged").cast("double") / F.col("n_docs").cast("double"))
        .alias("verify_fraction"),
        F.expr(
            "CASE WHEN n_flagged = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE CAST(n_confirmed AS DOUBLE) / CAST(n_flagged AS DOUBLE)"
            " END"
        ).alias("confirm_rate"),
    ).orderBy(group_col)
