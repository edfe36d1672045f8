"""Document deduplication operators for large-scale training-data pipelines.

All hash choices are engine-portable (md5 hex strings, lexicographic min) so
every operator here has an exact DuckDB oracle; nothing depends on
Spark-internal hash functions.

Scale design:
- exact: one groupBy on the digest — map-side combine, minimal shuffle.
- shingles: generated with JVM-side array lambdas (``transform`` over index
  ``sequence``), never a Python UDF.
- MinHash/LSH: signature = k column-wise mins over the exploded shingle set
  (partial aggregation); banding turns the quadratic pair search into an
  equi-join on band keys — the canonical 100 TB-safe near-dup plan. The
  naive all-shared-shingle pair join is kept as the small-scale oracle
  baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cache_scope


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content digest: one surviving (minimum) id per digest.

    Returns: digest, keep_id, n_dups.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Tokenization: lowercase, split on whitespace runs, drop empties —
    identical semantics to ``regexp_split_to_array(lower(text), '\\s+')``
    in the DuckDB oracle.
    """
    words = F.expr(f"filter(split(lower({text_col}), '\\\\s+'), x -> x != '')")
    parts = ", ' ', ".join(f"_w[i + {j}]" for j in range(n))
    gram = f"transform(sequence(0, size(_w) - {n}), i -> concat({parts}))"
    return (
        df.select(F.col(id_col), words.alias("_w"))
        .filter(F.size("_w") >= n)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(F.expr(gram))).alias("shingle"),
        )
    )


#: Same cap as similarity.EXACT_PAIRS_MAX_ROWS: the exact all-pairs
#: baselines exist to anchor recall tests and oracles, not to run on a
#: production corpus.
EXACT_PAIRS_MAX_DOCS = 100_000


def jaccard_pairs(
    sh: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    max_docs: int | None = EXACT_PAIRS_MAX_DOCS,
) -> DataFrame:
    """All-pairs n-gram Jaccard over documents sharing >= 1 shingle.

    Exact but quadratic in per-shingle document frequency — the oracle
    baseline; use :func:`minhash_lsh_pairs` at scale (corpora above
    ``max_docs`` documents are refused with a pointer at it; the distinct
    count is one bounded job). Jaccard stays an unrounded int/int
    division: bit-identical across engines (rounding the exact rational
    could land on decimal ties where engines disagree).
    Returns: id_a, id_b (a < b), jaccard, n_common.
    """
    # persist FIRST (r12, guide §7.2): the guard's distinct-count was a
    # pure-overhead pass over the uncached shingle explode, and the main
    # plan then re-ran the explode for sizes + both self-join sides; the
    # persist turns the guard job into the cache-population pass
    sh = cache_scope.persist(sh)
    if max_docs is not None:
        n_docs = sh.select(id_col).distinct().count()
        if n_docs > max_docs:
            cache_scope.release(sh)
            raise ValueError(
                f"jaccard_pairs: {n_docs} documents; the all-shared-shingle "
                f"pair join is quadratic in per-shingle doc frequency and is "
                f"capped at {max_docs} docs as an oracle baseline. Use "
                "dedup.minhash_lsh_pairs (banded MinHash) for large corpora, "
                "or pass max_docs=None to override deliberately."
            )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard", "n_common")
    )


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature per document.

    Hash family: ``md5(j || ':' || shingle)`` hex strings; the column-wise
    lexicographic MIN of hex digests is a valid min-wise permutation sketch
    and is bit-identical across engines. Returns id + mh_0..mh_{k-1}.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"mh_{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _banded_signatures(
    sh: DataFrame, num_hashes: int, band_size: int, id_col: str
) -> DataFrame:
    """(id, band, key) LSH band keys from a shingle table."""
    sig = minhash_signatures(sh, num_hashes, id_col=id_col)
    n_bands = num_hashes // band_size
    band_cols = []
    for b in range(n_bands):
        members = [F.col(f"mh_{b * band_size + i}") for i in range(band_size)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat(*members)).alias("key"))
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))



def minhash_lsh_pairs(
    sh: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    verify_threshold: float = 0.2,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified with true Jaccard.

    shingle -> k minhashes -> bands of ``band_size`` -> band-key equi-join
    -> candidate pairs -> exact Jaccard filter. The only joins are on band
    keys (candidates) and on ids (verification) — no quadratic blowup.
    Returns: id_a, id_b, jaccard, n_common.
    """
    if num_hashes % band_size != 0:
        raise ValueError("num_hashes must be a multiple of band_size")
    # the shingle table feeds the signatures AND the verification sets —
    # persist it so the (explode + md5) generation runs once, not three
    # times (measured −25% warm at sf0.1; at 100 TB recomputing the
    # shingle explode per consumer is the dominant waste)
    sh = cache_scope.persist(sh)
    banded = _banded_signatures(sh, num_hashes, band_size, id_col)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "key"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # verification via per-pair set intersection: one shingle-set row per
    # doc, candidates join on id keys only — avoids the shingle⋈shingle
    # self-join whose output is quadratic in per-shingle doc frequency
    doc_sets = sh.groupBy(id_col).agg(F.collect_set("shingle").alias("sset"))
    # spread the compute-bound per-pair intersection over the cores:
    # candidate rows are a few bytes, the verify work is not (guide §2
    # — partition for the work; cores-derived, see containment verify)
    cand = cand.repartition(
        cand.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
    )
    out = (
        cand.join(
            doc_sets.select(F.col(id_col).alias("id_a"), F.col("sset").alias("sa")),
            "id_a",
        )
        .join(
            doc_sets.select(F.col(id_col).alias("id_b"), F.col("sset").alias("sb")),
            "id_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sa") + F.size("sb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "jaccard", F.col("n_common").cast("long").alias("n_common"))
    )
    return out


def corpus_index(
    sh: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """``(bands, sets)`` for one side of the LSH join — the REUSABLE
    per-document derivation (minhash band keys + exact shingle sets).
    Both are pure functions of each document alone, so a maintained
    corpus index is fold-updatable: ``index(corpus + batch) =
    index(corpus) UNION index(batch)`` — the property
    :func:`..sources.pair_store.start_pair_table_maintenance` uses to
    keep per-batch maintenance O(batch) compute instead of re-deriving
    minhashes over the whole corpus every micro-batch (round-10
    review)."""
    bands = _banded_signatures(sh, num_hashes, band_size, id_col)
    sets = sh.groupBy(id_col).agg(F.collect_set("shingle").alias("sset"))
    return bands, sets


def minhash_lsh_delta_pairs(
    sh_old: DataFrame | None,
    sh_new: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    verify_threshold: float = 0.2,
    id_col: str = "doc_id",
    old_index: tuple[DataFrame, DataFrame] | None = None,
    probe_prune: int | None = None,
) -> DataFrame:
    """Incremental dedup: near-dup pairs between a NEW document batch and
    the existing corpus only — the shape a continuously-ingesting
    pipeline runs per batch. Band keys are computed for both sides, but
    the candidate join is old ⋈ new (never old ⋈ old), so per-batch cost
    scales with the batch, not the corpus².

    ``old_index`` — a precomputed :func:`corpus_index` of the corpus
    side (``sh_old`` may then be None): each increment probes the
    maintained band/set tables instead of re-deriving minhashes and
    collect_set over the whole corpus per batch.

    ``probe_prune`` (VERDICT r10 #2) — when ``old_index`` is backed by
    PERSISTED parquet tables (``sources.pair_store.CorpusIndexStore``),
    set this to push the batch's band keys (and then the candidates'
    old ids) down as In predicates on the corpus-side scans. Both
    filters are supersets of what the equi-joins keep, so results are
    bit-identical; the point is row-group pruning — the corpus tables
    are written sorted by probe key, so a batch touches O(batch) row
    groups instead of scanning the whole persisted index. The value
    caps the collected literal list, because past a few thousand
    elements the In predicate Catalyst plans costs more than the scan
    it prunes: a batch with more distinct keys skips the pruning and
    pays the full scan.

    Returns: old_id, new_id, jaccard, n_common.
    """
    if num_hashes % band_size != 0:
        raise ValueError("num_hashes must be a multiple of band_size")
    if sh_old is None and old_index is None:
        raise ValueError(
            "pass sh_old (corpus shingles) or old_index (corpus_index)"
        )
    sh_new = cache_scope.persist(sh_new)
    if old_index is not None:
        b_old, sets_old_raw = old_index
    else:
        sh_old = cache_scope.persist(sh_old)
        b_old = _banded_signatures(sh_old, num_hashes, band_size, id_col)
        sets_old_raw = sh_old.groupBy(id_col).agg(
            F.collect_set("shingle").alias("sset")
        )
    b_new = _banded_signatures(sh_new, num_hashes, band_size, id_col)
    if probe_prune:
        # bounded collect: one md5 key per (doc, band) of the BATCH —
        # the In predicate reaches the persisted bands scan, where
        # key-sorted files turn it into row-group pruning
        b_new = cache_scope.persist(b_new)
        keys = [
            r.key
            for r in b_new.select("key")
            .distinct()
            .limit(probe_prune + 1)
            .collect()
        ]
        if len(keys) <= probe_prune:
            b_old = b_old.filter(F.col("key").isin(keys))
    cand = (
        b_old.select(F.col(id_col).alias("old_id"), "band", "key")
        .join(b_new.select(F.col(id_col).alias("new_id"), "band", "key"),
              ["band", "key"])
        .select("old_id", "new_id")
        .distinct()
    )
    if probe_prune:
        # same trick for the verification join: candidates' old ids
        # prune the persisted shingle-set scan (doc_id-sorted files)
        cand = cache_scope.persist(cand)
        ids = [
            r.old_id
            for r in cand.select("old_id")
            .distinct()
            .limit(probe_prune + 1)
            .collect()
        ]
        if len(ids) <= probe_prune:
            sets_old_raw = sets_old_raw.filter(F.col(id_col).isin(ids))
    sets_old = sets_old_raw.select(
        F.col(id_col), F.col("sset").alias("sa")
    )
    sets_new = sh_new.groupBy(id_col).agg(F.collect_set("shingle").alias("sb"))
    return (
        cand.join(
            sets_old.select(F.col(id_col).alias("old_id"), "sa"), "old_id"
        )
        .join(sets_new.select(F.col(id_col).alias("new_id"), "sb"), "new_id")
        .withColumn("n_common", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sa") + F.size("sb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select(
            "old_id",
            "new_id",
            "jaccard",
            F.col("n_common").cast("long").alias("n_common"),
        )
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs via hash-min label
    propagation — the step that turns pairwise matches into dedup
    SURVIVOR SETS (transitively: if A~B and B~C, one of {A,B,C} is kept).

    Each iteration joins the symmetric edge list against current labels
    and takes the per-node min — the standard large-graph CC loop (one
    shuffle per iteration, converges in O(component diameter), which for
    near-dup clusters is tiny since they are dense). The loop is
    driver-bounded with an early exit on a converged count, and every
    iteration TRUNCATES LINEAGE with an eager ``localCheckpoint`` —
    without it the logical plan doubles per iteration and Catalyst
    re-analysis goes exponential around iteration ~10 (the classic
    iterative-algorithm failure mode; on a checkpointed cluster use
    ``checkpoint()`` for fault tolerance instead). The label table is
    O(#documents). Returns (id_col, component) with component = min
    reachable id.
    """
    e = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    # Only edge ENDPOINTS can ever change label — iterate over that
    # (sparse) subgraph only and attach the untouched singletons with one
    # left join at the end. In a near-dup corpus the duplicate subgraph
    # is a small fraction of the documents, so the per-iteration state is
    # O(#duplicated docs), not O(#docs) — the difference between looping
    # over gigabytes and looping over the whole 100 TB corpus.
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint()
    )
    # Convergence check: labels only ever DECREASE (min of mins), so any
    # non-fixpoint iteration changes at least one node's label — the
    # label MULTISET changes, and an unchanged hash-sum proves
    # convergence with ONE cheap aggregation job per iteration instead
    # of a join-and-count (halves the per-iteration job count; at
    # cluster scale the saved join is the expensive part). The sum runs
    # over xxhash64 of the label AS STRING: type-agnostic (string doc
    # ids summed as decimal were NULL — the loop broke after one
    # iteration with split clusters; round-10 review) and collision-safe
    # to ~2^-64 per check.
    prev_sum = None
    for _ in range(max_iter):
        neighbor = (
            sym.join(labels, sym["dst"] == labels["id"])
            .select(F.col("src").alias("id"), "comp")
        )
        labels = (
            labels.unionByName(neighbor)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        ).localCheckpoint()
        cur_sum = labels.agg(
            F.sum(
                F.xxhash64(F.col("comp").cast("string")).cast("decimal(38,0)")
            ).alias("s")
        ).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels.withColumnRenamed("comp", "_c"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("_c", F.col("id")).alias("comp"),
        )
    )


def dedup_clusters(
    pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs -> transitive dedup clusters: one row per component
    with the surviving (minimum) id and member count. Documents in no
    pair are their own singleton component."""
    comp = connected_components(pairs, docs, id_col=id_col)
    return comp.groupBy("comp").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs")
    )


def contamination(
    sh: DataFrame, bench_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Benchmark decontamination: for every non-benchmark document, count
    how many of its shingles appear anywhere in the benchmark set — the
    standard train/eval n-gram-overlap check (a doc with hits is suspect;
    hit_ratio ranks severity).

    ``bench_ids`` is a one-column (id_col) table naming the benchmark
    docs. The benchmark shingle set is deduplicated and BROADCAST —
    benchmark suites are small next to a training corpus, so the check
    costs one corpus scan with a map-side hash probe and one groupBy on
    the doc id (no shuffle of the shingle table). For a benchmark too big
    to broadcast, drop the hint and the same plan becomes a shuffle
    semi-join on the shingle key.

    Returns: (id_col, n_shingles, n_hits, hit_ratio) for every
    non-benchmark doc with >= 1 shingle.
    """
    bench_sh = (
        sh.join(bench_ids, id_col).select("shingle").distinct()
    )
    cand = sh.join(bench_ids, id_col, "left_anti")
    sizes = cand.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        cand.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        sizes.join(hits, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) / F.col("n_shingles")).alias(
                "hit_ratio"
            ),
        )
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash over word unigrams (engine-portable: the token hash is
    the first 15 md5 hex chars parsed as an integer, so DuckDB can reproduce
    the signature bit-for-bit).

    Each token hashes to 60 bits (from its md5); the signature bit is 1 where
    the weighted bit-sum is positive. Near-dups = small Hamming distance.
    Returns: id, simhash (long).
    """
    words = F.expr(
        f"filter(split(lower({text_col}), '\\\\s+'), x -> x != '')"
    )
    toks = df.select(F.col(id_col), F.explode(words).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    toks = toks.select(id_col, h.alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(h div {1 << b}) % 2") == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"b{b}")
        for b in range(60)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    sig = None
    for b in range(60):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SimHash near-dup pairs by pigeonhole banding, exact-verified.

    The 60 used bits are split into ``max_hamming + 1`` blocks: a pair at
    hamming distance <= max_hamming differs in at most max_hamming blocks,
    so at least one block is bit-identical — the block equi-join is a
    GUARANTEED-recall candidate generator for any radius, and the exact
    ``bit_count(xor)`` verify gives precision 1 (so the result equals the
    exact all-pairs popcount filter, and has an exact SQL oracle).

    Scale note: blocks get narrower as the radius grows (radius 3 -> 4 x
    15-bit blocks; radius 8 -> 9 x ~7-bit blocks), and narrower blocks mean
    coarser buckets and more candidates — the standard trade-off in
    permutation-based Hamming search (Manku et al., WWW'07 uses small radii
    for exactly this reason). Keep max_hamming small at scale.
    """
    n_blocks = max_hamming + 1
    base, rem = divmod(60, n_blocks)
    widths = [base + 1 if i < rem else base for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    sig = simhash64(df, id_col=id_col, text_col=text_col)
    blocks = F.array(
        *[
            F.expr(f"(simhash div {1 << offsets[i]}) % {1 << widths[i]}")
            for i in range(n_blocks)
        ]
    )
    b = sig.select(
        F.col(id_col),
        "simhash",
        F.posexplode(blocks).alias("blk_idx", "blk_val"),
    )
    cand = (
        b.alias("x")
        .join(b.alias("y"), ["blk_idx", "blk_val"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.col("x.simhash").alias("sig_a"),
            F.col("y.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.expr("CAST(bit_count(sig_a ^ sig_b) AS INT)")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def positional_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Word n-gram shingles WITH their token position: (id, pos, shingle),
    one row per occurrence (no distinct — positions are the point).
    Tokenization identical to :func:`shingles`."""
    words = F.expr(f"filter(split(lower({text_col}), '\\\\s+'), x -> x != '')")
    parts = ", ' ', ".join([f"_w[i + {j}]" for j in range(n)])
    gram = f"transform(sequence(0, size(_w) - {n}), i -> concat({parts}))"
    return (
        df.select(F.col(id_col), words.alias("_w"))
        .filter(F.size("_w") >= n)
        .select(
            F.col(id_col),
            F.posexplode(F.expr(gram)).alias("pos", "shingle"),
        )
    )


def pair_substring_spans(
    sh_pos: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    min_run: int = 1,
    n: int = 3,
) -> DataFrame:
    """Longest shared EXACT token substring per candidate pair — the
    pairwise form of exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): a run of ``r``
    consecutive shared positional ``n``-grams along one (pos_a − pos_b)
    diagonal is an exact shared substring of ``r + n − 1`` tokens.

    The pair list (MinHash-LSH candidates — already sub-quadratic) is
    the blocking structure: positional shingles join pairs on the id
    keys first, then shingle equality WITHIN the pair — never the
    quadratic shingle⋈shingle join. Diagonal gaps-and-islands (island =
    ``pos_a − row_number()`` per (pair, pos_a−pos_b), one window) finds
    the runs; per-pair cost is O(len_a + matches).

    Returns (id_a, id_b, max_shared_tokens, n_match_positions) for pairs
    whose longest run reaches ``min_run`` shingles.
    """
    a = sh_pos.select(
        F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"), "shingle"
    )
    b = sh_pos.select(
        F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"), "shingle"
    )
    m = (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .select("id_a", "id_b", "pos_a", "pos_b")
    )
    w = Window.partitionBy(
        "id_a", "id_b", F.col("pos_a") - F.col("pos_b")
    ).orderBy("pos_a")
    runs = (
        m.withColumn("_isl", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", (F.col("pos_a") - F.col("pos_b")).alias("_diag"), "_isl")
        .agg(F.count(F.lit(1)).alias("_run"))
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            F.max("_run").alias("_max_run"),
            F.sum("_run").alias("n_match_positions"),
        )
        .filter(F.col("_max_run") >= min_run)
        .select(
            "id_a",
            "id_b",
            (F.col("_max_run") + F.lit(n - 1)).alias("max_shared_tokens"),
            "n_match_positions",
        )
    )


def contamination_exact_run(
    sh_pos: DataFrame,
    bench_ids: DataFrame,
    id_col: str = "doc_id",
    min_run: int = 1,
    n: int = 3,
) -> DataFrame:
    """Exact-substring decontamination: the longest CONSECUTIVE run of
    benchmark-present n-gram positions per candidate document.

    :func:`contamination` counts shared shingles anywhere — a bag-of-
    n-grams signal that fires on topical overlap. Real leakage policy
    ("drop documents sharing a >= K-token exact substring with an eval
    set") needs positions: a run of r consecutive shared 3-grams is an
    exact shared substring of r + n - 1 tokens (``n`` = the shingle
    width ``sh_pos`` was built with; round-10 review — the +2 was
    hardcoded for 3-grams while sibling pair_substring_spans already
    parametrizes it). Gaps-and-islands over the hit
    positions: ``pos - row_number()`` is constant within a consecutive
    run, one window per doc + two hash aggs. The benchmark shingle set
    broadcasts (same scale story as :func:`contamination`); the corpus is
    scanned once.

    Returns (id, max_run, longest_tokens, n_hit_positions) for candidate
    docs with ``max_run >= min_run``.
    """
    bench_sh = sh_pos.join(bench_ids, id_col).select("shingle").distinct()
    cand = sh_pos.join(bench_ids, id_col, "left_anti")
    hits = cand.join(F.broadcast(bench_sh), "shingle", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        hits.withColumn("_isl", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "_isl")
        .agg(F.count(F.lit(1)).alias("_run"))
    )
    return (
        runs.groupBy(id_col)
        .agg(
            F.max("_run").alias("max_run"),
            F.sum("_run").alias("n_hit_positions"),
        )
        .withColumn("longest_tokens", F.col("max_run") + F.lit(n - 1))
        .filter(F.col("max_run") >= min_run)
        .select(id_col, "max_run", "longest_tokens", "n_hit_positions")
    )


def cdc_chunk_stats(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    avg_chunk_words: int = 16,
    salt: str = "cdc",
) -> DataFrame:
    """Content-defined chunking dedup audit (the rsync/LBFS/FastCDC idea
    applied at word granularity): a chunk boundary falls AFTER any word
    whose salted hash lands in 1/``avg_chunk_words`` of the hash space,
    so boundaries are a pure function of local content — insert one
    sentence into a document and only the chunks touching it change,
    unlike fixed-width chunking where every downstream chunk shifts.
    Duplicate chunks across documents are then exact-dedupable by
    digest. Reported per ``group_col``: how much of the corpus is
    chunk-level duplicated.

    Engine-portability: the boundary hash is the md5-nibble
    ``hash_bucket16`` (mirrored in the DuckDB oracle), chunk text is
    reassembled in explicit position order (sort_array over (pos, word)
    structs — never collect_list's arbitrary order), and the dup ratio
    is one exact integer division.

    100 TB shape: token explode is narrow (no shuffle); ONE
    hash(doc_id) exchange drives both the boundary prefix-sum window
    and the chunk reassembly groupBy; the corpus-wide chunk count is a
    count-window on the digest key (shuffle of one short digest row per
    chunk, map-side combinable via the groupBy that precedes it). No
    pair joins anywhere — dedup detection is O(chunks), not O(chunks²).

    Returns: group_col, n_chunks, n_dup_chunks, dup_chunk_ratio.
    """
    from .sampling import hash_bucket16
    from .text import _WORDS

    tok = docs.select(
        "doc_id",
        F.col(group_col),
        F.posexplode(F.expr(_WORDS.replace("text", text_col))).alias(
            "pos", "word"
        ),
    )
    boundary = (hash_bucket16("word", salt) % avg_chunk_words == 0).cast("int")
    wex = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunks = (
        tok.withColumn(
            "chunk_id",
            F.coalesce(F.sum(boundary).over(wex), F.lit(0)).cast("int"),
        )
        .groupBy("doc_id", group_col, "chunk_id")
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(sort_array(collect_list(struct(pos, word))),"
                    " s -> s.word)"
                ),
            ).alias("chunk_text")
        )
        .withColumn("digest", F.md5("chunk_text"))
    )
    wdg = Window.partitionBy("digest")
    per = chunks.withColumn("_c", F.count(F.lit(1)).over(wdg))
    return (
        per.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("_c") > 1).cast("long")).alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_chunk_ratio",
            F.col("n_dup_chunks").cast("double") / F.col("n_chunks"),
        )
        .orderBy(group_col)
    )


def containment_pairs(
    sh: DataFrame,
    c_threshold: float = 0.8,
    j_max: float = 0.5,
    id_col: str = "doc_id",
    max_docs: int | None = EXACT_PAIRS_MAX_DOCS,
) -> DataFrame:
    """Asymmetric near-dup: Broder CONTAINMENT C(A in B) = |A∩B| / |A| —
    the quote-inside-article / doc-embedded-in-digest case that
    resemblance (Jaccard) structurally misses: a 50-shingle doc fully
    inside a 5000-shingle doc has J ≈ 0.01 but C = 1.0. Reported pairs
    have max-direction containment >= ``c_threshold`` AND Jaccard <
    ``j_max`` — i.e. exactly the dups the symmetric pipeline does NOT
    already catch, so the two operators compose without double counting.

    Both ratios stay unrounded int/int divisions (bit-identical across
    engines). Exact and quadratic in per-shingle document frequency —
    the same guarded validation-scale baseline as :func:`jaccard_pairs`;
    the scale path is :func:`containment_lsh_pairs` (bands on the
    SMALLER side's bottom-k signature), which this baseline exists to
    validate — `containment_recall_audit` measures the two against each
    other.

    Returns: id_small (the contained side), id_big, containment,
    jaccard, n_common.
    """
    # persist FIRST (r12): see jaccard_pairs — the guard pass populates
    # the cache that sizes + both self-join sides then read
    sh = cache_scope.persist(sh)
    if max_docs is not None:
        n_docs = sh.select(id_col).distinct().count()
        if n_docs > max_docs:
            cache_scope.release(sh)
            raise ValueError(
                f"containment_pairs: {n_docs} documents exceeds the "
                f"{max_docs}-doc cap of the exact baseline; use "
                "containment_lsh_pairs (bottom-k probe banding) at scale."
            )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("_na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("_nb"))
    e = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("_na") + F.col("_nb") - F.col("n_common")),
        )
        .withColumn(
            "containment",
            F.col("n_common")
            / F.least(F.col("_na"), F.col("_nb")).cast("double"),
        )
    )
    return (
        e.filter(
            (F.col("containment") >= c_threshold) & (F.col("jaccard") < j_max)
        )
        .select(
            F.when(F.col("_na") <= F.col("_nb"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("id_small"),
            F.when(F.col("_na") <= F.col("_nb"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("id_big"),
            "containment",
            "jaccard",
            "n_common",
        )
        .orderBy("id_small", "id_big")
    )


def containment_lsh_pairs(
    sh: DataFrame,
    c_threshold: float = 0.8,
    j_max: float = 0.5,
    k: int = 32,
    min_hits: int = 1,
    max_df: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Containment near-dup pairs at scale: band on the SMALLER side's
    signature — the production path :func:`containment_pairs` (the exact,
    100k-capped quadratic baseline) exists to validate.

    Why symmetric MinHash-LSH can't serve here: banding collides two
    docs with probability ~J^band_size per band, and the asymmetric dups
    this operator hunts (quote inside article) have J ≈ |A|/|B| → 0 as
    the big side grows, however high C(A in B) is. The fix is to probe
    with a sketch whose collision rate tracks C, not J: each document's
    bottom-``k`` MinHash sketch (its k smallest shingles by md5 order —
    a uniform without-replacement sample of ITS OWN shingle set, i.e.
    the small side's signature) is joined against the full inverted
    shingle index. For a true pair with containment c measured on the
    probing side, each probe shingle lands in the partner with
    probability c, so the pair is missed only with probability
    ~(1-c)^k — at c=0.8, k=32 that is ~1e-22; even at a loose c=0.15
    it is 0.85^32 ≈ 0.004. Both docs probe, and the small side's probe
    is the high-recall direction, so pair recall is bounded by the
    SMALL side's hit probability — exactly the asymmetry wanted.

    Candidates are then verified EXACTLY (full shingle-set intersection,
    same unrounded int/int containment + Jaccard as the baseline) and
    filtered by the same thresholds, so output ⊆ the exact baseline's
    output: precision 1.0 by construction, recall measured by
    `containment_recall_audit`.

    100 TB shape: probe side is ``k`` rows/doc; the only joins are the
    shingle-key equi-join (cost k × E[df] per doc, df = per-shingle doc
    frequency) and id-keyed verification joins — no quadratic pair
    blowup. A ubiquity cap ``max_df`` optionally drops
    shared-boilerplate shingles from the INDEX side of candidate
    generation (verification still uses full sets); recall for docs
    made mostly of ubiquitous shingles degrades — measure with the
    audit before enabling. ``min_hits`` > 1 demands that many probe
    hits in one direction before a pair becomes a candidate
    (sharpening selectivity at recall cost ~P[Bin(k,c) < min_hits]).

    Returns: id_small, id_big, containment, jaccard, n_common — same
    schema and semantics as :func:`containment_pairs`.
    """
    # probes + index + verification all read the shingle table: one scan;
    # the bottom-k probe selection rides the SAME doc-keyed aggregation
    # the verification sets need (array_sort over the per-doc set instead
    # of a second window shuffle — identical (md5, shingle) order, so the
    # selected probes are byte-identical to a row_number formulation)
    sh = cache_scope.persist(sh)
    doc_sets = cache_scope.persist(
        sh.groupBy(id_col).agg(F.collect_set("shingle").alias("sset"))
    )
    probes = doc_sets.select(
        F.col(id_col).alias("_probe"),
        F.explode(
            F.expr(
                "transform(slice(array_sort(transform(sset,"
                f" s -> struct(md5(s) AS h, s AS s))), 1, {int(k)}),"
                " x -> x.s)"
            )
        ).alias("shingle"),
    )
    index = sh.select(F.col(id_col).alias("_index"), "shingle")
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        index = index.join(
            dfreq.filter(F.col("_df") <= max_df).select("shingle"), "shingle"
        )
    hits = (
        probes.join(index, "shingle")
        .filter(F.col("_probe") != F.col("_index"))
        .groupBy("_probe", "_index")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") >= min_hits)
    )
    cand = hits.select(
        F.least("_probe", "_index").alias("id_a"),
        F.greatest("_probe", "_index").alias("id_b"),
    ).distinct()
    # the exact verification below (array_intersect over full shingle
    # sets) is COMPUTE-bound per candidate while the candidate rows are
    # a few bytes each — spread it over the cores rather than the
    # byte-sized shuffle partitioning (guide §2: partition for the
    # work, not the bytes; cores-derived, never a constant). The
    # id-pair exchange this adds is tiny next to the verify CPU.
    cand = cand.repartition(
        cand.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
    )
    e = (
        cand.join(
            doc_sets.select(F.col(id_col).alias("id_a"), F.col("sset").alias("sa")),
            "id_a",
        )
        .join(
            doc_sets.select(F.col(id_col).alias("id_b"), F.col("sset").alias("sb")),
            "id_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("sa", "sb")).cast("long"))
        .withColumn("_na", F.size("sa").cast("long"))
        .withColumn("_nb", F.size("sb").cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("_na") + F.col("_nb") - F.col("n_common")),
        )
        .withColumn(
            "containment",
            F.col("n_common") / F.least("_na", "_nb").cast("double"),
        )
    )
    return (
        e.filter(
            (F.col("containment") >= c_threshold) & (F.col("jaccard") < j_max)
        )
        .select(
            F.when(F.col("_na") <= F.col("_nb"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("id_small"),
            F.when(F.col("_na") <= F.col("_nb"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("id_big"),
            "containment",
            "jaccard",
            "n_common",
        )
        .orderBy("id_small", "id_big")
    )


def chunk_dedup_rewrite(
    docs: DataFrame, chunk_tokens: int = 16
) -> DataFrame:
    """Chunk-level exact dedup WITH document rewrite — the
    fixed-granularity analog of suffix-array exact-substring removal
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): documents split into non-overlapping ``chunk_tokens``-token
    chunks, every chunk occurrence after the global first (ordered by
    (doc_id, chunk_idx)) is REMOVED, and the document is reassembled
    from its surviving chunks. Unlike a stats-only dedup report, the
    rewritten text itself is attested: ``cleaned_md5`` hashes the
    reassembled string, so the oracle checks the actual reconstruction.

    100 TB shape: one chunk-key exchange for the argmin (two-phase
    ``min(struct(doc_id, chunk_idx))``), one join back on the key
    (count side unique per key, AQE-safe), then one groupBy(doc_id)
    with ``sort_array(collect_list(...))`` — per-doc chunk lists are
    bounded by doc length, never corpus-sized.

    Returns: doc_id, n_chunks, n_removed, cleaned_n_tokens, cleaned_md5.
    """
    from .text import _WORDS

    c = chunk_tokens
    d = docs.select("doc_id", F.expr(_WORDS).alias("w"))
    ch = d.filter(F.size("w") > 0).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(w) / {c}.0) AS INT)"
                f" - 1), i -> concat_ws(' ', slice(w, i * {c} + 1, {c})))"
            )
        ).alias("idx", "chunk"),
    ).withColumn("key", F.md5("chunk"))
    first = ch.groupBy("key").agg(
        F.min(F.struct("doc_id", "idx")).alias("_f")
    )
    kept = ch.join(first, "key").withColumn(
        "_keep",
        (F.col("doc_id") == F.col("_f.doc_id"))
        & (F.col("idx") == F.col("_f.idx")),
    )
    per_doc = (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((~F.col("_keep")).cast("bigint")).alias("n_removed"),
            F.concat_ws(
                " ",
                F.expr(
                    "transform(sort_array(collect_list(CASE WHEN _keep"
                    " THEN struct(idx, chunk) END)), s -> s.chunk)"
                ),
            ).alias("cleaned"),
        )
    )
    spine = docs.select("doc_id")
    z = F.lit(0).cast("bigint")
    return spine.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_chunks", z).alias("n_chunks"),
        F.coalesce("n_removed", z).alias("n_removed"),
        F.size(
            F.expr(
                "filter(split(coalesce(cleaned, ''), ' '), x -> x != '')"
            )
        ).cast("bigint").alias("cleaned_n_tokens"),
        F.md5(F.coalesce("cleaned", F.lit(""))).alias("cleaned_md5"),
    )
