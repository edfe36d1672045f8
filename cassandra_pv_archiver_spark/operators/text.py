"""Text analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

Every expression here is a built-in Catalyst function (split/filter/
transform/md5) — no Python in the row path — and is chosen to be
semantics-identical to the DuckDB oracle (same regexes, same arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: tiny stopword lists per language for the n-gram/stopword language-ID
#: heuristic; ordered — first language whose marker appears wins.
LANG_MARKERS = [
    ("en", ("the", "a", "of")),
    ("de", ("der", "die", "und")),
    ("fr", ("le", "la", "et")),
    ("es", ("el", "los", "que")),
]

STOPWORDS = ("the", "a", "of", "and", "to", "in")

_WORDS = "filter(split(lower(text), '\\\\s+'), x -> x != '')"


def text_metrics(docs: DataFrame) -> DataFrame:
    """Per-document token/char/stopword/punctuation metrics + a composite
    quality score (deterministic arithmetic, oracle-identical: ratios are
    unrounded int/int divisions — bit-identical across engines).

    Returns: doc_id, n_tokens, n_chars_total, avg_token_len,
    stopword_ratio, punct_ratio, quality_score.
    """
    stop_pred = " or ".join([f"x = '{s}'" for s in STOPWORDS])
    d = docs.select(
        "doc_id",
        F.expr(_WORDS).alias("_w"),
        F.length("text").alias("n_chars_total"),
        F.length(F.regexp_replace("text", "[.,!?;:]", "")).alias("_nc_nopunct"),
    )
    d = d.select(
        "doc_id",
        F.size("_w").alias("n_tokens"),
        "n_chars_total",
        F.expr("aggregate(transform(_w, x -> length(x)), 0, (acc, v) -> acc + v)").alias(
            "_tok_chars"
        ),
        F.expr(f"size(filter(_w, x -> {stop_pred}))").alias("_n_stop"),
        (F.col("n_chars_total") - F.col("_nc_nopunct")).alias("_n_punct"),
    )
    avg_len = F.col("_tok_chars") / F.col("n_tokens")
    stop_ratio = F.col("_n_stop") / F.col("n_tokens")
    punct_ratio = F.col("_n_punct") / F.col("n_chars_total")
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), F.col("n_tokens") / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), avg_len / F.lit(8.0))
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_chars_total",
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        quality.alias("quality_score"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-marker language identification (n-gram heuristic).

    Returns: doc_id, lang_pred, lang_label, match.
    """
    d = docs.select("doc_id", F.col("lang").alias("lang_label"), F.expr(_WORDS).alias("_w"))
    pred = F.lit("unknown")
    for lang, markers in reversed(LANG_MARKERS):
        cond = " or ".join([f"x = '{m}'" for m in markers])
        pred = F.when(
            F.expr(f"size(filter(_w, x -> {cond}))") > 0, F.lit(lang)
        ).otherwise(pred)
    return d.select(
        "doc_id",
        pred.alias("lang_pred"),
        "lang_label",
        (pred == F.col("lang_label")).alias("match"),
    )


#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks
#: (portable subset of the GPT-2 pattern — identical regex semantics in
#: Spark's and DuckDB's regex engines).
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """Sub-word-style token counting: whitespace tokens vs BPE-ish units
    per document (regexp_extract_all — JVM-side).

    Returns: doc_id, n_ws_tokens, n_bpe_tokens, bpe_per_ws.
    """
    # Spark SQL string literals process backslash escapes ('\s' -> 's'),
    # DuckDB's do not — escape for the Spark side only.
    spark_pat = BPE_PATTERN.replace("\\", "\\\\")
    d = docs.select(
        "doc_id",
        F.expr(f"size({_WORDS})").alias("n_ws_tokens"),
        F.expr(f"size(regexp_extract_all(text, '{spark_pat}', 0))").alias(
            "n_bpe_tokens"
        ),
    )
    return d.select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        (F.col("n_bpe_tokens") / F.col("n_ws_tokens")).alias("bpe_per_ws"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Whitespace-normalized content fingerprint (rolling-hash stand-in:
    md5 of the canonical token stream — stable under reflow/extra spaces).

    Returns: doc_id, fp.
    """
    return docs.select(
        "doc_id",
        F.md5(F.expr(f"array_join({_WORDS}, ' ')")).alias("fp"),
    )


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Intra-document repetition signals (the Gopher/RefinedWeb-style
    quality heuristics): duplicate-token fraction, most-common-token
    fraction, most-common-bigram fraction, and a composite repetitive
    flag.

    100 TB shape: ZERO shuffles — everything is a higher-order Catalyst
    expression over the per-row token array. The mode count is NOT a
    groupBy: it's the longest run in the SORTED token array
    (``aggregate`` with a (prev, run, best) struct accumulator), so no
    token-level explode/shuffle ever happens.

    Returns: doc_id, n_tokens, n_distinct, dup_token_frac,
    top_token_frac, top_bigram_frac, flag_repetitive (int 0/1).
    """
    run = (
        "aggregate({arr}, "
        "named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        "'run', IF(x <=> acc.prev, acc.run + 1L, 1L), "
        "'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1L, 1L))), "
        "acc -> acc.best)"
    )
    bigrams = (
        "IF(size(_w) < 2, array(), "
        "transform(sequence(0, size(_w) - 2), "
        "i -> concat(element_at(_w, i + 1), ' ', element_at(_w, i + 2))))"
    )
    d = docs.select("doc_id", F.expr(_WORDS).alias("_w")).select(
        "doc_id",
        F.size("_w").alias("n_tokens"),
        F.size(F.array_distinct("_w")).alias("n_distinct"),
        F.expr(run.format(arr="array_sort(_w)")).alias("_tt"),
        F.expr(run.format(arr=f"array_sort({bigrams})")).alias("_tb"),
    )
    dup = F.lit(1.0) - F.col("n_distinct") / F.col("n_tokens")
    top_tok = F.col("_tt") / F.col("n_tokens")
    top_bi = F.when(F.col("n_tokens") < 2, F.lit(0.0)).otherwise(
        F.col("_tb") / (F.col("n_tokens") - 1)
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        dup.alias("dup_token_frac"),
        top_tok.alias("top_token_frac"),
        top_bi.alias("top_bigram_frac"),
        ((dup > 0.6) | (top_tok > 0.12) | (top_bi > 0.06))
        .cast("int")
        .alias("flag_repetitive"),
    )


#: PII detector patterns (name, regex, replacement). Deliberately a
#: dialect-portable regex subset (char classes + bounded quantifiers, no
#: \b, no lookaround) so Java regex (Spark) and RE2 (DuckDB) match the
#: same spans byte-for-byte. Redaction applies in list order: emails
#: first (their local parts would otherwise feed the narrower patterns).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ipv4", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
]


def _spark_re(pat: str) -> str:
    # Spark SQL string literals eat one level of backslashes; DuckDB's don't.
    return pat.replace("\\", "\\\\")


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII detection counts (email / phone / IPv4 shapes) —
    the scrubbing pre-pass every training-data pipeline runs before
    publication. Pure Catalyst ``regexp_count``-style expressions (size
    of ``regexp_extract_all``), zero shuffles, zero Python.

    Counts are SEQUENTIAL, matching :func:`pii_redact` exactly: each
    pattern counts on the text with all earlier patterns already redacted,
    so a span matching two detectors (an email whose local part looks
    like an IPv4) is charged to exactly one of them — the one that would
    actually redact it. Counting every pattern on the raw text would
    report entities the redactor never touches, making the report's
    counts and its chars_delta mutually inconsistent.

    Returns: doc_id, n_email, n_phone, n_ipv4, n_pii.
    """
    cols = [F.col("doc_id")]
    total = F.lit(0)
    cur = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        c = F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cols.append(c.alias(f"n_{name}"))
        total = total + c
        cur = F.regexp_replace(cur, pat, repl)
    return docs.select(*cols, total.alias("n_pii"))


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction: chained ``regexp_replace`` in :data:`PII_PATTERNS`
    order (emails before the narrower numeric shapes). Returns doc_id,
    ``text_redacted``, and the exact char delta vs the input."""
    red = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        # Python-API regexp_replace takes the raw Java-regex pattern (no
        # SQL-literal escaping — that's only for F.expr strings).
        red = F.regexp_replace(red, pat, repl)
    return docs.select(
        "doc_id",
        red.alias("text_redacted"),
        (F.length(text_col) - F.length(red)).alias("chars_delta"),
    )


def pii_report(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Per-group PII compliance report in ONE pass: detector counts plus
    the exact redaction char delta, aggregated by ``group_col`` — ZERO
    joins (scan and redact are projections over the same row), one
    partial-agg groupBy. This is the publication-gate report shape; the
    per-doc surfaces are :func:`pii_scan` / :func:`pii_redact`.

    Returns: source, n_docs, docs_with_pii, n_email, n_phone, n_ipv4,
    chars_delta.
    """
    red = F.col("text")
    counts = {}
    total = F.lit(0)
    for name, pat, repl in PII_PATTERNS:
        c = F.expr(f"size(regexp_extract_all(text, '{_spark_re(pat)}', 0))")
        counts[name] = c
        total = total + c
        red = F.regexp_replace(red, pat, repl)
    d = docs.select(
        F.col(group_col).alias("source"),
        *[c.alias(f"n_{n}") for n, c in counts.items()],
        total.alias("n_pii"),
        (F.length("text") - F.length(red)).alias("chars_delta"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_pii") > 0).cast("long")).alias("docs_with_pii"),
        F.sum("n_email").alias("n_email"),
        F.sum("n_phone").alias("n_phone"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum("chars_delta").alias("chars_delta"),
    )


def importance_weights(
    docs: DataFrame,
    target_pred: str,
    n_buckets: int = 64,
) -> DataFrame:
    """DSIR-style importance weights over hashed unigram features
    (Xie et al., "Data Selection for Language Models via Importance
    Resampling"): score each document by how target-like its hashed
    token-bucket profile is, for importance sampling a raw corpus toward
    a target distribution.

    Exactness: DSIR's score is Σ c_b·(ln p̂_b − ln q̂_b); ``ln`` differs
    in the last ulp across libms and this engine's outputs are
    value-hash-gated, so the score here is the RATIO-OF-SUMS surrogate
    with add-one smoothing — importance = (Σ_tokens (p_cnt+1) · Q) /
    (Σ_tokens (q_cnt+1) · P) — exact int64 sums and products (< 2^53 at
    any test SF; at real scale the same expression runs in DECIMAL(38))
    with ONE IEEE division at the end. Monotone in the same
    target-vs-raw evidence, engine-exact, rank-stable.

    100 TB shape: two hash aggregations build the tiny bucket tables
    (p: target, q: corpus), which broadcast back over one more token
    scan; the per-doc sums are ONE groupBy on doc_id. Returns (doc_id,
    n_tokens, importance) for every document.
    """
    toks = docs.select(
        "doc_id",
        F.expr(f"CAST({target_pred} AS BOOLEAN)").alias("_is_target"),
        F.explode(F.expr(_WORDS)).alias("tok"),
    ).withColumn(
        "bucket",
        F.expr(f"CAST(conv(substr(md5(tok), 1, 4), 16, 10) AS BIGINT) % {n_buckets}"),
    )
    # ONE conditional aggregation builds BOTH bucket tables (a separate
    # filtered agg for p was a second full token scan that exchange reuse
    # could never merge with q's)
    buckets = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("q_cnt"),
        F.sum(F.col("_is_target").cast("long")).alias("p_cnt"),
    )
    totals = buckets.agg(
        (F.sum("p_cnt") + F.lit(n_buckets)).alias("_P"),
        (F.sum("q_cnt") + F.lit(n_buckets)).alias("_Q"),
    )
    per_doc = (
        toks.join(F.broadcast(buckets), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("p_cnt") + F.lit(1)).alias("_sp"),
            F.sum(F.col("q_cnt") + F.lit(1)).alias("_sq"),
        )
    )
    scored = per_doc.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "n_tokens",
        (
            (F.col("_sp") * F.col("_Q")).cast("double")
            / (F.col("_sq") * F.col("_P")).cast("double")
        ).alias("importance"),
    )
    # "for every document" means EVERY document: a token-less doc has no
    # exploded rows, so it must re-enter via the doc spine with the
    # neutral weight (zero evidence -> importance 1)
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("importance", F.lit(1.0)).alias("importance"),
    )


def ngram_novelty(docs: DataFrame) -> DataFrame:
    """Per-document boilerplate signal: the mean corpus frequency of the
    document's word-bigrams. Generic/templated text is built from
    bigrams the corpus repeats constantly (high mean frequency); novel
    text sits in the tail — the integer-exact cousin of an n-gram LM
    perplexity score (log-prob sums are float-order-sensitive across
    engines; occurrence-count sums are BIGINT-exact, so the oracle is
    bit-checkable).

    100 TB shape: bigram corpus frequency is a COUNT window over the
    bigram key (one hash(bg) exchange with no join — the count rides
    back on the same partitioning), then one groupBy(doc_id) exchange;
    token-less/one-token docs re-enter via the doc spine with zero
    counts. Returns: doc_id, n_bigrams, freq_sum, avg_bigram_freq.
    """
    d = docs.select("doc_id", F.expr(_WORDS).alias("_w"))
    bi = d.filter(F.size("_w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(_w) - 2),"
                " i -> concat(_w[i], ' ', _w[i+1]))"
            )
        ).alias("bg"),
    )
    wbg = Window.partitionBy("bg")
    per_doc = (
        bi.withColumn("_c", F.count(F.lit(1)).over(wbg))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_c").alias("freq_sum"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("freq_sum", F.lit(0)).alias("freq_sum"),
        F.when(
            F.coalesce("n_bigrams", F.lit(0)) > 0,
            F.col("freq_sum") / F.col("n_bigrams"),
        ).otherwise(F.lit(0.0)).alias("avg_bigram_freq"),
    )


def oov_rate(docs: DataFrame, top_n: int = 100) -> DataFrame:
    """Out-of-vocabulary rate per document: the fraction of tokens outside
    the corpus's top-``top_n`` vocabulary — the two-pass corpus-statistic
    pattern (a global aggregate broadcast back over one more scan).

    100 TB shape: pass 1 is the canonical word-count (one token-key
    shuffle with map-side partial aggregation, top-n via TakeOrdered
    partial heaps); the tiny vocabulary then broadcasts into a left-anti
    probe, and the per-doc counts are ONE groupBy on doc_id. The top-n
    selection orders by (count DESC, token) — a total order, so the
    vocabulary (and every downstream number) is deterministic on any
    cluster and in the oracle.

    Returns: doc_id, n_tokens, n_oov, oov_rate.
    """
    # ONE corpus token scan: everything below derives from the (doc, tok)
    # term table — the naive three-consumer formulation (top / n_all /
    # n_oov each reading the explode) re-ran the corpus scan three times
    # (Catalyst shares no duplicate subtrees; guide §7.2. r11). The term
    # table is persisted (tiny next to the token stream; CacheManager
    # dedupes repeated calls) and all counts recombine exactly:
    # occurrences per token == Σ tf, per-doc totals == Σ tf.
    from .. import cache_scope

    toks = docs.select("doc_id", F.explode(F.expr(_WORDS)).alias("tok"))
    # invocation-scoped persist (r12): three consumers of one term table
    dt = cache_scope.persist(
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    )
    top = (
        dt.groupBy("tok")
        .agg(F.sum("tf").alias("count"))
        .orderBy(F.desc("count"), "tok")
        .limit(top_n)
        .select("tok")
    )
    n_all = dt.groupBy("doc_id").agg(F.sum("tf").alias("n_tokens"))
    n_oov = (
        dt.join(F.broadcast(top), "tok", "left_anti")
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("n_oov"))
    )
    return (
        docs.select("doc_id")  # spine: token-less docs keep their row
        .join(n_all, "doc_id", "left")
        .join(n_oov, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.coalesce("n_oov", F.lit(0)) / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)).alias("oov_rate"),
        )
    )


def distinctive_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-``k`` distinctive terms per document, TF-IDF style: score =
    tf / df (term frequency over document frequency). The score is
    deliberately the exact rational tf/df rather than tf·ln(N/df):
    IEEE division of two small ints is correctly rounded on every
    engine, while ``ln`` may differ in the last ulp between libms —
    and the hash oracle compares bits, not intent.

    100 TB shape: doc-term counts and the document-frequency table are
    both ONE hash aggregation, df joins back on the token key (AQE skew
    join absorbs stop-word skew; broadcast kicks in automatically when
    the vocabulary is small), and the per-doc top-k is a rank window
    with a TOTAL (score DESC, token) order, so ties resolve identically
    on any cluster and in the oracle.

    Returns: doc_id, tok, tf, df, score, rank (1-based, rank <= k).
    """
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.explode(F.expr(_WORDS)).alias("tok"))
    dt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # df as a COUNT window over the term table instead of a second
    # aggregation joined back: the join formulation evaluated dt (and
    # the corpus explode under it) twice — Catalyst shares no duplicate
    # subtrees (guide §7.2; r11). Same integer df per row.
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.col("tf") / F.col("df")), "tok"
    )
    return (
        dt.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
        )
        .withColumn("score", F.col("tf") / F.col("df"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "tok", "tf", "df", "score", "rank")
    )


def ks_drift_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance of ``value_col``
    for each group vs the REST of the corpus — "is this source's quality
    distribution shaped like everyone else's", the distributional twin
    of the mean/quantile per-source audits.

    Exactness: D = max|F_g - F_rest| cross-multiplies to
    max|c_g·n_rest - c_rest·n_g|, all BIGINT until one final divide. No
    sampling, no binning. Ties are aggregated the textbook way: rows are
    totally ordered by (value, tiebreak) for deterministic cumulatives,
    but the gap is evaluated ONLY at the last row of each equal-value
    run — the ECDF step after all rows of that value — so the statistic
    matches the classical two-sample KS (and scipy) even when the same
    value occurs in both the group and the rest.

    Shape: rows × groups via a broadcast of the tiny group list; one
    hash(group) exchange drives the per-group cumulative windows and the
    final max. The row×group fan-out is the validation-scale audit cost
    (like the exact dedup baselines) — at extreme group counts, run per
    cohort or switch to binned TVD (`stats.distribution_drift`).

    Returns: group, n_group, n_rest, ks_num, ks.
    """
    from .decimate import big_to_double

    groups = df.select(F.col(group_col).alias("_grp")).distinct()
    e = df.select(
        F.col(group_col).alias("_g0"),
        F.col(value_col).alias("_v"),
        F.col(tiebreak_col).alias("_tb"),
    ).crossJoin(F.broadcast(groups))
    win = (
        Window.partitionBy("_grp")
        .orderBy("_v", "_tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("_grp")
    wlead = Window.partitionBy("_grp").orderBy("_v", "_tb")
    e = (
        e.withColumn("_in", (F.col("_g0") == F.col("_grp")).cast("long"))
        .withColumn("_cs", F.sum("_in").over(win).cast("decimal(19,0)"))
        .withColumn(
            "_cr", F.sum(1 - F.col("_in")).over(win).cast("decimal(19,0)")
        )
        .withColumn("_ns", F.sum("_in").over(wn).cast("decimal(19,0)"))
        .withColumn("_nr", F.sum(1 - F.col("_in")).over(wn).cast("decimal(19,0)"))
        # ECDF step position: last row of an equal-value run — the only
        # places the textbook KS statistic is evaluated (mid-tie prefixes
        # overshoot when a value occurs in both samples)
        .withColumn(
            "_vnext", F.lead("_v").over(wlead)
        )
        .withColumn(
            "_step",
            F.col("_vnext").isNull() | (F.col("_vnext") != F.col("_v")),
        )
    )
    step_gap = "CASE WHEN _step THEN abs(_cs * _nr - _cr * _ns) END"
    num = big_to_double(f"CAST(max({step_gap}) AS DECIMAL(38,0))")
    den = big_to_double("CAST(max(_ns) * max(_nr) AS DECIMAL(38,0))")
    return (
        e.groupBy(F.col("_grp").alias(group_col))
        .agg(
            F.max("_ns").cast("long").alias("n_group"),
            F.max("_nr").cast("long").alias("n_rest"),
            F.max(F.expr(step_gap))
            .cast("long")
            .alias("ks_num"),
            F.expr(
                "CASE WHEN max(_ns) = 0 OR max(_nr) = 0"
                " THEN CAST(NULL AS DOUBLE)"
                f" ELSE ({num}) / ({den}) END"
            ).alias("ks"),
        )
        .orderBy(group_col)
    )


def boilerplate_spans(
    docs: DataFrame, n: int = 5, min_sources: int = 2
) -> DataFrame:
    """Cross-source boilerplate coverage per document — the RefinedWeb /
    CCNet line-dedup analog for a corpus without line structure: an
    ``n``-token shingle that appears in at least ``min_sources`` distinct
    sources is template text (headers, navigation, license banners), and
    a document's quality signal is the fraction of its token positions
    covered by such shingles (span coverage = interval union, counted
    exactly as distinct positions).

    100 TB shape: one shingle-key exchange for the distinct-source count
    (two-phase partial aggregation), one join of the shingle stream back
    to the flagged-key set (broadcast while the template set is small,
    AQE-planned shuffle join beyond), then the position fan-out is a
    bounded ×n explode feeding a doc-keyed distinct+count. No window
    over the corpus, no self-join, no Python.

    Returns: doc_id, n_tokens, n_cov, cov_rate (round 6).
    """
    d = docs.select("doc_id", "source", F.expr(_WORDS).alias("w"))
    sh = d.filter(F.size("w") >= n).select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(w) - {n}),"
                f" i -> concat_ws(' ', slice(w, i + 1, {n})))"
            )
        ).alias("pos", "key"),
    )
    flagged = (
        sh.groupBy("key")
        .agg(F.countDistinct("source").alias("ns"))
        .filter(F.col("ns") >= min_sources)
        .select("key")
    )
    cov = (
        sh.join(flagged, "key")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(pos, pos + {n - 1})")).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_cov"))
    )
    spine = d.select("doc_id", F.size("w").cast("bigint").alias("n_tokens"))
    z = F.lit(0).cast("bigint")
    nc = F.coalesce("n_cov", z)
    return spine.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        nc.alias("n_cov"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(nc.cast("double") / F.col("n_tokens").cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("cov_rate"),
    )


def boilerplate_by_source(
    docs: DataFrame, n: int = 5, min_sources: int = 2
) -> DataFrame:
    """Source-level boilerplate census: which sources ship the most
    template text (the drop-or-clean decision is made per source).
    Exact integer numerators/denominators; one division at the end."""
    per_doc = boilerplate_spans(docs, n=n, min_sources=min_sources)
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_cov").alias("n_cov"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_cov") > 0, 1).otherwise(0)).alias(
                "docs_touched"
            ),
        )
        .select(
            "source", "n_docs", "docs_touched", "n_tokens", "n_cov",
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.col("n_cov").cast("double")
                    / F.col("n_tokens").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("cov_rate"),
        )
    )
