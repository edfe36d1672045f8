"""Distributed BPE merge learning (Sennrich et al. 2016, public
algorithm): learn the first N byte-pair merges from a corpus.

The classic training loop — count adjacent symbol pairs weighted by
word frequency, merge the argmax pair everywhere, repeat — re-expressed
Spark-first:

  * ONE corpus scan builds the word-frequency vocabulary; the top-k cut
    is a ``TakeOrderedAndProject`` (per-partition partial top-k, no
    global sort shuffle) — the only stage that touches corpus-scale
    data. At 100 TB this is the whole cost; everything after runs on
    the <= ``max_words``-row vocab table.
  * Each iteration is pure Catalyst over the cached vocab: explode
    adjacent pairs -> hash agg -> a ONE-ROW bounded collect for the
    argmax (the same justified-collect class as the planner's stats
    probe), then the merge applied as a higher-order ``aggregate`` fold
    — greedy left-to-right non-overlapping, exactly the reference
    algorithm's semantics (``[a,a,a,a]`` + merge (a,a) -> ``[aa,aa]``).
  * No Python in any row path; the DuckDB oracle unrolls the same N
    rounds in SQL (the unrolled-Lloyd K-Means pattern), so merges,
    tie-breaks, and pair counts are value-hash-checked end to end.

Ties break deterministically on (count DESC, lhs, rhs) — engine-portable
binary ordering over the ``[a-z]+``/``</w>`` symbol alphabet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache_scope

#: end-of-word marker (its own symbol, as in the reference algorithm)
EOW = "</w>"

_CHARS = (
    "concat(transform(sequence(1, length(word)), i -> "
    f"substring(word, i, 1)), array('{EOW}'))"
)

_PAIRS = (
    "transform(sequence(1, size(syms) - 1), i -> "
    "struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"
)


def _merge_expr(lhs: str, rhs: str, merged: str) -> str:
    """Greedy left-to-right non-overlapping merge of (lhs, rhs) as a
    higher-order fold. Symbols are drawn from [a-z]+ and the EOW marker,
    so literal embedding is injection-safe (asserted)."""
    for tok in (lhs, rhs, merged):
        assert all(c.islower() or c in "</>" for c in tok), tok
    return (
        "aggregate(syms, cast(array() as array<string>), (acc, x) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{lhs}' "
        f"AND x = '{rhs}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{merged}')) "
        "ELSE concat(acc, array(x)) END)"
    )


def bpe_vocab(docs: DataFrame, max_words: int, max_word_len: int) -> DataFrame:
    """(doc_id, text) -> deterministic top-k (word, cnt) vocabulary over
    lowercase-alpha words; ties break on the word itself."""
    from .text import _WORDS

    words = (
        docs.select(F.explode(F.expr(_WORDS)).alias("word"))
        .filter(
            f"word rlike '^[a-z]+$' AND length(word) <= {int(max_word_len)}"
        )
    )
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(int(max_words))
    )


def bpe_learn(
    docs: DataFrame,
    n_merges: int = 4,
    max_words: int = 500,
    max_word_len: int = 16,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges -> DataFrame
    (rank int, lhs string, rhs string, merged string, pair_count long).

    The vocab is cached once (<= max_words rows) so the corpus is
    scanned exactly once across all iterations; each iteration's argmax
    is a one-row bounded collect (documented justified-collect); the
    cache lives for this call, an exception mid-loop included."""
    spark = docs.sparkSession
    merges: list[tuple[int, str, str, str, int]] = []
    with cache_scope.scope():
        vocab = cache_scope.persist(bpe_vocab(docs, max_words, max_word_len))
        syms = vocab.select("cnt", F.expr(_CHARS).alias("syms"))
        for rank in range(1, n_merges + 1):
            pairs = (
                syms.filter("size(syms) >= 2")
                .select("cnt", F.explode(F.expr(_PAIRS)).alias("p"))
                .groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
                .agg(F.sum("cnt").alias("c"))
            )
            best = pairs.orderBy(F.desc("c"), "lhs", "rhs").limit(1).collect()
            if not best:
                break
            lhs, rhs, c = best[0]["lhs"], best[0]["rhs"], int(best[0]["c"])
            merged = lhs + rhs
            merges.append((rank, lhs, rhs, merged, c))
            syms = syms.select(
                "cnt", F.expr(_merge_expr(lhs, rhs, merged)).alias("syms")
            )
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, merged string, pair_count long"
    )


def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize documents with a learned merge list: per-doc token count
    before/after merges (the compression a tokenizer team actually
    measures). Pure Catalyst: the merge chain is the same fold applied
    in rank order to every word."""
    from .text import _WORDS

    d = docs.select(
        "doc_id",
        F.explode(F.expr(_WORDS)).alias("word"),
    ).filter("word rlike '^[a-z]+$'")
    d = d.select("doc_id", F.expr(_CHARS).alias("syms"))
    base = F.expr("size(syms)")
    d = d.select("doc_id", base.alias("n_base"), F.col("syms"))
    for lhs, rhs in merges:
        d = d.select(
            "doc_id", "n_base",
            F.expr(_merge_expr(lhs, rhs, lhs + rhs)).alias("syms"),
        )
    return (
        d.groupBy("doc_id")
        .agg(
            F.sum("n_base").alias("base_symbols"),
            F.sum(F.expr("size(syms)")).alias("bpe_tokens"),
        )
    )
