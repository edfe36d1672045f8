"""Training-data pipeline queries over ``documents`` / ``embeddings``:
deduplication, similarity search, text analysis, multimodal plumbing.

Hash and tokenization choices are engine-portable (md5 hex, whitespace-run
regex) so every operator except the bit-twiddling SimHash has an exact
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cache_scope
from .operators import dedup, multimodal, sampling, similarity, stats, text
from .sources.testdata import load_table

ANN_QUERY_IDS = [0, 1, 2, 3, 4]

# DuckDB-side tokenization mirror of operators/text._WORDS
_W_SQL = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"

# distinct word-3-gram shingles per doc (mirror of operators.dedup.shingles)
SHINGLES_CTE = f"""
sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(generate_series(1, len(w) - 2),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM (SELECT doc_id, {_W_SQL} AS w FROM documents)
  WHERE len(w) >= 3
)
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 digest groupBy, min-id survivor."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).orderBy("keep_id")


SQL_DEDUP_EXACT = """
SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY md5(text) ORDER BY keep_id
"""


JACCARD_THRESHOLD = 0.5


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (threshold 0.5) — quadratic
    oracle baseline for the MinHash/LSH path."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    return dedup.jaccard_pairs(sh, JACCARD_THRESHOLD).orderBy("id_a", "id_b")


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard,
       n_common
FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}
ORDER BY id_a, id_b
"""

MINHASH_K = 8
MINHASH_BAND = 2
MINHASH_VERIFY = 0.2


#: Five registry queries consume the MinHash-LSH pair set and three the
#: SRP-LSH pair set at identical parameters, so each is a session view
#: (cache_scope.session_view): a production deployment would persist the
#: pair table as a maintained artifact next to the corpus.
@cache_scope.session_view("minhash_pairs")
def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        dedup.shingles(docs), MINHASH_K, MINHASH_BAND, MINHASH_VERIFY
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) + LSH(4 bands of 2) candidates, verified by true Jaccard
    >= 0.2 — the 100 TB-safe near-dup plan. (The pair table is a session
    view.)"""
    return _minhash_pairs(spark, sf_dir).orderBy("id_a", "id_b")


def _minhash_pair_ctes() -> str:
    """CTE chain ending in ``vpairs(id_a, id_b, jaccard, n_common)`` —
    the verified MinHash-LSH near-dup pairs; shared by the pair query and
    the transitive-cluster oracle."""
    mh_cols = ",\n         ".join(
        f"min(md5('{j}:' || shingle)) AS mh_{j}" for j in range(MINHASH_K)
    )
    n_bands = MINHASH_K // MINHASH_BAND
    band_rows = ", ".join(
        "({b}, md5({cat}))".format(
            b=b,
            cat=" || ".join(
                f"mh_{b * MINHASH_BAND + i}" for i in range(MINHASH_BAND)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
{SHINGLES_CTE},
sig AS (
  SELECT doc_id,
         {mh_cols}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, bk.band, bk.key
  FROM sig, LATERAL (SELECT * FROM (VALUES {band_rows}) v(band, key)) bk
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
   AND a.shingle = b.shingle
  GROUP BY c.id_a, c.id_b
),
vpairs AS (
  SELECT id_a, id_b,
         n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard, n_common
  FROM common JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {MINHASH_VERIFY}
)"""


SQL_DEDUP_MINHASH_LSH = f"""
WITH {_minhash_pair_ctes()}
SELECT id_a, id_b, jaccard, n_common FROM vpairs ORDER BY id_a, id_b
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters: MinHash-LSH verified pairs -> connected
    components (hash-min label propagation) -> one survivor per
    component. THE step a real dedup pipeline needs beyond pairwise
    matches (A~B, B~C must keep exactly one of {A,B,C}); documents with
    no near-dup are singleton components. Oracle = DuckDB recursive-CTE
    transitive closure over the identical pair set."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    return dedup.dedup_clusters(pairs, docs).orderBy("comp")


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_minhash_pair_ctes()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM vpairs
),
reach AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON e.dst = r.id
),
lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
SELECT comp, min(id) AS keep_id, count(*) AS n_docs
FROM lab GROUP BY comp ORDER BY comp
"""


DELTA_NEW_MOD = 10  # docs with doc_id % 10 == 0 play the "new batch"


def q_pair_table_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH pair table as a PERSISTED, CDC-maintained materialized
    view (sources/pair_store.py): the corpus commits to an append-only
    manifest table (batch 1 = doc_id % 10 != 0, batch 2 = the rest),
    the pair view is built from snapshot v0, then maintained from the
    `read_changes` manifest-diff feed of commit v1 — O(batch) cross +
    within-batch pairs appended, corpus ⋈ corpus never recomputed. The
    oracle is the FULL-corpus rebuild (SQL_DEDUP_MINHASH_LSH's chain):
    a value-hash match proves rebuild-vs-incremental equivalence."""
    return _pair_table_incremental(spark, sf_dir).orderBy("id_a", "id_b")


@cache_scope.session_view("pair_table_incremental")
def _pair_table_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog import _scratch_dir
    from .sources.pair_store import DocTable, PairTableView

    root = _scratch_dir("pvpairs_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dt = DocTable(spark, root + "/docs", "doc_id bigint, text string")
    v0 = dt.append(docs.filter(F.col("doc_id") % DELTA_NEW_MOD != 0))
    v1 = dt.append(docs.filter(F.col("doc_id") % DELTA_NEW_MOD == 0))
    view = PairTableView(
        spark, root + "/pairs", MINHASH_K, MINHASH_BAND, MINHASH_VERIFY
    )
    view.rebuild(dedup.shingles(dt.read(at_version=v0)))
    batch = dt.read_changes(v0, v1)  # CDC: only the delta's files
    view.apply_batch(
        dedup.shingles(dt.read(at_version=v0)), dedup.shingles(batch)
    )
    return view.read()


SQL_PAIR_TABLE_INCREMENTAL = f"""
WITH {_minhash_pair_ctes()}
SELECT id_a, id_b, jaccard, CAST(n_common AS BIGINT) AS n_common
FROM vpairs ORDER BY id_a, id_b
"""


def q_pair_table_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO independent streaming maintenance runs feeding ONE persisted
    pair table — the multi-stream operational lifecycle. Each run gets a
    FRESH checkpoint, so Structured Streaming restarts its batch ids at
    0 in both: exactly the collision the checkpoint-scoped idempotency
    markers exist for (round-10 review — raw ``batch-<id>`` markers made
    the second stream silently skip pair maintenance while still
    appending docs, permanently breaking the view invariant). Stream 1
    ingests the corpus (doc_id % 10 != 0), stream 2 the delta; the
    oracle is the FULL-corpus rebuild chain, so a value-hash match
    proves the two-stream composition lands on exactly the batch-free
    answer."""
    return _pair_table_streams(spark, sf_dir).orderBy("id_a", "id_b")


@cache_scope.session_view("pair_table_streams")
def _pair_table_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog import _scratch_dir
    from .sources.pair_store import (
        DocTable,
        PairTableView,
        start_pair_table_maintenance,
    )

    root = _scratch_dir("pvpairs_streams_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    schema = "doc_id bigint, text string"
    dt = DocTable(spark, root + "/docs", schema)
    view = PairTableView(
        spark, root + "/pairs", MINHASH_K, MINHASH_BAND, MINHASH_VERIFY
    )
    parts = (
        docs.filter(F.col("doc_id") % DELTA_NEW_MOD != 0),
        docs.filter(F.col("doc_id") % DELTA_NEW_MOD == 0),
    )
    for i, part in enumerate(parts):
        src = f"{root}/src{i}"
        part.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = start_pair_table_maintenance(
            stream, dt, view, f"{root}/ckpt{i}", available_now=True
        )
        q.awaitTermination(300)
    return view.read()


#: identical oracle to the CDC-incremental row: both must land on the
#: full-rebuild pair set exactly
SQL_PAIR_TABLE_STREAMS = SQL_PAIR_TABLE_INCREMENTAL


def q_pair_table_probe_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED corpus-index probe with In-predicate pushdown
    (VERDICT r10 #2's scale path): the corpus side is a
    :class:`sources.pair_store.CorpusIndexStore` — key-sorted band
    files and id-sorted shingle-set files on disk — and the delta probe
    runs with ``probe_prune`` enabled, so the batch's band keys (then
    the candidates' old ids) reach the corpus scans as row-group-pruned
    In filters. Both filters are supersets of what the equi-joins keep,
    so the result must equal the connection-free in-memory delta chain
    BIT-EXACTLY — which is what this row's oracle (the same full-chain
    SQL as ``dedup_incremental``) proves. A tiny ``probe_prune`` cap
    (1) is also exercised under test to pin the fallback-to-full-scan
    path; here the cap is the production default."""
    return _pair_table_probe_pruned(spark, sf_dir).orderBy("old_id", "new_id")


@cache_scope.session_view("pair_table_probe_pruned")
def _pair_table_probe_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog import _scratch_dir
    from .sources.pair_store import CorpusIndexStore, DocTable

    root = _scratch_dir("pvprobe_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_new = F.col("doc_id") % DELTA_NEW_MOD == 0
    dt = DocTable(spark, root + "/docs", "doc_id bigint, text string")
    v0 = dt.append(docs.filter(~is_new))
    idx = CorpusIndexStore(spark, root + "/cindex", MINHASH_K, MINHASH_BAND)
    bands, sets = idx.sync(dt)  # first-ever build, persisted
    assert idx.version() == v0
    with cache_scope.scope():
        out = dedup.minhash_lsh_delta_pairs(
            None,
            dedup.shingles(docs.filter(is_new)),
            MINHASH_K,
            MINHASH_BAND,
            MINHASH_VERIFY,
            old_index=(bands, sets),
            probe_prune=8192,
        ).persist()
        # materialize BEFORE the scope releases the probe intermediates,
        # or the final evaluation recomputes the whole delta chain they
        # amortize (round-11 review)
        out.count()
    return out


#: identical oracle to dedup_incremental: the persisted, probe-pruned
#: index path must land on exactly the in-memory delta answer
SQL_PAIR_TABLE_PROBE_PRUNED = None  # assigned below SQL_DEDUP_INCREMENTAL


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: MinHash-LSH pairs between the 'new batch'
    (doc_id % 10 == 0) and the existing corpus only — band join is
    old ⋈ new, never old ⋈ old, so per-batch cost tracks the batch
    size. Oracle = the full pair chain filtered to cross pairs (band
    candidate generation is symmetric, so the sets coincide exactly)."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % DELTA_NEW_MOD == 0
    sh_old = dedup.shingles(docs.filter(~is_new))
    sh_new = dedup.shingles(docs.filter(is_new))
    return dedup.minhash_lsh_delta_pairs(
        sh_old, sh_new, MINHASH_K, MINHASH_BAND, MINHASH_VERIFY
    ).orderBy("old_id", "new_id")


SQL_DEDUP_INCREMENTAL = f"""
WITH {_minhash_pair_ctes()}
SELECT CASE WHEN id_a % {DELTA_NEW_MOD} = 0 THEN id_b ELSE id_a END AS old_id,
       CASE WHEN id_a % {DELTA_NEW_MOD} = 0 THEN id_a ELSE id_b END AS new_id,
       jaccard, n_common
FROM vpairs
WHERE (id_a % {DELTA_NEW_MOD} = 0) != (id_b % {DELTA_NEW_MOD} = 0)
ORDER BY old_id, new_id
"""

SQL_PAIR_TABLE_PROBE_PRUNED = SQL_DEDUP_INCREMENTAL


SIMHASH_MAX_HAMMING = 3


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming <= 3 via 4 x 15-bit pigeonhole
    banding (guaranteed recall at this radius) + exact popcount verify;
    equals the exact all-pairs popcount filter, hence the SQL oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(
        docs, max_hamming=SIMHASH_MAX_HAMMING
    ).orderBy("id_a", "id_b")


def _sql_simhash(max_hamming: int) -> str:
    # 60-bit token hash: first 15 md5 hex chars, char i (0-based) weighted
    # 16^(14-i) — identical to Spark's conv(substring(md5(tok),1,15),16,10)
    tok_hash = (
        "list_sum(list_transform(range(0, 15), i -> "
        "CAST(strpos('0123456789abcdef', substr(md5(tok), i + 1, 1)) - 1 "
        "AS BIGINT) << (4 * (14 - i))))"
    )
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(60)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(60)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_W_SQL}) AS tok FROM documents
),
th AS (
  SELECT doc_id, {tok_hash} AS h FROM toks
),
bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM th GROUP BY doc_id
),
sig AS (
  SELECT doc_id, {sig_terms} AS simhash FROM bits
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY id_a, id_b
"""


SQL_SIMHASH_NEAR_PAIRS = _sql_simhash(SIMHASH_MAX_HAMMING)


VOCAB_TOP_K = 500


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-500 tokens by frequency (tokenizer-building
    / corpus-stats primitive). One explode + one partial-aggregated
    groupBy + TakeOrdered — the canonical word-count shape, scales as a
    single shuffle on the token key."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.expr(text._WORDS)).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(VOCAB_TOP_K)
    )


SQL_VOCAB_TOPK = f"""
SELECT tok, count(*) AS n
FROM (SELECT unnest({_W_SQL}) AS tok FROM documents)
GROUP BY tok ORDER BY n DESC, tok LIMIT {VOCAB_TOP_K}
"""

BENCH_MOD = 29  # every 29th doc stands in for the "benchmark" eval set


def q_contamination_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: per non-benchmark document, how many of
    its 3-gram shingles appear anywhere in the benchmark set (docs with
    doc_id % 29 == 0). Benchmark shingles are broadcast — one corpus scan
    plus a doc-id groupBy; no shingle-table shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0).select("doc_id")
    return dedup.contamination(sh, bench).orderBy("doc_id")


SQL_CONTAMINATION_3GRAM = f"""
WITH {SHINGLES_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
cand AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} != 0),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM cand GROUP BY doc_id),
hits AS (
  SELECT doc_id, count(*) AS n_hits
  FROM cand JOIN bench USING (shingle) GROUP BY doc_id
)
SELECT s.doc_id, s.n_shingles,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) / s.n_shingles AS hit_ratio
FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
ORDER BY s.doc_id
"""


def q_ca_array_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform (array) Channel Access roundtrip: every embedding vector
    rides a real DBR_TIME_DOUBLE monitor event with count=64
    (functions/ca_wire.encode_monitor_event_array), is decoded back by
    the waveform decoder, and summarized per subscription —
    integer-scaled checksum (order-free, engine-portable) + exact
    min/max/length. A value-hash match against the codec-free oracle
    attests the array payload layout; the EXTENDED-header form is pinned
    separately in tests/test_ca_wire.py. The reference archives array
    channels through the same DBR path
    (`ChannelAccessSampleValueAccess.java` array accessors)."""
    from .functions import ca_wire

    emb = load_table(spark, sf_dir, "embeddings")
    frames = ca_wire.encode_vector_table(emb)
    events = ca_wire.decode_monitor_event_arrays(frames)
    return (
        events.select(
            "sid",
            "t",
            F.size("varr").alias("n_elems"),
            F.expr(
                "aggregate(varr, CAST(0 AS BIGINT), (acc, x) ->"
                " acc + CAST(floor(x * 1000000 + 0.5) AS BIGINT))"
            ).alias("checksum"),
            F.array_min("varr").alias("vmin"),
            F.array_max("varr").alias("vmax"),
        )
        .orderBy("sid")
    )


SQL_CA_ARRAY_ROUNDTRIP_STATS = """
SELECT vec_id AS sid,
       CAST((631152000 + vec_id) * 1000000000 AS BIGINT) AS t,
       CAST(len(embedding) AS INTEGER) AS n_elems,
       CAST(list_sum(list_transform(embedding, x ->
         CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)))
         AS BIGINT) AS checksum,
       CAST(list_min(embedding) AS DOUBLE) AS vmin,
       CAST(list_max(embedding) AS DOUBLE) AS vmax
FROM embeddings ORDER BY sid
"""


EPOCH_SHUFFLE_SHARDS = 8


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-order shuffle
    (operators/sampling.epoch_shuffle): every doc gets a reproducible
    (shard, pos) address — hash shard assignment + per-shard md5-order
    rank, no global sort, same bytes on any cluster or run."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.epoch_shuffle(docs, EPOCH_SHUFFLE_SHARDS, seed="epoch0")


#: DuckDB mirror of sampling.hash_bucket16 (defined inline — the shared
#: _sql_h16 helper is declared later in this module)
_EPOCH_H16 = (
    "CAST(list_sum(list_transform(range(0, 4), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5('epoch0:' || "
    "CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)"
    " << (4 * (3 - i)))) AS INTEGER)"
)

SQL_EPOCH_SHUFFLE = f"""
WITH s AS (
  SELECT doc_id,
         md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h,
         ({_EPOCH_H16}) % {EPOCH_SHUFFLE_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, CAST(shard AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
            AS BIGINT) AS pos
FROM s ORDER BY shard, pos
"""


def q_bloom_decontam_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a Bloom-filter prefilter,
    audited per source against the exact membership join
    (operators/sketches.bloom_contamination_audit): zero false negatives
    by construction, measured false-positive rate and filter fill — the
    membership member of the mergeable-sketch family. Same benchmark
    fixture as contamination_3gram (doc_id % 29 == 0)."""
    from .operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0).select("doc_id")
    return sketches.bloom_contamination_audit(sh, bench, group_col="source")


SQL_BLOOM_DECONTAM_AUDIT = f"""
WITH {SHINGLES_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
bbits AS (
  SELECT DISTINCT CAST(bit AS INTEGER) AS bit FROM (
    SELECT unnest(list_distinct(list_transform(range(0, 4), j ->
      list_sum(list_transform(range(0, 4), i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), 4*j + i + 1, 1)) - 1 AS BIGINT) << (4 * (3 - i))))))) AS bit
    FROM bench)
),
probes AS (
  SELECT s.doc_id, s.shingle, d.source,
         list_distinct(list_transform(range(0, 4), j ->
           CAST(list_sum(list_transform(range(0, 4), i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), 4*j + i + 1, 1)) - 1 AS BIGINT) << (4 * (3 - i)))) AS INTEGER))) AS pos
  FROM sh s JOIN documents d USING (doc_id)
  WHERE s.doc_id % {BENCH_MOD} <> 0
),
pbits AS (
  SELECT doc_id, shingle, len(pos) AS npos, unnest(pos) AS bit FROM probes
),
hits AS (
  SELECT doc_id, shingle FROM pbits JOIN bbits USING (bit)
  GROUP BY doc_id, shingle, npos HAVING count(*) = npos
)
SELECT p.source AS grp,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact,
       CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom,
       CAST(sum(CASE WHEN h.doc_id IS NOT NULL AND b.shingle IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       CASE WHEN count(*) = sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
            THEN CAST(NULL AS DOUBLE)
            ELSE sum(CASE WHEN h.doc_id IS NOT NULL AND b.shingle IS NULL
                     THEN 1 ELSE 0 END)
               / (count(*) - sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END))
       END AS fp_rate,
       CAST((SELECT count(*) FROM bbits) AS BIGINT) AS bits_set,
       (SELECT count(*) FROM bbits) / 65536.0 AS fill
FROM probes p
LEFT JOIN bench b ON p.shingle = b.shingle
LEFT JOIN hits h ON h.doc_id = p.doc_id AND h.shingle = p.shingle
GROUP BY p.source ORDER BY grp
"""


SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split audit: hash-threshold assignment (80/10/10,
    salt 'split'), counted per (lang, split). The assignment is a pure
    map — no shuffle, reproducible on any cluster — and the count is the
    stratification check a pipeline runs before training."""
    docs = load_table(spark, sf_dir, "documents")
    s = sampling.split_assign(
        docs, train_pct=SPLIT_TRAIN_PCT, val_pct=SPLIT_VAL_PCT
    )
    return (
        s.groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "split")
    )


def _sql_h16(salt: str) -> str:
    """DuckDB mirror of sampling.hash_bucket16 (first 16 bits of md5)."""
    return (
        "CAST(list_sum(list_transform(range(0, 4), i -> "
        f"CAST(strpos('0123456789abcdef', substr(md5('{salt}:' || "
        "CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)"
        " << (4 * (3 - i)))) AS INTEGER)"
    )


_T_THR = 65536 * SPLIT_TRAIN_PCT // 100
_V_THR = 65536 * (SPLIT_TRAIN_PCT + SPLIT_VAL_PCT) // 100
SQL_STRATIFIED_SPLIT = f"""
SELECT lang,
       CASE WHEN {_sql_h16("split")} < {_T_THR} THEN 'train'
            WHEN {_sql_h16("split")} < {_V_THR} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs
FROM documents GROUP BY 1, 2 ORDER BY lang, split
"""


_STOP_PRED = " OR ".join(f"x = '{s}'" for s in text.STOPWORDS)

#: metrics-with-lang CTE chain (ends in ``qual(doc_id, lang, n_tokens,
#: quality_score)``) — the quality formula is textually identical to
#: text.text_metrics so scores are bit-identical across engines.
_QUALITY_CTES = f"""
met AS (
  SELECT doc_id, lang, len(w) AS n_tokens,
         CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS tok_chars,
         len(list_filter(w, x -> {{stop}})) AS n_stop
  FROM (SELECT doc_id, lang, {_W_SQL} AS w FROM documents)
),
qual AS (
  SELECT doc_id, lang, n_tokens,
         0.4 * least(1.0, n_tokens / 100.0)
           + 0.3 * (1.0 - n_stop / CAST(n_tokens AS DOUBLE))
           + 0.3 * least(1.0, tok_chars / CAST(n_tokens AS DOUBLE) / 8.0)
           AS quality_score
  FROM met
)"""


QUANTILE_QS = (0.25, 0.5, 0.75, 0.9)


def q_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language quality-score quantiles (discrete / type-1:
    value at row ceil(q*n) of the sorted stratum — no float
    interpolation, hence bit-identical across engines). The numbers a
    curation pipeline turns into per-language quality cutoffs."""
    docs = load_table(spark, sf_dir, "documents")
    m = text.text_metrics(docs).join(docs.select("doc_id", "lang"), "doc_id")
    return stats.group_discrete_quantiles(
        m, "lang", "quality_score", QUANTILE_QS, tiebreak_col="doc_id"
    ).orderBy("lang", "q")


_QS_VALUES = ", ".join(f"({q})" for q in QUANTILE_QS)
SQL_QUALITY_QUANTILES = f"""
WITH {_QUALITY_CTES},
r AS (
  SELECT lang, quality_score,
         row_number() OVER (PARTITION BY lang ORDER BY quality_score, doc_id)
           AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM qual
)
SELECT lang, qs.q, quality_score AS q_value
FROM r JOIN (VALUES {_QS_VALUES}) qs(q)
  ON rn = CAST(ceil(round(qs.q * n, 9)) AS BIGINT)
ORDER BY lang, q
""".replace("{stop}", _STOP_PRED)


def q_quality_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based per-language quality quantiles — the skew-proof scale
    path for quality_quantiles (PERF.md documents the exact variant's
    single-giant-stratum sort limit). approx_percentile: one hash
    aggregation with partial combine, no window sort; exact below the
    sketch accuracy (which covers every test SF — pinned equal to the
    exact query in tests), rank error ≤ 1e-5 beyond it."""
    docs = load_table(spark, sf_dir, "documents")
    m = text.text_metrics(docs).join(docs.select("doc_id", "lang"), "doc_id")
    return stats.group_approx_quantiles(
        m, "lang", "quality_score", QUANTILE_QS
    ).orderBy("lang", "q")


SQL_QUALITY_QUANTILES_APPROX = f"""
WITH {_QUALITY_CTES},
g AS (
  SELECT lang,
         {", ".join(f"quantile_disc(quality_score, {q}) AS qv_{i}" for i, q in enumerate(QUANTILE_QS))}
  FROM qual GROUP BY lang
)
SELECT * FROM (
{" UNION ALL ".join(f"SELECT lang, {q} AS q, qv_{i} AS q_value FROM g" for i, q in enumerate(QUANTILE_QS))}
) ORDER BY lang, q
""".replace("{stop}", _STOP_PRED)


def q_quality_filtered_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-derived quality cutoff IN USE: compute each language's p25
    quality score (exact discrete quantile), drop that stratum's bottom
    quartile, report per-language survivor counts and token totals —
    the composition a curation pipeline actually runs (threshold from
    the data, not a magic constant). The per-lang threshold table is
    tiny and broadcast; the corpus is scanned once."""
    docs = load_table(spark, sf_dir, "documents")
    m = text.text_metrics(docs).join(docs.select("doc_id", "lang"), "doc_id")
    thr = stats.group_discrete_quantiles(
        m, "lang", "quality_score", (0.25,), tiebreak_col="doc_id"
    ).select("lang", F.col("q_value").alias("p25"))
    kept = m.join(F.broadcast(thr), "lang").filter(
        F.col("quality_score") >= F.col("p25")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max("p25").alias("p25"),
        )
        .orderBy("lang")
    )


SQL_QUALITY_FILTERED_STATS = f"""
WITH {_QUALITY_CTES},
r AS (
  SELECT lang, quality_score,
         row_number() OVER (PARTITION BY lang ORDER BY quality_score, doc_id)
           AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM qual
),
thr AS (
  SELECT lang, quality_score AS p25 FROM r
  WHERE rn = CAST(ceil(0.25 * n) AS BIGINT)
)
SELECT lang, count(*) AS n_kept,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       max(p25) AS p25
FROM qual JOIN thr USING (lang)
WHERE quality_score >= p25
GROUP BY lang ORDER BY lang
""".replace("{stop}", _STOP_PRED)


CURATE_QUALITY_MIN = 0.5


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: MinHash-LSH near-dup clusters ->
    survivor per cluster -> quality filter (score >= 0.5) -> per-language
    doc and token counts. The whole pipeline the individual operators
    exist FOR, as one composed DataFrame plan: dedup (bucketed LSH
    join), transitive clustering (hash-min CC), quality scoring
    (Catalyst expressions), final stats (one groupBy)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    comp = dedup.connected_components(pairs, docs)
    keep = comp.filter(F.col("doc_id") == F.col("comp")).select("doc_id")
    m = text.text_metrics(docs).join(docs.select("doc_id", "lang"), "doc_id")
    kept = m.join(keep, "doc_id").filter(
        F.col("quality_score") >= CURATE_QUALITY_MIN
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang")
    )


SQL_CURATE_CORPUS = (
    f"""
WITH RECURSIVE {_minhash_pair_ctes()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM vpairs
),
reach AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON e.dst = r.id
),
lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
keep AS (SELECT id AS doc_id FROM lab WHERE id = comp),
{_QUALITY_CTES}
SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM qual JOIN keep USING (doc_id)
WHERE quality_score >= {CURATE_QUALITY_MIN}
GROUP BY lang ORDER BY lang
""".replace("{stop}", _STOP_PRED)
)


SAMPLE_PCT = 10


def q_doc_sample_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample: keep a document iff the first 16
    bits of md5('smpl:' || doc_id) fall under the threshold. Hash-based
    (not rand()) so the sample is REPRODUCIBLE across runs, engines, and
    partitionings — the property a training-data split actually needs;
    also composes with stratification (salt per stratum)."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(
        "CAST(conv(substring(md5(concat('smpl:', CAST(doc_id AS STRING))), 1, 4),"
        " 16, 10) AS INT)"
    )
    thr = 65536 * SAMPLE_PCT // 100
    return (
        docs.withColumn("_h", h)
        .filter(F.col("_h") < thr)
        .select("doc_id", "lang", F.col("_h").alias("bucket16"))
        .orderBy("doc_id")
    )


_SQL_H16 = (
    "CAST(list_sum(list_transform(range(0, 4), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5('smpl:' || CAST(doc_id AS VARCHAR)),"
    " i + 1, 1)) - 1 AS BIGINT) << (4 * (3 - i)))) AS INTEGER)"
)
SQL_DOC_SAMPLE_10PCT = f"""
SELECT doc_id, lang, {_SQL_H16} AS bucket16
FROM documents
WHERE {_SQL_H16} < {65536 * SAMPLE_PCT // 100}
ORDER BY doc_id
"""


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring per document."""
    docs = load_table(spark, sf_dir, "documents")
    return text.text_metrics(docs).orderBy("doc_id")


SQL_TEXT_METRICS = f"""
WITH d AS (
  SELECT doc_id, {_W_SQL} AS w,
         length(text) AS n_chars_total,
         length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS nc_nopunct
  FROM documents
),
m AS (
  SELECT doc_id,
         len(w) AS n_tokens,
         n_chars_total,
         CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS tok_chars,
         len(list_filter(w, x -> {_STOP_PRED})) AS n_stop,
         n_chars_total - nc_nopunct AS n_punct
  FROM d
)
SELECT doc_id, n_tokens, n_chars_total,
       tok_chars / CAST(n_tokens AS DOUBLE) AS avg_token_len,
       n_stop / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
       n_punct / CAST(n_chars_total AS DOUBLE) AS punct_ratio,
       0.4 * least(1.0, n_tokens / 100.0)
         + 0.3 * (1.0 - n_stop / CAST(n_tokens AS DOUBLE))
         + 0.3 * least(1.0, tok_chars / CAST(n_tokens AS DOUBLE) / 8.0)
         AS quality_score
FROM m ORDER BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language identification vs the labeled lang column."""
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_id(docs).orderBy("doc_id")


def _sql_lang_id() -> str:
    whens = []
    for lang, markers in text.LANG_MARKERS:
        cond = " OR ".join(f"x = '{m}'" for m in markers)
        whens.append(f"WHEN len(list_filter(w, x -> {cond})) > 0 THEN '{lang}'")
    case = "CASE " + " ".join(whens) + " ELSE 'unknown' END"
    return f"""
WITH d AS (SELECT doc_id, lang AS lang_label, {_W_SQL} AS w FROM documents)
SELECT doc_id, {case} AS lang_pred, lang_label,
       ({case}) = lang_label AS match
FROM d ORDER BY doc_id
"""


SQL_LANG_ID = _sql_lang_id()


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-normalized md5 fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs).orderBy("doc_id")


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, md5(array_to_string({_W_SQL}, ' ')) AS fp
FROM documents ORDER BY doc_id
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors (exact ANN baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, ANN_QUERY_IDS, k=10).orderBy("q_id", "rank")


_IDS = ", ".join(map(str, ANN_QUERY_IDS))
_DOT = (
    "list_sum(list_transform(generate_series(1, len(q.q_vec)),"
    " i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))"
)
_QN = (
    "sqrt(list_sum(list_transform(generate_series(1, len(q.q_vec)),"
    " i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE))))"
)
_EN = (
    "sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),"
    " i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))"
)


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for contrastive training: per query vector the
    top-10 most-similar DIFFERENT-label vectors (the boundary-adjacent
    negatives that actually move an InfoNCE loss). Exact baseline on
    the broadcast query set; the corpus-scale path is the IVF-PQ
    shortlist + label filter composition (see
    operators/similarity.hard_negatives)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(emb, ANN_QUERY_IDS, k=10).orderBy(
        "q_id", "rank"
    )


def _cos_sql(dot: str, na: str, nb: str) -> str:
    """Zero-norm-guarded cosine division — the DuckDB mirror of
    ``operators.similarity._cosine``'s sim-0.0 convention for degenerate
    all-zero vectors, so the engines stay in lockstep if the embedding
    fixtures ever gain one (ADVICE r3; previously the oracle divided
    bare and would throw/diverge)."""
    return (
        f"(CASE WHEN {na} * {nb} = 0 THEN 0.0"
        f" ELSE {dot} / ({na} * {nb}) END)"
    )


SQL_ANN_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
           WHERE vec_id IN ({_IDS})),
scored AS (
  SELECT q.q_id, e.vec_id, round({_cos_sql(_DOT, _QN, _EN)}, 4) AS sim
  FROM embeddings e, q WHERE e.vec_id != q.q_id
)
SELECT q_id, vec_id, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored)
WHERE rank <= 10 ORDER BY q_id, rank
"""

SQL_HARD_NEGATIVE_MINING = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
           FROM embeddings WHERE vec_id IN ({_IDS})),
scored AS (
  SELECT q.q_id, e.vec_id, e.label,
         round({_cos_sql(_DOT, _QN, _EN)}, 4) AS sim
  FROM embeddings e, q
  WHERE e.vec_id != q.q_id AND e.label != q.q_label
)
SELECT q_id, vec_id, label, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored)
WHERE rank <= 10 ORDER BY q_id, rank
"""


IVF_N_PROBE = 4


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (scale path): probe the 4 nearest label-centroids,
    exact cosine inside probed cells. Fully deterministic (centroids +
    two rank windows), so it has an exact SQL oracle; recall vs the exact
    baseline additionally pinned in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, ANN_QUERY_IDS, k=10, n_probe=IVF_N_PROBE).orderBy(
        "q_id", "rank"
    )


def _sql_ann_ivf() -> str:
    dot_qc = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> CAST(q_vec[i] AS DOUBLE) * centroid[i]))"
    )
    n_q = (
        "sqrt(list_sum(list_transform(generate_series(1, 64),"
        " i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))"
    )
    n_c = (
        "sqrt(list_sum(list_transform(generate_series(1, 64),"
        " i -> centroid[i] * centroid[i])))"
    )
    dot_qe = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> CAST(p.q_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))"
    )
    n_e = (
        "sqrt(list_sum(list_transform(generate_series(1, 64),"
        " i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))"
    )
    n_p = (
        "sqrt(list_sum(list_transform(generate_series(1, 64),"
        " i -> CAST(p.q_vec[i] AS DOUBLE) * CAST(p.q_vec[i] AS DOUBLE))))"
    )
    return f"""
WITH cent AS (
  SELECT label, g.i AS pos, avg(CAST(embedding[g.i + 1] AS DOUBLE)) AS c
  FROM embeddings, LATERAL (SELECT unnest(range(0, 64)) AS i) g
  GROUP BY label, g.i
),
centv AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
),
q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
      WHERE vec_id IN ({_IDS})),
qc AS (
  SELECT q.q_id, q.q_vec, cv.label,
         {_cos_sql(dot_qc, n_q, n_c)} AS csim
  FROM q, centv cv
),
probes AS (
  SELECT q_id, q_vec, label FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, label)
              AS crank FROM qc)
  WHERE crank <= {IVF_N_PROBE}
),
scored AS (
  SELECT p.q_id, e.vec_id, round({_cos_sql(dot_qe, n_p, n_e)}, 4) AS sim
  FROM embeddings e JOIN probes p ON e.label = p.label AND e.vec_id != p.q_id
)
SELECT q_id, vec_id, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored)
WHERE rank <= 10 ORDER BY q_id, rank
"""


SQL_ANN_IVF_TOPK = _sql_ann_ivf()


KMEANS_K = 8
KMEANS_ITERS = 2


def q_ann_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic K-Means over the embedding corpus (k=8, 2 Lloyd
    iterations) — the IVF index-build primitive as an oracled query:
    scaled-integer quantization, exact integer centroid sums, and
    sequential-fold distances make the clustering bit-identical across
    cluster sizes AND engines (the oracle unrolls the same two
    iterations in SQL)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_clusters(
        emb, k=KMEANS_K, iters=KMEANS_ITERS
    ).orderBy("cluster")


def _sql_kmeans_ctes(k: int, iters: int, dim: int = 64) -> tuple[str, str]:
    """Shared unrolled-Lloyd CTE body; returns (body, last_centroid_cte).
    Ends with ``af(id, cluster)`` (final assignment) and ``v(id, vq)``
    available for joins."""
    vq = (
        "list_transform(embedding, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )

    def d2(c_ref: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), i ->"
            f" (CAST(vq[i] AS DOUBLE) - {c_ref}[i])"
            f" * (CAST(vq[i] AS DOUBLE) - {c_ref}[i])))"
        )

    ctes = [
        f"v AS MATERIALIZED (SELECT vec_id AS id, {vq} AS vq FROM embeddings)",
        f"""c0 AS (
  SELECT CAST(id AS INTEGER) AS cluster,
         list_transform(vq, x -> CAST(x AS DOUBLE)) AS c
  FROM v WHERE id < {k})""",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        ctes.append(f"""a{it} AS MATERIALIZED (
  SELECT id, vq, cluster FROM (
    SELECT v.id, v.vq, t.cluster,
           row_number() OVER (PARTITION BY v.id
                              ORDER BY {d2("t.c")}, t.cluster) AS rn
    FROM v, {prev} t) WHERE rn = 1)""")
        ctes.append(f"""e{it} AS (
  SELECT cluster, g.pos, vq[g.pos + 1] AS comp
  FROM a{it}, LATERAL (SELECT unnest(range(0, {dim})) AS pos) g)""")
        ctes.append(f"""m{it} AS (
  SELECT cluster, pos, CAST(sum(comp) AS DOUBLE) / count(*) AS m
  FROM e{it} GROUP BY cluster, pos)""")
        ctes.append(
            f"c{it} AS (SELECT cluster, list(m ORDER BY pos) AS c"
            f" FROM m{it} GROUP BY cluster)"
        )
        prev = f"c{it}"
    ctes.append(f"""af AS MATERIALIZED (
  SELECT id, cluster FROM (
    SELECT v.id, t.cluster,
           row_number() OVER (PARTITION BY v.id
                              ORDER BY {d2("t.c")}, t.cluster) AS rn
    FROM v, {prev} t) WHERE rn = 1)""")
    return ",\n".join(ctes), prev


def _sql_kmeans(k: int, iters: int) -> str:
    body, last = _sql_kmeans_ctes(k, iters)
    return f"""
WITH {body},
nrm AS (
  SELECT cluster, sqrt(list_sum(list_transform(c, x ->
           (x / 1000000000.0) * (x / 1000000000.0)))) AS centroid_norm
  FROM {last})
SELECT af.cluster, count(*) AS n_vecs, max(nrm.centroid_norm) AS centroid_norm
FROM af JOIN nrm ON af.cluster = nrm.cluster
GROUP BY af.cluster ORDER BY af.cluster
"""


SQL_ANN_KMEANS_CLUSTERS = _sql_kmeans(KMEANS_K, KMEANS_ITERS)


KMEANS_N_PROBE = 3


def q_ann_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 probe over the LEARNED (K-Means) index: rank each
    query's centroids by cosine, exact search inside the 3 nearest
    cells. Unlike ann_ivf_topk's label-based cells this needs no labels
    — index build and probe are both deterministic, so the whole path
    (Lloyd iterations included) is value-hash-checked against the
    unrolled SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_ivf_topk(
        emb, ANN_QUERY_IDS, k=10, n_clusters=KMEANS_K,
        iters=KMEANS_ITERS, n_probe=KMEANS_N_PROBE,
    ).orderBy("q_id", "rank")


def _sql_kmeans_ivf(dim: int = 64) -> str:
    body, last = _sql_kmeans_ctes(KMEANS_K, KMEANS_ITERS, dim)

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> {a}[i] * {b}[i]))"
        )

    def nrm(a: str) -> str:
        return f"sqrt(list_sum(list_transform({a}, x -> x * x)))"

    return f"""
WITH {body},
vd AS (SELECT id, list_transform(vq, x -> CAST(x AS DOUBLE)) AS d FROM v),
qd AS (SELECT id AS q_id, d AS q FROM vd WHERE id IN ({_IDS})),
qc AS (
  SELECT qd.q_id, qd.q, t.cluster,
         {_cos_sql(dot("qd.q", "t.c"), nrm("qd.q"), nrm("t.c"))} AS csim
  FROM qd, {last} t
),
probes AS (
  SELECT q_id, q, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY csim DESC, cluster) AS crank
    FROM qc) WHERE crank <= {KMEANS_N_PROBE}
),
cand AS (
  SELECT p.q_id, p.q, a.id, v2.d AS w
  FROM probes p
  JOIN af a ON a.cluster = p.cluster AND a.id != p.q_id
  JOIN vd v2 ON v2.id = a.id
),
scored AS (
  SELECT q_id, id AS vec_id,
         round({_cos_sql(dot("q", "w"), nrm("q"), nrm("w"))}, 4) AS sim
  FROM cand
)
SELECT q_id, vec_id, sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY sim DESC, vec_id) AS rank
  FROM scored) WHERE rank <= 10
ORDER BY q_id, rank
"""


SQL_ANN_KMEANS_IVF_TOPK = _sql_kmeans_ivf()


NEAR_DUP_TAU = 0.4


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (sim >= tau), the O(n²)
    baseline the LSH path is measured against."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_pairs(emb, NEAR_DUP_TAU).orderBy("id_a", "id_b")


_DOT_AB = (
    "list_sum(list_transform(generate_series(1, len(a.embedding)),"
    " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)
_N_A = (
    "sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),"
    " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))"
)
_N_B = (
    "sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),"
    " i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))"
)
SQL_EMBEDDING_NEAR_DUP = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_cos_sql(_DOT_AB, _N_A, _N_B)}, 4) AS sim
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round({_cos_sql(_DOT_AB, _N_A, _N_B)}, 4) >= {NEAR_DUP_TAU}
ORDER BY id_a, id_b
"""


#: SRP banding for the catalog corpus. τ=0.4 is the weak-gap LSH regime
#: (p≈0.63/bit vs 0.5 for random pairs, LSH exponent ρ≈0.66): NO
#: sign-projection banding is simultaneously high-recall and truly
#: sub-quadratic here, so the catalog buys measured recall 0.508 (≥ the
#: 0.5 floor pinned in tests/test_similarity.py) with 8-bit buckets +
#: full Hamming-1 multi-probe at ~34 % of the quadratic candidate set at
#: sf0.01 — the recall-vs-probes/bits trade is tabulated in PERF.md.
#: Round 2's 12-bit no-probe config was an 8.5 %-recall detector at this
#: same threshold. Production entry points auto-size bits from the corpus
#: (similarity.auto_srp_bits, keeps candidates O(n) at near-dup
#: thresholds); the catalog pins them so the oracle SQL is a fixed
#: string. Probe buckets are integer XORs (bucket ^ (1<<k)), so the
#: DuckDB oracle reproduces the pair set exactly.
SRP_N_BITS = 8
SRP_N_BANDS = 32
SRP_SEED = 0x9E3779B9
SRP_N_PROBES = SRP_N_BITS  # full Hamming-1 neighborhood


@cache_scope.session_view("srp_pairs")
def _srp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.srp_near_pairs(
        emb, NEAR_DUP_TAU, n_bits=SRP_N_BITS, n_bands=SRP_N_BANDS,
        n_probes=SRP_N_PROBES,
    )


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH near-duplicate pairs (scale path): banded sign-projection
    buckets -> ids-only equi-join candidates -> exact cosine verify.
    Deterministic banding (closed-form integer-mix hyperplane signs), so
    the whole pipeline has an exact SQL oracle. Precision 1 by verify;
    recall floor vs the exact baseline pinned in tests/test_similarity.py."""
    return _srp_pairs(spark, sf_dir).orderBy("id_a", "id_b")


def _srp_pair_ctes(dim: int = 64, p: str = "") -> str:
    """CTE chain ending in ``{p}vpairs(id_a, id_b, sim)`` — the verified
    SRP-LSH near-dup pairs; shared by the pair query, the
    embedding-cluster oracle, and (prefixed, to avoid CTE-name
    collisions with the MinHash chain) the cross-modal oracle."""
    total = SRP_N_BITS * SRP_N_BANDS
    sign = (
        f"(CASE WHEN ((({SRP_SEED} * (j * {dim} + i + 1)) % 2147483647) % 2) = 0"
        " THEN 1.0 ELSE -1.0 END)"
    )
    proj = (
        f"list_sum(list_transform(range(0, {dim}),"
        f" i -> CAST(embedding[i + 1] AS DOUBLE) * {sign}))"
    )
    bits = (
        f"list_transform(range(0, {total}),"
        f" j -> CASE WHEN {proj} >= 0 THEN 1 ELSE 0 END)"
    )
    bucket = (
        f"list_sum(list_transform(range(0, {SRP_N_BITS}),"
        f" k -> CAST(bits[g.band * {SRP_N_BITS} + k + 1] AS BIGINT)"
        f" << ({SRP_N_BITS} - 1 - k)))"
    )
    return f"""
{p}sig AS (
  SELECT vec_id, {bits} AS bits FROM embeddings
),
{p}banded AS (
  SELECT vec_id, g.band, {bucket} AS bucket
  FROM {p}sig, LATERAL (SELECT unnest(range(0, {SRP_N_BANDS})) AS band) g
),
{p}probed AS (
  SELECT vec_id, band,
         unnest(list_prepend(bucket,
           list_transform(range(0, {SRP_N_PROBES}),
                          k -> xor(bucket, CAST(1 AS BIGINT) << k)))) AS bucket
  FROM {p}banded
),
{p}cand AS (
  SELECT DISTINCT least(x.vec_id, y.vec_id) AS id_a,
                  greatest(x.vec_id, y.vec_id) AS id_b
  FROM {p}probed x JOIN {p}banded y
    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id != y.vec_id
),
{p}vpairs AS (
  SELECT c.id_a, c.id_b, round({_cos_sql(_DOT_AB, _N_A, _N_B)}, 4) AS sim
  FROM {p}cand c JOIN embeddings a ON a.vec_id = c.id_a
                 JOIN embeddings b ON b.vec_id = c.id_b
  WHERE round({_cos_sql(_DOT_AB, _N_A, _N_B)}, 4) >= {NEAR_DUP_TAU}
)"""


SQL_EMBEDDING_NEAR_DUP_LSH = f"""
WITH {_srp_pair_ctes()}
SELECT id_a, id_b, sim FROM vpairs ORDER BY id_a, id_b
"""


def q_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space transitive near-dup clusters: SRP-LSH verified
    pairs -> connected components -> one surviving vector per component
    (semantic dedup — the embedding analog of dedup_clusters)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = _srp_pairs(spark, sf_dir)
    comp = dedup.connected_components(
        pairs, emb.select("vec_id"), id_col="vec_id"
    )
    return (
        comp.groupBy("comp")
        .agg(F.min("vec_id").alias("keep_id"), F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("comp")
    )


SQL_EMBEDDING_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_srp_pair_ctes()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM vpairs
),
reach AS (
  SELECT vec_id AS id, vec_id AS comp FROM embeddings
  UNION
  SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON e.dst = r.id
),
lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
SELECT comp, min(id) AS keep_id, count(*) AS n_vecs
FROM lab GROUP BY comp ORDER BY comp
"""


def q_crossmodal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal near-dup agreement: full-outer join of the text-side
    MinHash-LSH pairs and the embedding-side SRP-LSH pairs on the shared
    id space (vec_id == doc_id for ids that have embeddings). Flags each
    pair as text-only / embedding-only / both — the audit a pipeline
    runs to decide whether semantic dedup adds anything over lexical
    dedup. Both LSH pipelines stay bucketed; the final join is
    pair-table sized (tiny next to the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tp = _minhash_pairs(spark, sf_dir).select("id_a", "id_b", "jaccard")
    ids = emb.select(F.col("vec_id").alias("_eid"))
    tp = (
        tp.join(F.broadcast(ids), tp["id_a"] == ids["_eid"]).drop("_eid")
        .join(F.broadcast(ids), F.col("id_b") == ids["_eid"]).drop("_eid")
    )
    ep = _srp_pairs(spark, sf_dir).select(
        F.col("id_a").alias("_ea"), F.col("id_b").alias("_eb"), "sim"
    )
    j = tp.join(
        ep,
        (tp["id_a"] == ep["_ea"]) & (tp["id_b"] == ep["_eb"]),
        "full_outer",
    )
    return (
        j.select(
            F.coalesce("id_a", "_ea").alias("id_a"),
            F.coalesce("id_b", "_eb").alias("id_b"),
            F.coalesce("jaccard", F.lit(-1.0)).alias("jaccard"),
            F.coalesce("sim", F.lit(-1.0)).alias("sim"),
            F.col("jaccard").isNotNull().cast("int").alias("in_text"),
            F.col("sim").isNotNull().cast("int").alias("in_embedding"),
        )
        .orderBy("id_a", "id_b")
    )


SQL_CROSSMODAL_PAIRS = f"""
WITH {_minhash_pair_ctes()},
{_srp_pair_ctes(p="e_")},
tp AS (
  SELECT id_a, id_b, jaccard FROM vpairs
  WHERE id_a IN (SELECT vec_id FROM embeddings)
    AND id_b IN (SELECT vec_id FROM embeddings)
),
ep AS (SELECT id_a, id_b, sim FROM e_vpairs)
SELECT coalesce(tp.id_a, ep.id_a) AS id_a,
       coalesce(tp.id_b, ep.id_b) AS id_b,
       coalesce(tp.jaccard, -1.0) AS jaccard,
       coalesce(ep.sim, -1.0) AS sim,
       CAST(tp.id_a IS NOT NULL AS INTEGER) AS in_text,
       CAST(ep.id_a IS NOT NULL AS INTEGER) AS in_embedding
FROM tp FULL OUTER JOIN ep ON tp.id_a = ep.id_a AND tp.id_b = ep.id_b
ORDER BY id_a, id_b
"""


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-style token counting (BPE-ish regex pre-tokenizer)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.token_count_bpe(docs).orderBy("doc_id")


SQL_TOKEN_COUNT_BPE = f"""
SELECT doc_id,
       len({_W_SQL}) AS n_ws_tokens,
       len(regexp_extract_all(text, '{text.BPE_PATTERN}')) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '{text.BPE_PATTERN}')) AS DOUBLE)
         / len({_W_SQL}) AS bpe_per_ws
FROM documents ORDER BY doc_id
"""


def q_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats: count + mean L2 norm (vector math via
    JVM-side lambdas)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = similarity.with_norm(emb)
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.expr("CAST(norm AS DECIMAL(38,10))")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_norm"),
        )
        .orderBy("label")
    )


SQL_EMBEDDING_LABEL_STATS = """
SELECT label, count(*) AS n_vecs,
       round(CAST(sum(CAST(sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
             AS DECIMAL(38,10))) AS DOUBLE) / count(*), 4)
         AS avg_norm
FROM embeddings GROUP BY label ORDER BY label
"""


def q_corpus_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed Pearson correlations between integer corpus
    metrics (token count vs char count; whitespace vs BPE-ish tokens).
    Moments are exact decimal sums — shuffle-order-independent, so the
    correlation is bit-stable on any cluster size (naive float corr()
    is not) and hash-checkable against the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    m = text.text_metrics(docs).select("doc_id", "n_tokens", "n_chars_total")
    b = text.token_count_bpe(docs).select("doc_id", "n_ws_tokens", "n_bpe_tokens")
    c1 = stats.exact_corr(m, "n_tokens", "n_chars_total", "corr_tokens_chars")
    c2 = stats.exact_corr(b, "n_ws_tokens", "n_bpe_tokens", "corr_ws_bpe")
    return c1.crossJoin(c2)


_BPE_LEN = f"len(regexp_extract_all(text, '{text.BPE_PATTERN}'))"
SQL_CORPUS_CORRELATIONS = f"""
SELECT
  {stats.sql_exact_corr("(SELECT len(" + _W_SQL + ") AS x, length(text) AS y FROM documents)", "x", "y", "v")}
    AS corr_tokens_chars,
  {stats.sql_exact_corr("(SELECT len(" + _W_SQL + ") AS x, " + _BPE_LEN + " AS y FROM documents)", "x", "y", "v")}
    AS corr_ws_bpe
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: text->blob, mapInPandas feature extraction
    (decode stubbed with deterministic pseudo-features)."""
    docs = load_table(spark, sf_dir, "documents")
    blobs = multimodal.to_blob_table(docs)
    return multimodal.extract_features(blobs).orderBy("doc_id")


SQL_MULTIMODAL_META = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       md5(text) AS digest,
       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
       CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height,
       CAST(octet_length(encode(text)) % 16 + 1 AS INTEGER) AS n_frames
FROM documents ORDER BY doc_id
"""


FRAME_STRIDE = 4


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: every 4th frame, one row per
    sampled frame with a deterministic per-frame fingerprint — the 1→N
    mapInPandas fan-out shape of real video decode (row count is
    data-dependent)."""
    docs = load_table(spark, sf_dir, "documents")
    blobs = multimodal.to_blob_table(docs)
    return multimodal.sample_frames(blobs, stride=FRAME_STRIDE).orderBy(
        "doc_id", "frame_idx"
    )


SQL_MULTIMODAL_FRAMES = f"""
SELECT doc_id, CAST(g.i AS INTEGER) AS frame_idx,
       md5(md5(text) || ':' || CAST(g.i AS VARCHAR)) AS frame_fp
FROM documents,
     LATERAL (SELECT unnest(range(0, octet_length(encode(text)) % 16 + 1,
                                  {FRAME_STRIDE})) AS i) g
ORDER BY doc_id, frame_idx
"""


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition quality signals — a pure
    zero-shuffle Catalyst map (see operators/text.repetition_metrics)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_metrics(docs).orderBy("doc_id")


# The oracle computes the mode counts the straightforward SQL way
# (unnest -> group -> max); the engine's sorted-run-length formulation
# must agree exactly.
SQL_REPETITION_METRICS = f"""
WITH d AS (
  SELECT doc_id, {_W_SQL} AS w FROM documents
),
base AS (
  SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct,
         list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i + 1]) AS bg
  FROM d
),
tok AS (SELECT doc_id, unnest(w) AS tk FROM d),
tc AS (SELECT doc_id, max(c) AS tt FROM (
         SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY doc_id, tk)
       GROUP BY doc_id),
big AS (SELECT doc_id, unnest(bg) AS bk FROM base),
bc AS (SELECT doc_id, max(c) AS tb FROM (
         SELECT doc_id, bk, count(*) AS c FROM big GROUP BY doc_id, bk)
       GROUP BY doc_id)
SELECT b.doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(n_distinct AS INTEGER) AS n_distinct,
       1.0 - n_distinct / CAST(n_tokens AS DOUBLE) AS dup_token_frac,
       tt / CAST(n_tokens AS DOUBLE) AS top_token_frac,
       CASE WHEN n_tokens < 2 THEN 0.0
            ELSE coalesce(tb, 0) / CAST(n_tokens - 1 AS DOUBLE)
       END AS top_bigram_frac,
       CAST(((1.0 - n_distinct / CAST(n_tokens AS DOUBLE)) > 0.6)
            OR (tt / CAST(n_tokens AS DOUBLE) > 0.12)
            OR (CASE WHEN n_tokens < 2 THEN 0.0
                     ELSE coalesce(tb, 0) / CAST(n_tokens - 1 AS DOUBLE)
                END > 0.06) AS INTEGER) AS flag_repetitive
FROM base b
JOIN tc USING (doc_id)
LEFT JOIN bc ON b.doc_id = bc.doc_id
ORDER BY doc_id
"""


PACK_WINDOW = 2048
PACK_SHARDS = 16


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence-packing audit: per (lang, shard, pack) document
    and token counts (see operators/sampling.sequence_packing — one
    cumulative-sum window per shard, deterministic shard = md5 bucket)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang", F.expr(f"size({text._WORDS})").alias("n_tokens"))
    packed = sampling.sequence_packing(
        d, window_tokens=PACK_WINDOW, n_shards=PACK_SHARDS
    )
    return (
        packed.groupBy("lang", "shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
        .orderBy("lang", "shard", "pack_id")
    )


_SQL_PACK_H16 = (
    "CAST(list_sum(list_transform(range(0, 4), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5('pack:' || CAST(doc_id AS VARCHAR)),"
    " i + 1, 1)) - 1 AS BIGINT) << (4 * (3 - i)))) AS INTEGER)"
)

SQL_SEQUENCE_PACKING = f"""
WITH d AS (
  SELECT doc_id, lang, len({_W_SQL}) AS n_tokens,
         {_SQL_PACK_H16} % {PACK_SHARDS} AS shard
  FROM documents
),
w AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
  FROM d
)
SELECT lang, shard, CAST(start_offset // {PACK_WINDOW} AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM w
GROUP BY lang, shard, pack_id
ORDER BY lang, shard, pack_id
"""


OOV_TOP_N = 100


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate vs the corpus top-100 vocabulary (see
    operators/text.oov_rate — global vocab broadcast back over the
    token stream)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.oov_rate(docs, OOV_TOP_N).orderBy("doc_id")


SQL_OOV_RATE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_W_SQL}) AS tok FROM documents
),
top AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS c FROM toks GROUP BY tok)
  ORDER BY c DESC, tok LIMIT {OOV_TOP_N}
),
n_all AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM toks GROUP BY doc_id
),
n_oov AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_oov
  FROM toks ANTI JOIN top USING (tok)
  GROUP BY doc_id
)
SELECT doc.doc_id,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(n_oov, 0) AS n_oov,
       CASE WHEN coalesce(n_tokens, 0) > 0
            THEN coalesce(n_oov, 0) / CAST(n_tokens AS DOUBLE)
            ELSE 0.0 END AS oov_rate
FROM documents doc
LEFT JOIN n_all a ON a.doc_id = doc.doc_id
LEFT JOIN n_oov o ON o.doc_id = doc.doc_id
ORDER BY doc.doc_id
"""


TFIDF_TOP_K = 5


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 distinctive terms by exact tf/df score (see
    operators/text.distinctive_terms)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.distinctive_terms(docs, TFIDF_TOP_K).orderBy("doc_id", "rank")


SQL_DISTINCTIVE_TERMS = f"""
WITH toks AS (
  SELECT doc_id, unnest({_W_SQL}) AS tok FROM documents
),
dt AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, tok
),
dfr AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok
),
ranked AS (
  SELECT doc_id, tok, tf, df,
         tf / CAST(df AS DOUBLE) AS score,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY tf / CAST(df AS DOUBLE) DESC, tok) AS rank
  FROM dt JOIN dfr USING (tok)
)
SELECT doc_id, tok, tf, df, score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
ORDER BY doc_id, rank
"""


def q_cluster_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal report: deterministic K-Means clusters over the
    embedding table joined to the documents' text-quality metrics
    (vec_id embeds doc_id) — per (cluster, lang) doc counts and EXACT
    mean quality. The mean is a quantized-integer decimal sum converted
    via big_to_double (double summation is partition-order-dependent
    and would break the cross-engine hash)."""
    from .operators.decimate import big_to_double

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    a = similarity.kmeans_assignments(emb, KMEANS_K, KMEANS_ITERS)
    m = text.text_metrics(docs).join(docs.select("doc_id", "lang"), "doc_id")
    j = m.join(a, m.doc_id == a.vec_id)
    qi = "CAST(CAST(floor(quality_score * 1000000000.0 + 0.5) AS BIGINT) AS DECIMAL(38,0))"
    return (
        j.groupBy("cluster", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(f"sum({qi})").alias("_qs"),
        )
        .select(
            "cluster",
            "lang",
            "n_docs",
            (
                F.expr(big_to_double("_qs")) / F.col("n_docs") / F.lit(1e9)
            ).alias("mean_quality"),
        )
        .orderBy("cluster", "lang")
    )


def _sql_cluster_quality() -> str:
    from .operators.decimate import big_to_double_duck

    body, _ = _sql_kmeans_ctes(KMEANS_K, KMEANS_ITERS)
    return f"""
WITH {body},
{_QUALITY_CTES}
SELECT af.cluster, lang, count(*) AS n_docs,
       {big_to_double_duck("sum(CAST(CAST(floor(quality_score * 1000000000.0 + 0.5) AS BIGINT) AS HUGEINT))")}
         / count(*) / 1e9 AS mean_quality
FROM qual JOIN af ON qual.doc_id = af.id
GROUP BY af.cluster, lang
ORDER BY af.cluster, lang
""".replace("{stop}", _STOP_PRED)


SQL_CLUSTER_QUALITY_REPORT = _sql_cluster_quality()


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: (labeled lang, predicted lang) cell
    counts plus per-cell share of the label's row — the classifier-eval
    report built on the lang_id operator. One hash aggregation over the
    per-doc predictions; the share denominator is a label-level window
    (no second scan)."""
    from pyspark.sql import Window

    preds = text.lang_id(load_table(spark, sf_dir, "documents"))
    cell = preds.groupBy("lang_label", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang_label")
    return (
        cell.withColumn("label_total", F.sum("n").over(w))
        .withColumn("share", F.col("n") / F.col("label_total"))
        .orderBy("lang_label", "lang_pred")
    )


def _sql_lang_confusion() -> str:
    whens = []
    for lang, markers in text.LANG_MARKERS:
        cond = " OR ".join(f"x = '{m}'" for m in markers)
        whens.append(f"WHEN len(list_filter(w, x -> {cond})) > 0 THEN '{lang}'")
    case = "CASE " + " ".join(whens) + " ELSE 'unknown' END"
    return f"""
WITH d AS (SELECT doc_id, lang AS lang_label, {_W_SQL} AS w FROM documents),
cell AS (
  SELECT lang_label, {case} AS lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY lang_label, lang_pred
)
SELECT lang_label, lang_pred, n,
       CAST(sum(n) OVER (PARTITION BY lang_label) AS BIGINT) AS label_total,
       n / CAST(sum(n) OVER (PARTITION BY lang_label) AS DOUBLE) AS share
FROM cell ORDER BY lang_label, lang_pred
"""


SQL_LANG_CONFUSION = _sql_lang_confusion()


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health: doc counts and exact-duplicate rates
    (docs whose md5 digest appeared under a LOWER doc_id anywhere in the
    corpus — cross-source duplicates count against the later copy). One
    digest-key aggregation + a min-id window; the rate is an exact
    int/int division."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", F.md5("text").alias("_dg"))
    w = Window.partitionBy("_dg")
    dup = d.withColumn("_keep", F.min("doc_id").over(w)).withColumn(
        "_is_dup", (F.col("doc_id") != F.col("_keep")).cast("long")
    )
    return (
        dup.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_is_dup").alias("n_dups"),
            (F.sum("_is_dup") / F.count(F.lit(1))).alias("dup_rate"),
        )
        .orderBy("source")
    )


SQL_DEDUP_RATE_BY_SOURCE = """
WITH d AS (
  SELECT doc_id, source, md5(text) AS dg FROM documents
),
k AS (
  SELECT doc_id, source,
         CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY dg)
              THEN 1 ELSE 0 END AS is_dup
  FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_dup) AS BIGINT) AS n_dups,
       sum(is_dup) / CAST(count(*) AS DOUBLE) AS dup_rate
FROM k GROUP BY source ORDER BY source
"""


BALANCED_K = 20


def q_balanced_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota balanced sampling: exactly K docs per language, chosen
    by deterministic md5-hash order (rank window per stratum) — the
    balanced-eval-set draw. Reproducible on any cluster and in the
    oracle; one hash exchange on the stratum key."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy("_h", "doc_id")
    return (
        docs.select("doc_id", "lang", h.alias("_h"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BALANCED_K)
        .select("doc_id", "lang", "rank")
        .orderBy("lang", "rank")
    )


SQL_BALANCED_SAMPLE_PER_LANG = f"""
WITH h AS (
  SELECT doc_id, lang, md5('bal:' || CAST(doc_id AS VARCHAR)) AS hh
  FROM documents
)
SELECT doc_id, lang, CAST(rank AS INTEGER) AS rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rank
  FROM h)
WHERE rank <= {BALANCED_K}
ORDER BY lang, rank
"""


# --- round-3 additions: data recipe, exact-run decontam, best survivor ---

#: Pretraining mix recipe as INTEGER ratios (4 en : 1 each of the rest) —
#: integer quotas (w_l · min_l floor(n_l / w_l)) are bit-identical on any
#: engine; float shares would round differently at quota boundaries.
MIX_WEIGHTS = {"en": 4, "zh": 1, "es": 1, "de": 1, "fr": 1}


def q_mix_corpus_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe mixing: the LARGEST sub-corpus whose language strata
    follow MIX_WEIGHTS exactly, members chosen in deterministic md5
    order. The binding stratum (supply/weight minimal) caps the total;
    two passes — a tiny per-stratum count broadcast back, then one
    md5-order rank window per stratum (operators/sampling.mix_to_ratios)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.mix_to_ratios(docs, MIX_WEIGHTS, salt="mix").orderBy(
        "lang", "rank"
    )


_MIX_W_SQL = ", ".join(f"('{k}', {v})" for k, v in MIX_WEIGHTS.items())
SQL_MIX_CORPUS_RATIOS = f"""
WITH w(lang, wt) AS (VALUES {_MIX_W_SQL}),
counts AS (
  SELECT w.lang, wt, count(d.doc_id) AS n
  FROM w LEFT JOIN documents d USING (lang) GROUP BY w.lang, wt
),
m AS (SELECT min(n // wt) AS mmin FROM counts),
quotas AS (SELECT lang, wt * mmin AS quota FROM counts, m),
ranked AS (
  SELECT doc_id, d.lang, quota,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank
  FROM documents d JOIN quotas ON d.lang = quotas.lang
)
SELECT doc_id, lang, CAST(rank AS INTEGER) AS rank,
       CAST(quota AS BIGINT) AS quota
FROM ranked WHERE rank <= quota
ORDER BY lang, rank
"""


#: exact-substring leakage threshold: a run of >= 3 consecutive shared
#: 3-grams == a >= 5-token exact shared substring
EXACT_RUN_MIN = 3


def q_contamination_exact_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination (positions, not bags): candidate
    docs sharing a >= 5-token exact substring with the benchmark set
    (docs with doc_id % 29 == 0), via gaps-and-islands over
    benchmark-present 3-gram POSITIONS. contamination_3gram fires on
    topical overlap; this is the "exact overlap >= K tokens" leakage rule
    real decontamination uses."""
    docs = load_table(spark, sf_dir, "documents")
    shp = dedup.positional_shingles(docs)
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0).select("doc_id")
    return dedup.contamination_exact_run(
        shp, bench, min_run=EXACT_RUN_MIN
    ).orderBy("doc_id")


SQL_CONTAMINATION_EXACT_RUN = f"""
WITH shp AS (
  SELECT doc_id, g.i - 1 AS pos, w[g.i] || ' ' || w[g.i+1] || ' ' || w[g.i+2] AS shingle
  FROM (SELECT doc_id, {_W_SQL} AS w FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
  WHERE len(w) >= 3
),
bench AS (SELECT DISTINCT shingle FROM shp WHERE doc_id % {BENCH_MOD} = 0),
hits AS (
  SELECT doc_id, pos FROM shp
  WHERE doc_id % {BENCH_MOD} != 0 AND shingle IN (SELECT shingle FROM bench)
),
isl AS (
  SELECT doc_id,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
),
runs AS (SELECT doc_id, grp, count(*) AS run FROM isl GROUP BY doc_id, grp)
SELECT doc_id, max(run) AS max_run,
       max(run) + 2 AS longest_tokens,
       CAST(sum(run) AS BIGINT) AS n_hit_positions
FROM runs GROUP BY doc_id
HAVING max(run) >= {EXACT_RUN_MIN}
ORDER BY doc_id
"""


def q_dedup_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection: near-dup clusters
    (MinHash-LSH pairs -> connected components) keep their HIGHEST-
    QUALITY member instead of the minimum id — what a curation pipeline
    actually wants from dedup (dedup_clusters' min-id is the bookkeeping
    baseline). Ties break to the smaller id; quality is the
    deterministic composite from text_metrics, so the arg-max is
    engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    comp = dedup.connected_components(pairs, docs.select("doc_id"))
    qual = text.text_metrics(docs).select("doc_id", "quality_score")
    return (
        comp.join(qual, "doc_id")
        .groupBy("comp")
        .agg(
            F.expr(
                "max_by(doc_id, named_struct('q', quality_score,"
                " 'negid', -doc_id))"
            ).alias("keep_id"),
            F.max("quality_score").alias("best_quality"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("comp")
    )


SQL_DEDUP_BEST_SURVIVOR = f"""
WITH RECURSIVE {_minhash_pair_ctes()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM vpairs
),
reach AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON e.dst = r.id
),
lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
{_QUALITY_CTES.strip().lstrip()},
scored AS (
  SELECT lab.comp, lab.id AS doc_id, qual.quality_score,
         row_number() OVER (
           PARTITION BY lab.comp
           ORDER BY qual.quality_score DESC, lab.id ASC
         ) AS rn,
         count(*) OVER (PARTITION BY lab.comp) AS n_docs,
         max(qual.quality_score) OVER (PARTITION BY lab.comp) AS best_quality
  FROM lab JOIN qual ON qual.doc_id = lab.id
)
SELECT comp, doc_id AS keep_id, best_quality, CAST(n_docs AS BIGINT) AS n_docs
FROM scored WHERE rn = 1 ORDER BY comp
""".replace("{stop}", _STOP_PRED)


REPS_PER_CLUSTER = 5


def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset selection: the 5 vectors closest to each K-Means centroid
    (deterministic Lloyd fit, quantized sequential-fold distances) — the
    standard mode-covering eval/inspection subset, as opposed to blind
    sampling. One centroid broadcast + one per-cluster rank window; the
    oracle re-ranks with the identical unrolled-Lloyd SQL chain."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_cluster_representatives(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, per_cluster=REPS_PER_CLUSTER
    ).orderBy("cluster", "rank")


def _sql_cluster_representatives() -> str:
    body, last = _sql_kmeans_ctes(KMEANS_K, KMEANS_ITERS)
    d2 = (
        "list_sum(list_transform(range(1, 65), i ->"
        f" (CAST(v.vq[i] AS DOUBLE) - {last}.c[i])"
        f" * (CAST(v.vq[i] AS DOUBLE) - {last}.c[i])))"
    )
    return f"""
WITH {body},
scored AS (
  SELECT af.cluster, af.id,
         row_number() OVER (PARTITION BY af.cluster ORDER BY {d2}, af.id)
           AS rank
  FROM af JOIN v ON v.id = af.id
          JOIN {last} ON {last}.cluster = af.cluster
)
SELECT cluster, CAST(rank AS INTEGER) AS rank, id AS vec_id
FROM scored WHERE rank <= {REPS_PER_CLUSTER}
ORDER BY cluster, rank
"""


SQL_CLUSTER_REPRESENTATIVES = _sql_cluster_representatives()


# ---------------------------------------------------------------------------
# Round 4: semantic dedup, PII scrubbing, exact substring spans,
# quantization audit, importance resampling
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.4


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al.): K-Means clusters as the blocking key,
    exact pairwise cosine WITHIN each cluster only, drop every vector
    with a smaller-id neighbor at sim >= tau. The scalable embedding-
    dedup recipe real pipelines use between "exact hash" and "global
    LSH": candidate cost is sum of cluster sizes squared, controlled by
    k ~ n/target_cluster_size. All arithmetic is the deterministic
    quantized-fold kind (bit-identical at any parallelism; oracle
    unrolls the identical Lloyd chain in SQL)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, SEMDEDUP_TAU, k=KMEANS_K, iters=KMEANS_ITERS
    ).orderBy("cluster")


def _sql_semantic_pairs_ctes(dim: int = 64) -> str:
    """Shared kmeans-blocked pair chain; ends with ``p(cluster, id_a,
    id_b, sim)`` (sim >= tau, id_a < id_b) plus ``af``/``v``/``vd``."""
    body, _last = _sql_kmeans_ctes(KMEANS_K, KMEANS_ITERS, dim)

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> {a}[i] * {b}[i]))"
        )

    def nrm(a: str) -> str:
        return f"sqrt(list_sum(list_transform({a}, x -> x * x)))"

    return f"""{body},
vd AS (SELECT id, list_transform(vq, x -> CAST(x AS DOUBLE)) AS d FROM v),
p0 AS (
  SELECT a.cluster, a.id AS id_a, b.id AS id_b,
         round({_cos_sql(dot("da.d", "db.d"), nrm("da.d"), nrm("db.d"))}, 4) AS sim
  FROM af a JOIN af b ON a.cluster = b.cluster AND a.id < b.id
  JOIN vd da ON da.id = a.id
  JOIN vd db ON db.id = b.id
),
p AS (SELECT * FROM p0 WHERE sim >= {SEMDEDUP_TAU})"""


def _sql_semantic_dedup(dim: int = 64) -> str:
    return f"""
WITH {_sql_semantic_pairs_ctes(dim)},
sizes AS (SELECT cluster, count(*) AS n_vecs FROM af GROUP BY cluster),
st AS (
  SELECT cluster, count(*) AS n_dup_pairs, count(DISTINCT id_b) AS n_dropped
  FROM p GROUP BY cluster
)
SELECT s.cluster, s.n_vecs,
       coalesce(st.n_dup_pairs, 0) AS n_dup_pairs,
       coalesce(st.n_dropped, 0) AS n_dropped,
       s.n_vecs - coalesce(st.n_dropped, 0) AS n_kept
FROM sizes s LEFT JOIN st ON st.cluster = s.cluster
ORDER BY s.cluster
"""


SQL_SEMANTIC_DEDUP = _sql_semantic_dedup()


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval SEMANTIC leakage audit — the contamination a hash
    split cannot prevent: near-duplicate documents landing on opposite
    sides of the train/val/test boundary leak training signal into
    evaluation even though no doc_id crosses it. Composes the SemDeDup
    pair generator (K-Means blocking + exact within-cluster cosine)
    with the split assignment, counting near-dup pairs per unordered
    split pair; ``is_cross = true`` rows are the leaks a pipeline must
    re-side or drop before training.

    100 TB shape: the split label is a PURE HASH of the id
    (sampling.hash_bucket16), so labeling the pair table is two scalar
    expressions — no join against a corpus-sized split table, no new
    shuffle beyond the pair generator's own blocking."""
    from .operators.sampling import hash_bucket16

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.semantic_dedup_pairs(
        emb, SEMDEDUP_TAU, k=KMEANS_K, iters=KMEANS_ITERS
    )
    t_thr = 65536 * SPLIT_TRAIN_PCT // 100
    v_thr = 65536 * (SPLIT_TRAIN_PCT + SPLIT_VAL_PCT) // 100

    def _split_of(col: str):
        b = hash_bucket16(col, "split")
        return (
            F.when(b < t_thr, F.lit("train"))
            .when(b < v_thr, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    lab = pairs.select(
        _split_of("id_a").alias("sa"), _split_of("id_b").alias("sb"), "sim"
    )
    return (
        lab.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            "sim",
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("sim").alias("max_sim"),
        )
        .withColumn("is_cross", F.col("split_a") != F.col("split_b"))
        .orderBy("split_a", "split_b")
    )


def _sql_h16_col(col: str, salt: str = "split") -> str:
    """DuckDB mirror of sampling.hash_bucket16 over an arbitrary column."""
    return (
        "CAST(list_sum(list_transform(range(0, 4), i -> "
        f"CAST(strpos('0123456789abcdef', substr(md5('{salt}:' || "
        f"CAST({col} AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)"
        " << (4 * (3 - i)))) AS INTEGER)"
    )


def _sql_split_of(col: str) -> str:
    t_thr = 65536 * SPLIT_TRAIN_PCT // 100
    v_thr = 65536 * (SPLIT_TRAIN_PCT + SPLIT_VAL_PCT) // 100
    h = _sql_h16_col(col)
    return (
        f"CASE WHEN {h} < {t_thr} THEN 'train'"
        f" WHEN {h} < {v_thr} THEN 'val' ELSE 'test' END"
    )


SQL_SPLIT_LEAKAGE_AUDIT = f"""
WITH {_sql_semantic_pairs_ctes()},
lab AS (
  SELECT {_sql_split_of("id_a")} AS sa, {_sql_split_of("id_b")} AS sb, sim
  FROM p
),
g AS (
  SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
         count(*) AS n_pairs, max(sim) AS max_sim
  FROM lab GROUP BY 1, 2
)
SELECT split_a, split_b, n_pairs, max_sim, split_a <> split_b AS is_cross
FROM g ORDER BY split_a, split_b
"""


def _pii_augmented(docs: DataFrame) -> DataFrame:
    """Deterministic PII augmentation: the synthetic corpus contains no
    digits or '@' at all (checked), so the PII detectors would be
    vacuous on it. Both the Spark query and the DuckDB oracle append
    the SAME doc_id-derived email/phone/IP strings to a subset of
    docs — a self-consistent fixture INSIDE the query, not synthetic
    test data on disk; the operator under test is the regex scan/redact
    that must then find exactly these spans."""
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call +49-555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", "source", aug.alias("text"))


_SQL_PII_AUG = """
aug AS (
  SELECT doc_id, source,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' call +49-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                 ELSE '' END AS text
  FROM documents
)
"""


def q_pii_scan_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing audit per source: detector counts (email / phone /
    IPv4) + exact redaction char delta, aggregated per source — the
    pre-publication compliance report a training-data pipeline emits.
    Detection and redaction are pure Catalyst regexp expressions (zero
    Python, zero extra shuffles beyond the one tiny source aggregation);
    patterns are a Java-regex/RE2-portable subset so both engines match
    identical spans."""
    docs = load_table(spark, sf_dir, "documents")
    return text.pii_report(_pii_augmented(docs)).orderBy("source")


def _sql_pii() -> str:
    # sequential counts mirroring pii_scan: pattern k counts on the text
    # with patterns 1..k-1 already redacted (one entity, one detector)
    stages = ["text"]
    for _name, pat, r in text.PII_PATTERNS:
        stages.append(
            f"regexp_replace({stages[-1]}, '{pat}', '{r}', 'g')"
        )
    red = stages[-1]
    n_by = {
        name: f"len(regexp_extract_all({stages[i]}, '{pat}'))"
        for i, (name, pat, _r) in enumerate(text.PII_PATTERNS)
    }
    return f"""
WITH {_SQL_PII_AUG.strip()},
scan AS (
  SELECT doc_id, source,
         {n_by["email"]} AS n_email,
         {n_by["phone"]} AS n_phone,
         {n_by["ipv4"]} AS n_ipv4,
         length(text) - length({red}) AS chars_delta
  FROM aug
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN n_email + n_phone + n_ipv4 > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_pii,
       CAST(sum(n_email) AS BIGINT) AS n_email,
       CAST(sum(n_phone) AS BIGINT) AS n_phone,
       CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
       CAST(sum(chars_delta) AS BIGINT) AS chars_delta
FROM scan GROUP BY source ORDER BY source
"""


SQL_PII_SCAN_BY_SOURCE = _sql_pii()


def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span measurement per near-dup pair (the pairwise
    form of Lee et al.'s exact substring dedup): for each MinHash-LSH
    candidate pair, the longest exact shared token run via diagonal
    gaps-and-islands over positional 3-grams. The LSH pair table (shared
    session materialization) is the blocking structure — the shingle
    match join is pair-restricted, never shingle x shingle."""
    docs = load_table(spark, sf_dir, "documents")
    shp = dedup.positional_shingles(docs)
    pairs = _minhash_pairs(spark, sf_dir)
    return dedup.pair_substring_spans(shp, pairs, min_run=1).orderBy(
        "id_a", "id_b"
    )


SQL_SUBSTRING_DUP_SPANS = f"""
WITH {_minhash_pair_ctes()},
shp AS (
  SELECT doc_id, g.i - 1 AS pos, w[g.i] || ' ' || w[g.i+1] || ' ' || w[g.i+2] AS shingle
  FROM (SELECT doc_id, {_W_SQL} AS w FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
  WHERE len(w) >= 3
),
m AS (
  SELECT p.id_a, p.id_b, a.pos AS pos_a, b.pos AS pos_b
  FROM vpairs p
  JOIN shp a ON a.doc_id = p.id_a
  JOIN shp b ON b.doc_id = p.id_b AND b.shingle = a.shingle
),
isl AS (
  SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a,
         pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
                                    ORDER BY pos_a) AS grp
  FROM m
),
runs AS (
  SELECT id_a, id_b, diag, grp, count(*) AS run
  FROM isl GROUP BY id_a, id_b, diag, grp
)
SELECT id_a, id_b, max(run) + 2 AS max_shared_tokens,
       CAST(sum(run) AS BIGINT) AS n_match_positions
FROM runs GROUP BY id_a, id_b
HAVING max(run) >= 1
ORDER BY id_a, id_b
"""


def q_embedding_quantize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit per label: the 4x storage/
    serving compression step with its reconstruction error measured in
    EXACT integer arithmetic (round-half-up int8 codes computed without
    any float division, error sums integral until one final divide) —
    so the audit itself is bit-identical on any engine/parallelism.
    Pure map + ONE label aggregation; no joins, no windows."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantize_audit(emb).orderBy("label")


SQL_EMBEDDING_QUANTIZE_AUDIT = """
WITH x AS (
  SELECT label,
         list_transform(embedding, c ->
           CAST(floor(CAST(c AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xi
  FROM embeddings
),
s AS (
  SELECT label, xi,
         greatest(list_max(list_transform(xi, v -> abs(v))),
                  CAST(1 AS BIGINT)) AS s
  FROM x
),
e AS (
  SELECT label,
         list_max(list_transform(range(1, 65), i ->
           abs(xi[i] * 127 -
               (CASE WHEN xi[i] < 0 THEN -1 WHEN xi[i] > 0 THEN 1 ELSE 0 END)
               * ((abs(xi[i]) * 254 + s) // (2 * s)) * s))) AS vmax
  FROM s
)
SELECT label, count(*) AS n_vecs,
       CAST(sum(CASE WHEN vmax = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(max(vmax) AS DOUBLE) / 127000000.0 AS max_abs_err,
       CAST(sum(vmax) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * 127000000.0) AS mean_max_abs_err
FROM e GROUP BY label ORDER BY label
"""


DSIR_TARGET = "lang = 'en'"
DSIR_BUCKETS = 64


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (hashed unigram features, target =
    English docs): the importance-resampling scorer for steering a raw
    corpus toward a target distribution. Exact ratio-of-sums surrogate
    (no ln — engines differ in the last ulp and the gate hashes bits);
    two tiny bucket aggregations broadcast back over one token scan."""
    docs = load_table(spark, sf_dir, "documents")
    return text.importance_weights(
        docs, DSIR_TARGET, n_buckets=DSIR_BUCKETS
    ).orderBy("doc_id")


_SQL_TOK_BUCKET = (
    "CAST(list_sum(list_transform(range(0, 4), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(tok), i + 1, 1)) - 1 AS BIGINT)"
    f" << (4 * (3 - i)))) AS BIGINT) % {DSIR_BUCKETS}"
)

SQL_DSIR_IMPORTANCE = f"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_t, unnest(w) AS tok
  FROM (SELECT doc_id, lang, {_W_SQL} AS w FROM documents)
),
bt AS (SELECT doc_id, is_t, {_SQL_TOK_BUCKET} AS bucket FROM toks),
b AS (
  SELECT bucket, count(*) AS q_cnt,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS p_cnt
  FROM bt GROUP BY bucket
),
tot AS (
  SELECT sum(p_cnt) + {DSIR_BUCKETS} AS tp, sum(q_cnt) + {DSIR_BUCKETS} AS tq
  FROM b
),
pd AS (
  SELECT doc_id, count(*) AS n_tokens,
         sum(p_cnt + 1) AS sp, sum(q_cnt + 1) AS sq
  FROM bt JOIN b ON b.bucket = bt.bucket
  GROUP BY doc_id
)
SELECT doc.doc_id,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(CAST(sp * tq AS DOUBLE) / CAST(sq * tp AS DOUBLE), 1.0)
         AS importance
FROM documents doc LEFT JOIN (SELECT * FROM pd, tot) s
  ON s.doc_id = doc.doc_id
ORDER BY doc.doc_id
"""


# ---------------------------------------------------------------------------
# round-5 additions: n-gram novelty, context chunking, group split guard,
# curriculum binning
# ---------------------------------------------------------------------------


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate scoring: mean corpus frequency of each document's
    word-bigrams (integer-exact — see operators/text.ngram_novelty)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.ngram_novelty(docs).orderBy("doc_id")


SQL_NGRAM_NOVELTY = f"""
WITH d AS (SELECT doc_id, {_W_SQL} AS w FROM documents),
bi AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1])) AS bg
  FROM d WHERE len(w) >= 2
),
c AS (SELECT bg, count(*) AS c FROM bi GROUP BY bg),
p AS (
  SELECT doc_id, count(*) AS n_bigrams, CAST(sum(c) AS BIGINT) AS freq_sum
  FROM bi JOIN c USING (bg) GROUP BY doc_id
)
SELECT doc.doc_id,
       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(freq_sum, 0) AS BIGINT) AS freq_sum,
       CASE WHEN coalesce(n_bigrams, 0) > 0
            THEN freq_sum / CAST(n_bigrams AS DOUBLE)
            ELSE 0.0 END AS avg_bigram_freq
FROM documents doc LEFT JOIN p USING (doc_id)
ORDER BY doc.doc_id
"""


CHUNK_WINDOW, CHUNK_STRIDE = 128, 96


def q_context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (128-token windows every 96
    tokens) — the RAG-passage / long-context splitter; zero-shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.expr(f"size({text._WORDS})").alias("n_tokens"))
    return sampling.context_chunks(
        d, window_tokens=CHUNK_WINDOW, stride=CHUNK_STRIDE
    ).orderBy("doc_id", "chunk_idx")


SQL_CONTEXT_CHUNKS = f"""
WITH d AS (SELECT doc_id, len({_W_SQL}) AS n FROM documents)
SELECT doc_id,
       CAST(k AS INTEGER) AS chunk_idx,
       CAST(k * {CHUNK_STRIDE} AS BIGINT) AS tok_start,
       CAST(least({CHUNK_WINDOW}, n - k * {CHUNK_STRIDE}) AS BIGINT) AS tok_len
FROM (SELECT doc_id, n, unnest(generate_series(0, (n - 1) // {CHUNK_STRIDE})) AS k
      FROM d WHERE n > 0)
ORDER BY doc_id, chunk_idx
"""


def _sql_h16_on(salt: str, col: str) -> str:
    """DuckDB mirror of sampling.hash_bucket16 over an arbitrary column."""
    return (
        "CAST(list_sum(list_transform(range(0, 4), i -> "
        f"CAST(strpos('0123456789abcdef', substr(md5('{salt}:' || "
        f"CAST({col} AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)"
        " << (4 * (3 - i)))) AS INTEGER)"
    )


def q_group_split_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-level train/val/test split audit: the hash threshold applies
    to the SOURCE, so a source's documents can never straddle splits (the
    leakage guard; near-duplicates cluster within a source). Output is
    the audit a pipeline runs before training: per split, how many
    sources and documents landed there — plus max_splits_per_source,
    which the construction forces to 1 (a >1 value would be the leakage
    alarm)."""
    docs = load_table(spark, sf_dir, "documents")
    s = sampling.group_split_assign(
        docs, group_col="source", salt="gsplit",
        train_pct=SPLIT_TRAIN_PCT, val_pct=SPLIT_VAL_PCT,
    )
    per_source = s.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    guard = per_source.groupBy("source").agg(
        F.countDistinct("split").alias("_k")
    ).agg(F.max("_k").alias("max_splits_per_source"))
    return (
        per_source.groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_docs").alias("n_docs"),
        )
        .crossJoin(F.broadcast(guard))
        .orderBy("split")
    )


SQL_GROUP_SPLIT_GUARD = f"""
WITH s AS (
  SELECT source,
         CASE WHEN {_sql_h16_on("gsplit", "source")} < {_T_THR} THEN 'train'
              WHEN {_sql_h16_on("gsplit", "source")} < {_V_THR} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
ps AS (SELECT source, split, count(*) AS n_docs FROM s GROUP BY 1, 2),
g AS (SELECT max(k) AS max_splits_per_source FROM
        (SELECT source, count(DISTINCT split) AS k FROM ps GROUP BY source))
SELECT split, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       g.max_splits_per_source
FROM ps, g GROUP BY split, g.max_splits_per_source ORDER BY split
"""


CURRICULUM_QS = (0.25, 0.5, 0.75)


def q_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: per-language quality-score quartile cutoffs
    (exact type-1 quantiles — the same machinery quality_quantiles pins),
    broadcast back to assign every document a difficulty bin 1-4
    (bin = 1 + #cutoffs strictly below the doc's score; boundary ties
    stay in the lower bin — a pure value rule, identical on any engine).
    This is the two-pass shape that scales: cutoffs are a tiny aggregate,
    assignment is map-only — never a global sort/ntile over the corpus.
    Returns per (lang, bin): n_docs, n_tokens."""
    docs = load_table(spark, sf_dir, "documents")
    m = text.text_metrics(docs).join(docs.select("doc_id", "lang"), "doc_id")
    cuts = stats.group_discrete_quantiles(
        m, "lang", "quality_score", CURRICULUM_QS, tiebreak_col="doc_id"
    )
    binned = (
        m.join(F.broadcast(cuts), "lang")
        .groupBy("doc_id", "lang", "n_tokens")
        .agg(
            (
                1 + F.sum((F.col("quality_score") > F.col("q_value")).cast("int"))
            ).alias("bin")
        )
    )
    return (
        binned.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("lang", "bin")
    )


_CURR_QS_VALUES = ", ".join(f"({q})" for q in CURRICULUM_QS)
SQL_CURRICULUM_BINS = f"""
WITH {_QUALITY_CTES},
r AS (
  SELECT lang, quality_score,
         row_number() OVER (PARTITION BY lang ORDER BY quality_score, doc_id)
           AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM qual
),
cuts AS (
  SELECT lang, qs.q, quality_score AS q_value
  FROM r JOIN (VALUES {_CURR_QS_VALUES}) qs(q)
    ON rn = CAST(ceil(round(qs.q * n, 9)) AS BIGINT)
),
binned AS (
  SELECT q.doc_id, q.lang, q.n_tokens,
         1 + sum(CASE WHEN q.quality_score > c.q_value THEN 1 ELSE 0 END)
           AS bin
  FROM qual q JOIN cuts c USING (lang)
  GROUP BY q.doc_id, q.lang, q.n_tokens
)
SELECT lang, CAST(bin AS INTEGER) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM binned GROUP BY lang, bin ORDER BY lang, bin
""".replace("{stop}", _STOP_PRED)


# ---------------------------------------------------------------------------
# round-6 additions: content-defined chunk dedup, temperature allocation
# ---------------------------------------------------------------------------

CDC_AVG_WORDS = 16


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup audit per source: word-level
    FastCDC-style boundaries, chunk digests, corpus-wide duplicate-chunk
    ratio (operators/dedup.cdc_chunk_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.cdc_chunk_stats(docs, avg_chunk_words=CDC_AVG_WORDS)


SQL_CDC_CHUNK_DEDUP = f"""
WITH d AS (SELECT doc_id, source, {_W_SQL} AS w FROM documents),
tok AS (
  SELECT doc_id, source, i - 1 AS pos, w[i] AS word
  FROM d, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)
  WHERE len(w) > 0
),
b AS (
  SELECT doc_id, source, pos, word,
         CASE WHEN {_sql_h16_on("cdc", "word")} % {CDC_AVG_WORDS} = 0
              THEN 1 ELSE 0 END AS bnd
  FROM tok
),
ch AS (
  SELECT doc_id, source,
         coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_id,
         pos, word
  FROM b
),
chunks AS (
  SELECT doc_id, source, chunk_id,
         md5(string_agg(word, ' ' ORDER BY pos)) AS digest
  FROM ch GROUP BY doc_id, source, chunk_id
),
cc AS (
  SELECT source, count(*) OVER (PARTITION BY digest) AS c
  FROM chunks
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         AS dup_chunk_ratio
FROM cc GROUP BY source ORDER BY source
"""


ALLOC_BUDGET = 1_000_000


def q_mixture_temperature_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (α = 1/2) token-budget allocation across
    languages with exact integer square roots and largest-remainder
    apportionment (operators/sampling.temperature_alloc)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.temperature_alloc(
        docs, budget_tokens=ALLOC_BUDGET, group_col="lang", size_col="n_chars"
    )


SQL_MIXTURE_TEMPERATURE_ALLOC = f"""
WITH g AS (
  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS group_size
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, group_size,
         s0 - CASE WHEN s0 * s0 > group_size THEN 1 ELSE 0 END
            + CASE WHEN (s0 + 1) * (s0 + 1) <= group_size THEN 1 ELSE 0 END
           AS weight
  FROM (SELECT lang, group_size,
               CAST(floor(sqrt(CAST(group_size AS DOUBLE))) AS BIGINT) AS s0
        FROM g)
),
ap AS (
  SELECT lang, group_size, weight,
         ({ALLOC_BUDGET} * weight) // sum(weight) OVER () AS base,
         ({ALLOC_BUDGET} * weight) % sum(weight) OVER () AS rem
  FROM w
),
fin AS (
  SELECT lang, group_size, weight, base,
         row_number() OVER (ORDER BY rem DESC, lang) AS rn,
         {ALLOC_BUDGET} - sum(base) OVER () AS deficit
  FROM ap
)
SELECT lang, group_size, weight,
       CAST(base + CASE WHEN rn <= deficit THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_tokens,
       CAST(base + CASE WHEN rn <= deficit THEN 1 ELSE 0 END AS DOUBLE)
         / {ALLOC_BUDGET} AS share
FROM fin ORDER BY lang
"""


# ---------------------------------------------------------------------------
# image perceptual near-dup: dHash over the REAL PNG codec roundtrip
# ---------------------------------------------------------------------------

_NIB = "0123456789abcdef"
DHASH_HAM_MAX = 3  # 4 bands x 14 bits: pigeonhole-complete for ham <= 3


def _dhash_word_sql(i: str) -> str:
    """DuckDB cell value: first byte of md5(word_i) ('' beyond length)."""
    w = f"CASE WHEN {i} < len(w) THEN w[{i} + 1] ELSE '' END"
    return (
        f"(strpos('{_NIB}', substr(md5({w}), 1, 1)) - 1) * 16"
        f" + (strpos('{_NIB}', substr(md5({w}), 2, 1)) - 1)"
    )


def q_image_dhash_near_dup(
    spark: SparkSession, sf_dir: str, codec: str = "png"
) -> DataFrame:
    """Perceptual image near-dup over the REAL PNG codec: each document
    renders to a deterministic 9x7 grayscale thumbnail (cell = first
    md5 byte of the word at that grid position), is encoded as an actual
    PNG, decoded back by the pure-stdlib decoder, and dHashed from the
    DECODED pixels (operators/multimodal.image_dhash_table). Near-dup
    pairs are found by pigeonhole banding (4 x 14-bit bands -> any pair
    with Hamming distance <= 3 shares at least one exact band), then
    verified with bit_count(xor) — COMPLETE, not approximate, for the
    reported threshold.

    The oracle computes the same 56-bit hash straight from the cell
    values with NO codec and brute-forces all pairs — so a single pixel
    the encoder or decoder corrupts flips hash bits and fails the
    value-hash gate: the codec roundtrip itself is driver-attested.

    100 TB shape: one Arrow-batched Python crossing for the codec (tiny
    fixed-size payloads), then the banded self-equi-join — never an
    all-pairs comparison; near-dup docs cluster by text, so band keys
    stay low-skew.
    """
    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    cells = docs.select(
        "doc_id", F.expr(text._WORDS).alias("_w")
    ).select(
        "doc_id",
        F.expr(
            "transform(sequence(0, 62), i -> CAST(conv(substring(md5("
            "CASE WHEN i < size(_w) THEN _w[i] ELSE '' END), 1, 2),"
            " 16, 10) AS INT))"
        ).alias("cells"),
    )
    dh = multimodal.image_dhash_table(cells, codec=codec)
    bands = dh.select(
        "doc_id",
        "dhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), k -> struct(k AS k,"
                " CAST(shiftright(dhash, 14 * k) & 16383 AS INT) AS band))"
            )
        ).alias("_b"),
    ).select("doc_id", "dhash", F.col("_b.k").alias("k"), F.col("_b.band").alias("band"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.dhash").bitwiseXOR(F.col("b.dhash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= DHASH_HAM_MAX)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def q_image_dhash_mixed_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dHash near-dup query over MIXED PNG/BASELINE-JPEG blobs:
    even doc_ids ride the lossless PNG path, odd doc_ids a real SOF0
    JPEG (block-flat upsampled thumbnail, FLAT_EXACT_QTABLE — DC-only
    blocks roundtrip exactly, see multimodal.image_dhash_table). Same
    codec-free oracle as image_dhash_near_dup: the JPEG marker walk,
    huffman entropy coder, dequantizer, and IDCT DC path are all
    driver-attested by the value hash."""
    return q_image_dhash_near_dup(spark, sf_dir, codec="mixed")


#: resize-audit source geometry: 36x28 grayscale, box factor 4 -> the
#: 9x7 dHash grid
_RS_W, _RS_H, _RS_F = 36, 28, 4


def q_image_resize_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE as an attested transform (the decode -> downscale ->
    hash step every multimodal ingest runs): a deterministic 36x28
    grayscale image per document rides the real PNG codec, is
    box-downscaled 4x by exact integer means
    (operators/multimodal.resize_gray_box), and dHashed from the
    RESIZED pixels. The oracle computes the same box means and hash
    bits straight from the pixel formula with no codec and no resize
    code — one wrong pixel in encode, decode, or the box arithmetic
    flips hash bits and fails the value gate."""
    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    px = F.expr(
        f"transform(sequence(0, {_RS_W * _RS_H - 1}), i ->"
        f" CAST((doc_id * 31 + (i div {_RS_W}) * 7 + (i % {_RS_W}) * 13)"
        " % 256 AS INT))"
    )
    imgs = docs.select("doc_id", px.alias("pixels"))
    return multimodal.image_resize_dhash_table(
        imgs, _RS_W, _RS_H, _RS_F
    ).orderBy("doc_id")


SQL_IMAGE_RESIZE_DHASH = f"""
WITH px AS (
  SELECT d.doc_id, r.r, c.c,
         (d.doc_id * 31 + r.r * 7 + c.c * 13) % 256 AS v
  FROM (SELECT doc_id FROM documents) d,
       (SELECT unnest(generate_series(0, {_RS_H - 1})) AS r) r,
       (SELECT unnest(generate_series(0, {_RS_W - 1})) AS c) c
),
cells AS (
  SELECT doc_id, r // {_RS_F} AS gr, c // {_RS_F} AS gc,
         sum(v) // {_RS_F * _RS_F} AS cell
  FROM px GROUP BY doc_id, r // {_RS_F}, c // {_RS_F}
),
cl AS (
  SELECT doc_id,
         list(cell ORDER BY gr * {_RS_W // _RS_F} + gc) AS cell
  FROM cells GROUP BY doc_id
)
SELECT doc_id,
       CAST(list_sum(list_transform(range(0, 56), b ->
         CASE WHEN cell[(b // 8) * {_RS_W // _RS_F} + (b % 8) + 2]
                 > cell[(b // 8) * {_RS_W // _RS_F} + (b % 8) + 1]
              THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
         AS BIGINT) AS dhash
FROM cl ORDER BY doc_id
"""


SQL_IMAGE_DHASH_NEAR_DUP = f"""
WITH d AS (SELECT doc_id, {_W_SQL} AS w FROM documents),
cells AS (
  SELECT doc_id,
         list_transform(range(0, 63), i -> {_dhash_word_sql("i")}) AS cell
  FROM d
),
h AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, 56), b ->
           CASE WHEN cell[(b // 8) * 9 + (b % 8) + 2]
                   > cell[(b // 8) * 9 + (b % 8) + 1]
                THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
           AS dhash
  FROM cells
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= {DHASH_HAM_MAX}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# ANN recall audit: measure the approximate index against the exact baseline
# ---------------------------------------------------------------------------


def _recall_at_10(exact: DataFrame, approx: DataFrame, *lead) -> DataFrame:
    """One-pass recall@10 report: LEFT-join the exact top-10 pairs
    against the approx pairs (flagged + broadcast — O(#queries × k)
    rows) and count matches per query. Numerically identical to the old
    semi-join + distinct + left-join shape, but the exact subtree — the
    guarded brute-force baseline, the expensive half of every recall
    audit — is evaluated ONCE instead of twice (Catalyst does not share
    duplicate subtrees across branches; guide §7.2. r11 optimization:
    pq/ivfpq/ann/dim audits each dropped ~25-45 % wall).

    ``lead``: optional literal lead columns (e.g. the dims/method tag)."""
    j = exact.join(
        F.broadcast(approx.withColumn("_m", F.lit(1).cast("long"))),
        ["q_id", "vec_id"],
        "left",
    )
    return (
        j.groupBy("q_id")
        .agg(F.coalesce(F.sum("_m"), F.lit(0)).alias("n_overlap"))
        .select(
            *lead,
            "q_id",
            "n_overlap",
            (F.col("n_overlap") / 10.0).alias("recall_at_10"),
        )
    )


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the learned K-Means IVF index vs the brute-force
    cosine baseline, per query — the "measure, don't guess" evaluation
    every approximate index needs before it replaces the exact path.
    Both rankings are deterministic (round-4 attested individually), so
    the overlap count is value-hash-checkable; the exact side is the
    guarded small-scale baseline, the IVF side is the 100 TB plan.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, ANN_QUERY_IDS, k=10).select(
        "q_id", "vec_id"
    )
    approx = similarity.kmeans_ivf_topk(
        emb, ANN_QUERY_IDS, k=10, n_clusters=KMEANS_K,
        iters=KMEANS_ITERS, n_probe=KMEANS_N_PROBE,
    ).select("q_id", "vec_id")
    return _recall_at_10(exact, approx).orderBy("q_id")


def _sql_ann_recall(dim: int = 64) -> str:
    body, last = _sql_kmeans_ctes(KMEANS_K, KMEANS_ITERS, dim)

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> {a}[i] * {b}[i]))"
        )

    def nrm(a: str) -> str:
        return f"sqrt(list_sum(list_transform({a}, x -> x * x)))"

    return f"""
WITH {body},
vd AS (SELECT id, list_transform(vq, x -> CAST(x AS DOUBLE)) AS d FROM v),
qd AS (SELECT id AS q_id, d AS q FROM vd WHERE id IN ({_IDS})),
qc AS (
  SELECT qd.q_id, qd.q, t.cluster,
         {_cos_sql(dot("qd.q", "t.c"), nrm("qd.q"), nrm("t.c"))} AS csim
  FROM qd, {last} t
),
probes AS (
  SELECT q_id, q, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY csim DESC, cluster) AS crank
    FROM qc) WHERE crank <= {KMEANS_N_PROBE}
),
cand AS (
  SELECT p.q_id, p.q, a.id, v2.d AS w
  FROM probes p
  JOIN af a ON a.cluster = p.cluster AND a.id != p.q_id
  JOIN vd v2 ON v2.id = a.id
),
kscored AS (
  SELECT q_id, id AS vec_id,
         round({_cos_sql(dot("q", "w"), nrm("q"), nrm("w"))}, 4) AS sim
  FROM cand
),
ktop AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY sim DESC, vec_id) AS rank
    FROM kscored) WHERE rank <= 10
),
bq AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       WHERE vec_id IN ({_IDS})),
bscored AS (
  SELECT bq.q_id, e.vec_id, round({_cos_sql(
      _DOT.replace("q.q_vec", "bq.q_vec"),
      _QN.replace("q.q_vec", "bq.q_vec"),
      _EN)}, 4) AS sim
  FROM embeddings e, bq WHERE e.vec_id != bq.q_id
),
btop AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY sim DESC, vec_id) AS rank
    FROM bscored) WHERE rank <= 10
)
SELECT b.q_id,
       CAST(count(k.vec_id) AS BIGINT) AS n_overlap,
       count(k.vec_id) / 10.0 AS recall_at_10
FROM btop b LEFT JOIN ktop k ON k.q_id = b.q_id AND k.vec_id = b.vec_id
GROUP BY b.q_id ORDER BY b.q_id
"""


SQL_ANN_RECALL_AUDIT = _sql_ann_recall()


# ---------------------------------------------------------------------------
# Count-Min sketch heavy-hitter audit
# ---------------------------------------------------------------------------

CMS_TOP_K = 20


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS heavy-hitter audit: sketch estimate vs exact count for the
    true top-20 tokens (operators/sketches.cms_heavy_hitter_audit). The
    mergeable-summaries pattern quantified: overestimate >= 0 always,
    bounded by eps*N in expectation."""
    from .operators.sketches import cms_heavy_hitter_audit

    docs = load_table(spark, sf_dir, "documents")
    return cms_heavy_hitter_audit(docs, top_k=CMS_TOP_K)


def _sql_cms(depth: int = 4, width: int = 1024, top_k: int = 20) -> str:
    # bucket for row r: 16-bit slice r of md5(token) (nibbles 4r+1..4r+4)
    b = (
        "(CAST(list_sum(list_transform(range(0, 4), i -> "
        "CAST(strpos('0123456789abcdef', substr(md5(token),"
        " 4 * {r} + i + 1, 1)) - 1 AS BIGINT)"
        " << (4 * (3 - i)))) AS INTEGER)) % " + str(width)
    )
    return f"""
WITH toks AS (
  SELECT unnest({_W_SQL}) AS token FROM documents
),
exact AS (SELECT token, count(*) AS exact_n FROM toks GROUP BY token),
top AS (
  SELECT token, exact_n FROM exact
  ORDER BY exact_n DESC, token LIMIT {top_k}
),
rows_ AS (
  SELECT token, unnest(range(0, {depth})) AS r FROM toks
),
counters AS (
  SELECT r, {b.format(r="r")} AS bucket, count(*) AS c
  FROM rows_ GROUP BY 1, 2
),
probes AS (
  SELECT token, exact_n, unnest(range(0, {depth})) AS r FROM top
),
est AS (
  SELECT p.token, p.exact_n, min(c.c) AS cms_est
  FROM probes p JOIN counters c
    ON c.r = p.r AND c.bucket = {b.format(r="p.r")}
  GROUP BY p.token, p.exact_n
)
SELECT token, CAST(exact_n AS BIGINT) AS exact_n,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_n AS BIGINT) AS overestimate
FROM est ORDER BY exact_n DESC, token
"""


SQL_CMS_HEAVY_HITTERS = _sql_cms()


# ---------------------------------------------------------------------------
# LSH recall audit: banding measured against the exact Jaccard baseline
# ---------------------------------------------------------------------------


def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of the MinHash-LSH near-dup path at the catalog
    threshold, measured against the exact (guarded, quadratic) Jaccard
    baseline — the text-dedup twin of `ann_recall_audit`. Because the
    LSH path verifies candidates with TRUE Jaccard, precision is 1.0 by
    construction (the audit proves it rather than assuming it); recall
    < 1 comes only from banding misses, which is exactly the knob
    (bands × rows) this number tunes.

    Run at validation scale: the exact side is the O(n²)-guarded
    baseline; production keeps only the banded plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    truth = dedup.jaccard_pairs(sh, JACCARD_THRESHOLD).select("id_a", "id_b")
    lsh = (
        _minhash_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b")
    )
    # ONE pass: the old three-legged shape (truth.agg × lsh.agg ×
    # semi-join.agg) re-evaluated the guarded-quadratic truth subtree
    # twice and the LSH subtree twice (Catalyst does not share duplicate
    # subtrees across a crossJoin of aggregates — guide §7.2). The
    # full-outer flag join computes the identical three counts in one
    # evaluation of each side, the same shape containment_recall_audit
    # always had. Measured 2.70 s -> ~1.4 s at sf0.1.
    ex = truth.withColumn("_e", F.lit(1).cast("long"))
    ls = lsh.withColumn("_m", F.lit(1).cast("long"))
    agg = ex.join(ls, ["id_a", "id_b"], "full_outer").agg(
        F.coalesce(F.sum("_e"), F.lit(0)).alias("n_truth"),
        F.coalesce(F.sum("_m"), F.lit(0)).alias("n_lsh"),
        F.coalesce(F.sum(F.col("_e") * F.col("_m")), F.lit(0)).alias(
            "n_matched"
        ),
    )
    return agg.select(
        "n_truth",
        "n_lsh",
        "n_matched",
        F.expr(
            "CASE WHEN n_truth = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE n_matched / CAST(n_truth AS DOUBLE) END"
        ).alias("recall"),
        F.expr(
            "CASE WHEN n_lsh = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE n_matched / CAST(n_lsh AS DOUBLE) END"
        ).alias("precision"),
    )


SQL_LSH_RECALL_AUDIT = f"""
WITH {_minhash_pair_ctes()},
tp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT id_a, id_b
  FROM tp JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}
),
lsh AS (
  SELECT id_a, id_b FROM vpairs WHERE jaccard >= {JACCARD_THRESHOLD}
),
m AS (
  SELECT count(*) AS n_matched
  FROM truth t JOIN lsh l ON l.id_a = t.id_a AND l.id_b = t.id_b
),
c AS (
  SELECT (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM lsh) AS n_lsh,
         (SELECT n_matched FROM m) AS n_matched
)
SELECT CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_lsh AS BIGINT) AS n_lsh,
       CAST(n_matched AS BIGINT) AS n_matched,
       CASE WHEN n_truth = 0 THEN CAST(NULL AS DOUBLE)
            ELSE n_matched / CAST(n_truth AS DOUBLE) END AS recall,
       CASE WHEN n_lsh = 0 THEN CAST(NULL AS DOUBLE)
            ELSE n_matched / CAST(n_lsh AS DOUBLE) END AS precision
FROM c
"""


def q_quality_ks_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS distance of the quality-score distribution,
    each source vs the rest of the corpus (operators/text.
    ks_drift_by_group) — the distribution-shape drift audit behind
    'this crawl snapshot looks different'."""
    docs = load_table(spark, sf_dir, "documents")
    m = text.text_metrics(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    ).select("doc_id", "source", "quality_score")
    return text.ks_drift_by_group(
        m, "source", "quality_score", "doc_id"
    )


def _sql_quality_ks() -> str:
    from .operators.decimate import big_to_double_duck

    return f"""
WITH {_QUALITY_CTES.replace("lang", "source")},
g AS (SELECT DISTINCT source AS grp FROM qual),
e AS (
  SELECT q.doc_id, q.quality_score, q.source, g.grp,
         CASE WHEN q.source = g.grp THEN 1 ELSE 0 END AS ind
  FROM qual q CROSS JOIN g
),
c AS (
  SELECT grp,
         CAST(sum(ind) OVER w AS HUGEINT) AS cs,
         CAST(sum(1 - ind) OVER w AS HUGEINT) AS cr,
         CAST(sum(ind) OVER p AS HUGEINT) AS ns,
         CAST(sum(1 - ind) OVER p AS HUGEINT) AS nr,
         -- textbook tie handling: the ECDF gap counts only at the LAST
         -- row of an equal-value run (mid-tie prefixes overshoot)
         (lead(quality_score) OVER o IS NULL
          OR lead(quality_score) OVER o <> quality_score) AS is_step
  FROM e
  WINDOW w AS (PARTITION BY grp ORDER BY quality_score, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         o AS (PARTITION BY grp ORDER BY quality_score, doc_id),
         p AS (PARTITION BY grp)
)
SELECT grp AS source,
       CAST(max(ns) AS BIGINT) AS n_group,
       CAST(max(nr) AS BIGINT) AS n_rest,
       CAST(max(CASE WHEN is_step THEN abs(cs * nr - cr * ns) END) AS BIGINT)
         AS ks_num,
       CASE WHEN max(ns) = 0 OR max(nr) = 0 THEN CAST(NULL AS DOUBLE)
            ELSE ({big_to_double_duck(
                "max(CASE WHEN is_step THEN abs(cs * nr - cr * ns) END)")})
               / ({big_to_double_duck("(max(ns) * max(nr))")}) END AS ks
FROM c GROUP BY grp ORDER BY grp
""".replace("{stop}", _STOP_PRED)


SQL_QUALITY_KS_BY_SOURCE = _sql_quality_ks()


CONTAIN_C, CONTAIN_JMAX = 0.15, 0.5


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric (Broder containment) near-dup pairs that symmetric
    Jaccard misses: C(small in big) >= 0.15 while J < 0.5
    (operators/dedup.containment_pairs — the quote-inside-article
    detector; threshold set to the fixture's asymmetric-overlap tail,
    production would run 0.8+)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    return dedup.containment_pairs(sh, CONTAIN_C, CONTAIN_JMAX)


SQL_CONTAINMENT_PAIRS = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
e AS (
  SELECT id_a, id_b, n_common, sa.n_sh AS na, sb.n_sh AS nb,
         n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard,
         n_common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
  FROM pairs JOIN sizes sa ON sa.doc_id = id_a
             JOIN sizes sb ON sb.doc_id = id_b
)
SELECT CASE WHEN na <= nb THEN id_a ELSE id_b END AS id_small,
       CASE WHEN na <= nb THEN id_b ELSE id_a END AS id_big,
       containment, jaccard, CAST(n_common AS BIGINT) AS n_common
FROM e
WHERE containment >= {CONTAIN_C} AND jaccard < {CONTAIN_JMAX}
ORDER BY id_small, id_big
"""


#: bottom-k sketch width for the containment-LSH production path; at the
#: catalog's loose c=0.15 the per-pair candidate-miss probability is
#: ~0.85^32 ≈ 0.004 (at a production c=0.8 it is ~1e-22)
CONTAIN_K = 32


def q_containment_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs via the PRODUCTION path
    (operators/dedup.containment_lsh_pairs — bottom-k probe banding on
    the smaller side's signature + exact verification), same thresholds
    as the exact `containment_pairs` baseline it is audited against."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    return dedup.containment_lsh_pairs(
        sh, CONTAIN_C, CONTAIN_JMAX, k=CONTAIN_K
    )


#: candidate chain shared by the LSH query and the recall audit: bottom-K
#: probe shingles per doc (by md5 order) joined against the full inverted
#: shingle index, verified exactly on full shingle sets
_CONTAIN_LSH_CTES = f"""
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
probes AS (
  SELECT doc_id AS probe_id, shingle FROM (
    SELECT doc_id, shingle,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY md5(shingle), shingle) AS rn
    FROM sh) WHERE rn <= {CONTAIN_K}
),
cand AS (
  SELECT DISTINCT least(p.probe_id, s.doc_id) AS id_a,
                  greatest(p.probe_id, s.doc_id) AS id_b
  FROM probes p JOIN sh s
    ON p.shingle = s.shingle AND p.probe_id <> s.doc_id
),
lcommon AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
le AS (
  SELECT id_a, id_b, n_common, sa.n_sh AS na, sb.n_sh AS nb,
         n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard,
         n_common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
  FROM lcommon JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
)"""


SQL_CONTAINMENT_PAIRS_LSH = f"""
WITH {SHINGLES_CTE},
{_CONTAIN_LSH_CTES}
SELECT CASE WHEN na <= nb THEN id_a ELSE id_b END AS id_small,
       CASE WHEN na <= nb THEN id_b ELSE id_a END AS id_big,
       containment, jaccard, CAST(n_common AS BIGINT) AS n_common
FROM le
WHERE containment >= {CONTAIN_C} AND jaccard < {CONTAIN_JMAX}
ORDER BY id_small, id_big
"""


def q_containment_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall/precision of the containment-LSH production path
    against the exact `containment_pairs` baseline at catalog
    parameters — the asymmetric twin of `lsh_recall_audit`. Precision
    is 1.0 by construction (candidates are exact-verified with the same
    thresholds); the audit ATTESTS it rather than assuming it."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    ex = (
        dedup.containment_pairs(sh, CONTAIN_C, CONTAIN_JMAX)
        .select("id_small", "id_big")
        .withColumn("_e", F.lit(1).cast("long"))
    )
    ls = (
        dedup.containment_lsh_pairs(sh, CONTAIN_C, CONTAIN_JMAX, k=CONTAIN_K)
        .select("id_small", "id_big")
        .withColumn("_m", F.lit(1).cast("long"))
    )
    j = ex.join(ls, ["id_small", "id_big"], "full_outer")
    return j.agg(
        F.coalesce(F.sum("_e"), F.lit(0)).alias("n_exact"),
        F.coalesce(F.sum("_m"), F.lit(0)).alias("n_lsh"),
        F.coalesce(F.sum(F.col("_e") * F.col("_m")), F.lit(0)).alias(
            "n_matched"
        ),
        F.expr(
            "CASE WHEN coalesce(sum(_e), 0) = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE coalesce(sum(_e * _m), 0) / sum(_e) END"
        ).alias("recall"),
        F.expr(
            "CASE WHEN coalesce(sum(_m), 0) = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE coalesce(sum(_e * _m), 0) / sum(_m) END"
        ).alias("prec"),
    )


SQL_CONTAINMENT_RECALL_AUDIT = f"""
WITH {SHINGLES_CTE},
{_CONTAIN_LSH_CTES},
xpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
xe AS (
  SELECT id_a, id_b, n_common, sa.n_sh AS na, sb.n_sh AS nb,
         n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard,
         n_common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
  FROM xpairs JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
),
exact_pairs AS (
  SELECT CASE WHEN na <= nb THEN id_a ELSE id_b END AS id_small,
         CASE WHEN na <= nb THEN id_b ELSE id_a END AS id_big
  FROM xe WHERE containment >= {CONTAIN_C} AND jaccard < {CONTAIN_JMAX}
),
lsh_pairs AS (
  SELECT CASE WHEN na <= nb THEN id_a ELSE id_b END AS id_small,
         CASE WHEN na <= nb THEN id_b ELSE id_a END AS id_big
  FROM le WHERE containment >= {CONTAIN_C} AND jaccard < {CONTAIN_JMAX}
),
j AS (
  SELECT CASE WHEN e.id_small IS NOT NULL THEN 1 END AS e,
         CASE WHEN l.id_small IS NOT NULL THEN 1 END AS m
  FROM exact_pairs e FULL JOIN lsh_pairs l
    ON e.id_small = l.id_small AND e.id_big = l.id_big
)
SELECT CAST(coalesce(sum(e), 0) AS BIGINT) AS n_exact,
       CAST(coalesce(sum(m), 0) AS BIGINT) AS n_lsh,
       CAST(coalesce(sum(e * m), 0) AS BIGINT) AS n_matched,
       CASE WHEN coalesce(sum(e), 0) = 0 THEN CAST(NULL AS DOUBLE)
            ELSE coalesce(sum(e * m), 0) / sum(e) END AS recall,
       CASE WHEN coalesce(sum(m), 0) = 0 THEN CAST(NULL AS DOUBLE)
            ELSE coalesce(sum(e * m), 0) / sum(m) END AS prec
FROM j
"""


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit per (lang, shard): pack count, token
    total, nominal capacity, fill factor — the number a training team
    watches (wasted pad tokens are wasted FLOPs). Fill can exceed 1.0
    when a shard's last document straddles its final window boundary
    (offset-assigned packs spill, they do not truncate) — that, too, is
    a number worth seeing."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", F.expr(f"size({text._WORDS})").alias("n_tokens")
    )
    packed = sampling.sequence_packing(
        d, window_tokens=PACK_WINDOW, n_shards=PACK_SHARDS
    )
    return (
        packed.groupBy("lang", "shard")
        .agg(
            F.countDistinct("pack_id").alias("n_packs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
        .select(
            "lang",
            "shard",
            "n_packs",
            "shard_tokens",
            (F.col("n_packs") * PACK_WINDOW).alias("capacity_tokens"),
            (
                F.col("shard_tokens")
                / (F.col("n_packs") * PACK_WINDOW).cast("double")
            ).alias("fill_factor"),
        )
        .orderBy("lang", "shard")
    )


SQL_PACK_EFFICIENCY = f"""
WITH d AS (
  SELECT doc_id, lang, len({_W_SQL}) AS n_tokens,
         {_SQL_PACK_H16} % {PACK_SHARDS} AS shard
  FROM documents
),
w AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
  FROM d
),
p AS (
  SELECT lang, shard, start_offset // {PACK_WINDOW} AS pack_id, n_tokens
  FROM w
)
SELECT lang, CAST(shard AS INTEGER) AS shard,
       CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       CAST(count(DISTINCT pack_id) * {PACK_WINDOW} AS BIGINT)
         AS capacity_tokens,
       sum(n_tokens) / CAST(count(DISTINCT pack_id) * {PACK_WINDOW} AS DOUBLE)
         AS fill_factor
FROM p GROUP BY lang, shard ORDER BY lang, shard
"""


# ---------------------------------------------------------------------------
# audio features over the REAL WAV codec roundtrip
# ---------------------------------------------------------------------------

#: md5 blocks per synthesized clip (16 bytes -> 16 samples each)
AUDIO_BLOCKS = 8
AUDIO_N_SAMPLES = AUDIO_BLOCKS * 16

#: Spark expression: deterministic per-doc PCM clip on the b*257-32768
#: lattice (byte j of md5(text#k) -> one full-range 16-bit sample).
#: Lattice membership is what makes the 8-bit WAV leg exact (audio.py).
_AUDIO_SAMPLES = (
    f"transform(sequence(0, {AUDIO_N_SAMPLES - 1}), i -> "
    "CAST(conv(substring(md5(concat(text, '#', CAST(i div 16 AS STRING))), "
    "(i % 16) * 2 + 1, 2), 16, 10) AS INT) * 257 - 32768)"
)


def q_audio_features_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features over the REAL WAV codec: each document synthesizes
    a deterministic 128-sample PCM clip (md5-derived, full amplitude
    range), is encoded as an actual RIFF/WAVE file, decoded back by the
    chunk-walking parser, and featurized from the DECODED samples
    (operators/audio.audio_feature_table). Even doc_ids ride the 8-bit
    PCM leg (quantize + normalize, exact on the synthesis lattice), odd
    doc_ids ride 16-bit — so ONE value-hashed query attests both sample
    widths plus the RIFF chunk walk.

    The oracle computes the same integer-exact features straight from
    the synthesized sample values with NO codec — any byte the WAV
    encoder or decoder mangles shifts a moment/crossing count and fails
    the value gate: the codec roundtrip itself is driver-attested (the
    same pattern image_dhash_near_dup uses for PNG/JPEG).

    100 TB shape: one Arrow-batched Python crossing, zero shuffles
    beyond the deliberate core-spreading repartition; features are a
    pure row-local map, so the plan scales embarrassingly."""
    from .operators import audio

    docs = load_table(spark, sf_dir, "documents")
    sam = docs.select("doc_id", F.expr(_AUDIO_SAMPLES).alias("samples"))
    return audio.audio_feature_table(sam, codec="mixed").orderBy("doc_id")


_NIBS = "0123456789abcdef"

SQL_AUDIO_FEATURES_WAV = f"""
WITH sam AS (
  SELECT d.doc_id, t.i,
         ((strpos('{_NIBS}', substr(md5(d.text || '#' || (t.i // 16)),
                                    (t.i % 16) * 2 + 1, 1)) - 1) * 16
          + (strpos('{_NIBS}', substr(md5(d.text || '#' || (t.i // 16)),
                                      (t.i % 16) * 2 + 2, 1)) - 1)
         ) * 257 - 32768 AS s
  FROM documents d, range(0, {AUDIO_N_SAMPLES}) t(i)
),
x AS (
  SELECT doc_id, i, s,
         lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM sam
)
SELECT doc_id,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS INTEGER) AS bits,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(max(abs(s)) AS BIGINT) AS peak_abs,
       CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
       CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
       CAST(sum(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (s < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(sum(CASE WHEN s >= 32767 OR s <= -32768 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped,
       CAST(coalesce(min(CASE WHEN abs(s) > 512 THEN i END),
                     {AUDIO_N_SAMPLES}) AS BIGINT) AS lead_silence
FROM x GROUP BY doc_id ORDER BY doc_id
"""


#: audio downsample factor (8 kHz -> 2 kHz)
AUDIO_DS_FACTOR = 4


def q_audio_downsample_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio RESAMPLE as an attested transform: the deterministic PCM
    clip rides encode -> decode -> integer box-downsample 4x
    (operators/audio.downsample_pcm, floor means — exact) -> re-encode
    at the reduced rate -> decode -> features. TWO codec roundtrips
    bracket the resampler; the oracle recomputes the features from
    floor-mean groups of the synthesis formula with no codec, so any
    slip in either WAV pass or the box arithmetic shifts a moment and
    fails the value gate."""
    from .operators import audio

    docs = load_table(spark, sf_dir, "documents")
    sam = docs.select("doc_id", F.expr(_AUDIO_SAMPLES).alias("samples"))
    return audio.audio_downsample_table(sam, AUDIO_DS_FACTOR).orderBy(
        "doc_id"
    )


SQL_AUDIO_DOWNSAMPLE_FEATURES = f"""
WITH sam AS (
  SELECT d.doc_id, t.i,
         ((strpos('{_NIBS}', substr(md5(d.text || '#' || (t.i // 16)),
                                    (t.i % 16) * 2 + 1, 1)) - 1) * 16
          + (strpos('{_NIBS}', substr(md5(d.text || '#' || (t.i // 16)),
                                      (t.i % 16) * 2 + 2, 1)) - 1)
         ) * 257 - 32768 AS s
  FROM documents d, range(0, {AUDIO_N_SAMPLES}) t(i)
),
g AS (
  SELECT doc_id, i // {AUDIO_DS_FACTOR} AS j, sum(s) AS ssum
  FROM sam GROUP BY doc_id, i // {AUDIO_DS_FACTOR}
),
ds AS (
  -- floor division (DuckDB // truncates toward zero; subtract the
  -- positive remainder first so truncation == floor, Python parity)
  SELECT doc_id, j,
         (ssum - ((ssum % {AUDIO_DS_FACTOR} + {AUDIO_DS_FACTOR})
                  % {AUDIO_DS_FACTOR})) // {AUDIO_DS_FACTOR} AS s
  FROM g
),
x AS (
  SELECT doc_id, j, s,
         lag(s) OVER (PARTITION BY doc_id ORDER BY j) AS prev
  FROM ds
)
SELECT doc_id,
       CAST(16 AS INTEGER) AS bits,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(max(abs(s)) AS BIGINT) AS peak_abs,
       CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
       CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
       CAST(sum(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (s < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(sum(CASE WHEN s >= 32767 OR s <= -32768 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped,
       CAST(coalesce(min(CASE WHEN abs(s) > 512 THEN j END),
                     {AUDIO_N_SAMPLES // AUDIO_DS_FACTOR}) AS BIGINT)
         AS lead_silence
FROM x GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# video frame sampling over the REAL AVI/MJPEG container
# ---------------------------------------------------------------------------

VIDEO_MAX_FRAMES = 5  # n_frames in 2..5 (md5-derived)
VIDEO_EVERY_NTH = 2

#: Spark expression: per-doc frame count (2..5) and per-frame 4x4 cell
#: grids (byte j of md5(text@f)); data-dependent fan-out like real video.
_VIDEO_NFRAMES = (
    "(CAST(conv(substring(md5(text), 1, 2), 16, 10) AS INT) % 4) + 2"
)
_VIDEO_FRAMES = (
    f"transform(sequence(0, {_VIDEO_NFRAMES} - 1), f -> "
    "transform(sequence(0, 15), j -> "
    "CAST(conv(substring(md5(concat(text, '@', CAST(f AS STRING))), "
    "j * 2 + 1, 2), 16, 10) AS INT)))"
)


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over a REAL container: each document
    synthesizes 2-5 deterministic 32x32 frames (md5-derived 4x4 flat
    block grids), every frame is encoded as a real baseline JPEG, the
    clip is muxed into a real RIFF AVI (hdrl/movi/idx1), demuxed back by
    the chunk walker, frame-sampled every 2nd frame, JPEG-decoded, and
    featurized from cells read back at block centers
    (operators/multimodal.video_frame_table). Flat blocks are DC-only
    and roundtrip baseline JPEG exactly, so the codec-free oracle
    value-attests the ENTIRE mux/demux/entropy-decode chain — this
    retires the last stubbed leg of the multimodal story (images: PNG +
    JPEG attested; video: AVI/MJPEG attested; audio: WAV attested).

    100 TB shape: one Arrow-batched Python crossing; the 1->N frame
    fan-out happens inside the batch (row-local), never as a join."""
    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    fr = docs.select("doc_id", F.expr(_VIDEO_FRAMES).alias("frames"))
    return multimodal.video_frame_table(
        fr, every_nth=VIDEO_EVERY_NTH
    ).orderBy("doc_id", "frame_idx")


SQL_VIDEO_FRAME_SAMPLE = f"""
WITH nf AS (
  SELECT doc_id, text,
         ((strpos('{_NIBS}', substr(md5(text), 1, 1)) - 1) * 16
          + (strpos('{_NIBS}', substr(md5(text), 2, 1)) - 1)) % 4 + 2
           AS n_frames
  FROM documents
),
fr AS (
  SELECT doc_id, text, n_frames, t.f
  FROM nf, range(0, {VIDEO_MAX_FRAMES + 1}) t(f)
  WHERE t.f < n_frames AND t.f % {VIDEO_EVERY_NTH} = 0
),
cells AS (
  SELECT doc_id, f, n_frames,
         (strpos('{_NIBS}', substr(md5(text || '@' || f),
                                   u.j * 2 + 1, 1)) - 1) * 16
         + (strpos('{_NIBS}', substr(md5(text || '@' || f),
                                     u.j * 2 + 2, 1)) - 1) AS v
  FROM fr, range(0, 16) u(j)
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(n_frames AS INTEGER) AS n_frames,
       CAST(sum(v) AS BIGINT) AS cell_sum,
       CAST(min(v) AS INTEGER) AS cell_min,
       CAST(max(v) AS INTEGER) AS cell_max
FROM cells GROUP BY doc_id, f, n_frames ORDER BY doc_id, frame_idx
"""


# ---------------------------------------------------------------------------
# BPE merge learning (unrolled-SQL oracle, the Lloyd-K-Means pattern)
# ---------------------------------------------------------------------------

BPE_N_MERGES = 4
BPE_MAX_WORDS = 500
BPE_MAX_WORD_LEN = 16


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 BPE merges learned from the corpus (Sennrich et al.
    2016): deterministic top-500 word-frequency vocab (one corpus scan,
    TakeOrderedAndProject — no global sort), then per-iteration pair
    explode -> hash agg -> one-row argmax collect -> higher-order
    aggregate() merge fold. Ties break on (count DESC, lhs, rhs). The
    oracle unrolls the identical 4 rounds in SQL (greedy non-overlap
    selection via gaps-and-islands), so merge choices, tie-breaks, AND
    weighted pair counts are value-hash-checked — an iterative
    algorithm with a full value oracle, like ann_kmeans_clusters."""
    from .operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    return bpe.bpe_learn(
        docs,
        n_merges=BPE_N_MERGES,
        max_words=BPE_MAX_WORDS,
        max_word_len=BPE_MAX_WORD_LEN,
    ).orderBy("rank")


def _bpe_round_sql(r: int) -> str:
    """One unrolled BPE round: pair stats + argmax over s{r}, greedy
    non-overlapping merge selection, rebuild s{r+1}."""
    return f"""
exp{r} AS (
  SELECT word, cnt, unnest(syms) AS sym,
         generate_subscripts(syms, 1) AS i
  FROM s{r}
),
lk{r} AS (
  SELECT word, cnt, i, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
  FROM exp{r}
),
p{r} AS (
  SELECT sym AS lhs, nxt AS rhs, sum(cnt) AS c
  FROM lk{r} WHERE nxt IS NOT NULL GROUP BY sym, nxt
),
b{r} AS (SELECT lhs, rhs, c FROM p{r} ORDER BY c DESC, lhs, rhs LIMIT 1),
cand{r} AS (
  SELECT k.word, k.i FROM lk{r} k, b{r} b
  WHERE k.sym = b.lhs AND k.nxt = b.rhs
),
sel{r} AS (
  SELECT word, i FROM (
    SELECT word, i,
           i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
    FROM cand{r}
  ) t
  QUALIFY (i - min(i) OVER (PARTITION BY word, grp)) % 2 = 0
),
s{r + 1} AS (
  SELECT k.word, k.cnt,
         list(CASE WHEN chosen.i IS NOT NULL THEN b.lhs || b.rhs
                   ELSE k.sym END ORDER BY k.i) AS syms
  FROM lk{r} k
  CROSS JOIN b{r} b
  LEFT JOIN sel{r} chosen ON chosen.word = k.word AND chosen.i = k.i
  LEFT JOIN sel{r} consumed ON consumed.word = k.word
                           AND consumed.i = k.i - 1
  WHERE consumed.i IS NULL
  GROUP BY k.word, k.cnt
)"""


SQL_BPE_MERGES = (
    f"""
WITH w AS (
  SELECT unnest({_W_SQL}) AS word FROM documents
),
v AS (
  SELECT word, count(*) AS cnt FROM w
  WHERE regexp_matches(word, '^[a-z]+$') AND len(word) <= {BPE_MAX_WORD_LEN}
  GROUP BY word ORDER BY cnt DESC, word LIMIT {BPE_MAX_WORDS}
),
s0 AS (
  SELECT word, cnt,
         list_append(list_transform(range(1, len(word) + 1),
                                    i -> substr(word, i, 1)), '</w>') AS syms
  FROM v
),"""
    + ",".join(_bpe_round_sql(r) for r in range(BPE_N_MERGES))
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT CAST({r + 1} AS INTEGER) AS rank, lhs, rhs,"
        f" lhs || rhs AS merged, CAST(c AS BIGINT) AS pair_count FROM b{r}"
        for r in range(BPE_N_MERGES)
    )
    + "\nORDER BY rank"
)


# ---------------------------------------------------------------------------
# audio perceptual near-dup: envelope hash over the REAL WAV roundtrip
# ---------------------------------------------------------------------------

AHASH_HAM_MAX = 2  # 3 bands (11/11/10 bits): pigeonhole-complete


def q_audio_fingerprint_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio perceptual near-dup over the REAL WAV codec: each document's
    deterministic PCM clip rides encode -> decode, the DECODED samples
    produce a 32-bit sign-of-delta envelope hash (32 bins, bit b = bin b
    strictly louder than bin b+1 wrapping — the public Chromaprint-style
    construction kept integer-exact), and pairs at Hamming <= 2 are found
    by pigeonhole banding (3 bands of 11/11/10 bits -> any such pair
    shares an exact band) then verified with bit_count(xor) — COMPLETE
    for the reported radius, never all-pairs.

    The oracle recomputes the hash from the synthesized samples with NO
    codec and brute-forces pairs (validation scale), so the WAV
    roundtrip is value-attested through a second, independent surface
    (the moments of audio_features_wav + the orderings here). Completes
    the modality triple: text MinHash-LSH, image dHash, audio envelope
    hash — all banded, all codec-attested."""
    from .operators import audio

    docs = load_table(spark, sf_dir, "documents")
    # per-WORD synthesis: envelope bin b (4 samples) is controlled by
    # word b alone, so texts differing in one of their first 32 words
    # land at Hamming <= 2 — near-dup signal, not md5 avalanche (the
    # same word->cell design the image dHash grid uses)
    sam = docs.select(
        "doc_id", F.expr(text._WORDS).alias("_w")
    ).select(
        "doc_id",
        F.expr(
            "transform(sequence(0, 127), i -> CAST(conv(substring(md5("
            "CASE WHEN (i div 4) < size(_w) "
            "THEN element_at(_w, CAST(i div 4 AS INT) + 1) "
            "ELSE '' END), (i % 4) * 2 + 1, 2), 16, 10) AS INT) * 257 - 32768)"
        ).alias("samples"),
    )
    fp = audio.audio_fingerprint_table(sam)
    bands = fp.select(
        "doc_id",
        "ahash",
        F.explode(
            F.expr(
                "transform(sequence(0, 2), k -> struct(k AS k, CAST("
                "CASE k WHEN 0 THEN ahash & 2047 "
                "WHEN 1 THEN shiftright(ahash, 11) & 2047 "
                "ELSE shiftright(ahash, 22) & 1023 END AS INT) AS band))"
            )
        ).alias("_b"),
    ).select("doc_id", "ahash", F.col("_b.k").alias("k"), F.col("_b.band").alias("band"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.ahash").bitwiseXOR(F.col("b.ahash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= AHASH_HAM_MAX)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


_FP_WORD = (
    "CASE WHEN (t.i // 4) < len(d.w) THEN d.w[(t.i // 4) + 1] ELSE '' END"
)

SQL_AUDIO_FINGERPRINT_NEAR_DUP = f"""
WITH dw AS (
  SELECT doc_id, {_W_SQL} AS w FROM documents
),
sam AS (
  SELECT d.doc_id, t.i,
         ((strpos('{_NIBS}', substr(md5({_FP_WORD}),
                                    (t.i % 4) * 2 + 1, 1)) - 1) * 16
          + (strpos('{_NIBS}', substr(md5({_FP_WORD}),
                                      (t.i % 4) * 2 + 2, 1)) - 1)
         ) * 257 - 32768 AS s
  FROM dw d, range(0, {AUDIO_N_SAMPLES}) t(i)
),
bins AS (
  SELECT doc_id, i // 4 AS b, sum(abs(s)) AS e
  FROM sam GROUP BY doc_id, i // 4
),
nxt AS (
  SELECT x.doc_id, x.b, x.e, y.e AS e_next
  FROM bins x JOIN bins y
    ON y.doc_id = x.doc_id AND y.b = (x.b + 1) % 32
),
h AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN e > e_next THEN CAST(1 AS BIGINT) << b
                       ELSE 0 END) AS BIGINT) AS ahash
  FROM nxt GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= {AHASH_HAM_MAX}
ORDER BY doc_a, doc_b
"""


def q_bpe_tokenize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY audit: learn the 4 BPE merges (same chain as
    bpe_merges), apply them to EVERY document (vocab and out-of-vocab
    words alike — the merge fold is word-agnostic), and report per-
    (lang, source) compression: base character-symbols vs BPE tokens.
    The number a tokenizer team actually ships: tokens-per-doc under the
    learned vocab.

    The oracle re-learns the merges in unrolled SQL AND re-applies them
    with the gaps-and-islands greedy selection over every distinct word
    — so learn AND apply are both value-hash-checked end to end.

    100 TB shape: apply is per-WORD-TYPE (distinct words, not word
    occurrences) joined back to the corpus occurrence counts broadcast-
    style; the corpus-scale work stays one scan + one hash agg."""
    from .operators import bpe
    from .operators.text import _WORDS

    docs = load_table(spark, sf_dir, "documents")
    merges_df = bpe.bpe_learn(
        docs,
        n_merges=BPE_N_MERGES,
        max_words=BPE_MAX_WORDS,
        max_word_len=BPE_MAX_WORD_LEN,
    )
    merges = [(r["lhs"], r["rhs"]) for r in merges_df.collect()]

    occ = cache_scope.persist(
        docs.select(
            "lang", "source", F.explode(F.expr(_WORDS)).alias("word")
        )
        .filter("word rlike '^[a-z]+$'")
        .groupBy("lang", "source", "word")
        .agg(F.count("*").alias("n_occ"))
        # invocation-scoped persist (r12): feeds the word-type
        # extraction AND the final occurrence join — the corpus explode
        # + rlike + agg ran twice (guide §7.2)
    )
    # per word TYPE: base symbol count and merged token count
    types = occ.select("word").distinct().select(
        "word", F.expr(bpe._CHARS).alias("syms")
    )
    types = types.select("word", F.expr("size(syms)").alias("n_base"), "syms")
    for lhs, rhs in merges:
        types = types.select(
            "word", "n_base",
            F.expr(bpe._merge_expr(lhs, rhs, lhs + rhs)).alias("syms"),
        )
    types = types.select(
        "word", "n_base", F.expr("size(syms)").alias("n_bpe")
    )
    return (
        occ.join(F.broadcast(types), "word")
        .groupBy("lang", "source")
        .agg(
            F.sum(F.col("n_occ") * F.col("n_base")).alias("base_symbols"),
            F.sum(F.col("n_occ") * F.col("n_bpe")).alias("bpe_tokens"),
            F.sum("n_occ").alias("n_words"),
        )
        .orderBy("lang", "source")
    )


def _bpe_apply_round_sql(r: int) -> str:
    """One unrolled APPLY round over the full word-type table a{r},
    merging the pair learned by b{r} (from the vocab chain)."""
    return f"""
aexp{r} AS (
  SELECT word, unnest(syms) AS sym, generate_subscripts(syms, 1) AS i
  FROM a{r}
),
alk{r} AS (
  SELECT word, i, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
  FROM aexp{r}
),
acand{r} AS (
  SELECT k.word, k.i FROM alk{r} k, b{r} b
  WHERE k.sym = b.lhs AND k.nxt = b.rhs
),
asel{r} AS (
  SELECT word, i FROM (
    SELECT word, i,
           i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
    FROM acand{r}
  ) t
  QUALIFY (i - min(i) OVER (PARTITION BY word, grp)) % 2 = 0
),
a{r + 1} AS (
  SELECT k.word,
         list(CASE WHEN chosen.i IS NOT NULL THEN b.lhs || b.rhs
                   ELSE k.sym END ORDER BY k.i) AS syms
  FROM alk{r} k
  CROSS JOIN b{r} b
  LEFT JOIN asel{r} chosen ON chosen.word = k.word AND chosen.i = k.i
  LEFT JOIN asel{r} consumed ON consumed.word = k.word
                            AND consumed.i = k.i - 1
  WHERE consumed.i IS NULL
  GROUP BY k.word
)"""


SQL_BPE_TOKENIZE_AUDIT = (
    f"""
WITH w AS (
  SELECT unnest({_W_SQL}) AS word FROM documents
),
v AS (
  SELECT word, count(*) AS cnt FROM w
  WHERE regexp_matches(word, '^[a-z]+$') AND len(word) <= {BPE_MAX_WORD_LEN}
  GROUP BY word ORDER BY cnt DESC, word LIMIT {BPE_MAX_WORDS}
),
s0 AS (
  SELECT word, cnt,
         list_append(list_transform(range(1, len(word) + 1),
                                    i -> substr(word, i, 1)), '</w>') AS syms
  FROM v
),"""
    + ",".join(_bpe_round_sql(r) for r in range(BPE_N_MERGES))
    + """,
occ AS (
  SELECT lang, source, word, count(*) AS n_occ FROM (
    SELECT d.lang, d.source, u.word
    FROM (SELECT lang, source, {W} AS wl FROM documents) d,
         unnest(d.wl) u(word)
  ) WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY lang, source, word
),
a0 AS (
  SELECT word,
         list_append(list_transform(range(1, len(word) + 1),
                                    i -> substr(word, i, 1)), '</w>') AS syms
  FROM (SELECT DISTINCT word FROM occ)
),""".replace("{W}", _W_SQL)
    + ",".join(_bpe_apply_round_sql(r) for r in range(BPE_N_MERGES))
    + f"""
SELECT o.lang, o.source,
       CAST(sum(o.n_occ * a.syms0) AS BIGINT) AS base_symbols,
       CAST(sum(o.n_occ * len(f.syms)) AS BIGINT) AS bpe_tokens,
       CAST(sum(o.n_occ) AS BIGINT) AS n_words
FROM occ o
JOIN (SELECT word, len(syms) AS syms0 FROM a0) a ON a.word = o.word
JOIN a{BPE_N_MERGES} f ON f.word = o.word
GROUP BY o.lang, o.source ORDER BY o.lang, o.source
"""
)


# ---------------------------------------------------------------------------
# Product quantization audit (unrolled-Lloyd oracle x m subspaces)
# ---------------------------------------------------------------------------

PQ_M = 8
PQ_SUB_DIM = 8
PQ_K = 8
PQ_ITERS = 2


@cache_scope.session_view("pq_index")
def _pq_fit(spark: SparkSession, sf_dir: str):
    """The PQ index (codes, books) as a session view: the two PQ
    consumers below measure their SEARCH/AUDIT cost, not a refit per
    query; bench keeps the one-time fit visible as its own
    `materialize_pq_index` entry."""
    emb = load_table(spark, sf_dir, "embeddings")
    # checkpoint_books: this view materializes codes and books in
    # SEPARATE actions — without it each action re-runs the whole
    # Lloyd chain (bench row materialize_pq_index 3.7 -> 1.7 s)
    return similarity.pq_fit_encode(
        emb, m=PQ_M, sub_dim=PQ_SUB_DIM, k=PQ_K, iters=PQ_ITERS,
        checkpoint_books=True,
    )


def q_pq_codebook_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization index audit (Jégou et al. 2011): train m=4
    per-subspace codebooks with the deterministic scaled-int Lloyd
    (bit-identical at any parallelism), encode every vector, and report
    per (subspace, code): population, worst in-cell quantization
    distance, centroid norm. PQ is the embedding-compression standard a
    100 TB ANN deployment actually runs (m*log2(k) bits per vector);
    the oracle unrolls all m independent Lloyd chains in SQL — the
    ann_kmeans_clusters contract, times four."""
    from .operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_codebook_audit(
        emb, m=PQ_M, sub_dim=PQ_SUB_DIM, k=PQ_K, iters=PQ_ITERS,
        fit=_pq_fit(spark, sf_dir),
    )


def _sql_pq_subspace(
    j: int, k: int, iters: int, sub_dim: int, vsrc: str | None = None
) -> str:
    """Unrolled Lloyd for subspace j over the sliced vector (prefix
    s{j}_) ending with s{j}_audit(subspace, code, n_vecs, max_d2,
    centroid_norm). ``vsrc`` overrides the (id, vq) source SELECT —
    the IVF-PQ oracle feeds residual slices through the same chain."""
    lo = j * sub_dim + 1
    hi = (j + 1) * sub_dim
    p = f"s{j}_"
    vq = (
        f"list_transform(embedding[{lo}:{hi}], c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )

    def d2(c_ref: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {sub_dim + 1}), i ->"
            f" (CAST(vq[i] AS DOUBLE) - {c_ref}[i])"
            f" * (CAST(vq[i] AS DOUBLE) - {c_ref}[i])))"
        )

    if vsrc is None:
        vsrc = f"SELECT vec_id AS id, {vq} AS vq FROM embeddings"
    # seeds: the k smallest ids, ordinal = rank by id — the
    # pq_fit_encode convention, valid for ANY id space (equals the old
    # `cluster = id WHERE id < k` form on the dense fixture ids)
    ctes = [
        f"{p}v AS MATERIALIZED ({vsrc})",
        f"""{p}c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cluster,
         list_transform(vq, x -> CAST(x AS DOUBLE)) AS c
  FROM (SELECT id, vq FROM {p}v ORDER BY id LIMIT {k}))""",
    ]
    prev = f"{p}c0"
    for it in range(1, iters + 1):
        ctes.append(f"""{p}a{it} AS MATERIALIZED (
  SELECT id, vq, cluster FROM (
    SELECT v.id, v.vq, t.cluster,
           row_number() OVER (PARTITION BY v.id
                              ORDER BY {d2("t.c")}, t.cluster) AS rn
    FROM {p}v v, {prev} t) WHERE rn = 1)""")
        ctes.append(f"""{p}e{it} AS (
  SELECT cluster, g.pos, vq[g.pos + 1] AS comp
  FROM {p}a{it}, LATERAL (SELECT unnest(range(0, {sub_dim})) AS pos) g)""")
        ctes.append(f"""{p}m{it} AS (
  SELECT cluster, pos, CAST(sum(comp) AS DOUBLE) / count(*) AS m
  FROM {p}e{it} GROUP BY cluster, pos)""")
        ctes.append(
            f"{p}c{it} AS (SELECT cluster, list(m ORDER BY pos) AS c"
            f" FROM {p}m{it} GROUP BY cluster)"
        )
        prev = f"{p}c{it}"
    ctes.append(f"""{p}af AS MATERIALIZED (
  SELECT id, vq, cluster, d2 FROM (
    SELECT v.id, v.vq, t.cluster, {d2("t.c")} AS d2,
           row_number() OVER (PARTITION BY v.id
                              ORDER BY {d2("t.c")}, t.cluster) AS rn
    FROM {p}v v, {prev} t) WHERE rn = 1)""")
    ctes.append(f"""{p}audit AS (
  SELECT CAST({j} AS INTEGER) AS subspace,
         a.cluster AS code,
         CAST(count(*) AS BIGINT) AS n_vecs,
         max(a.d2) AS max_d2,
         max(n.centroid_norm) AS centroid_norm
  FROM {p}af a JOIN (
    SELECT cluster, sqrt(list_sum(list_transform(c, x ->
             (x / 1000000000.0) * (x / 1000000000.0)))) AS centroid_norm
    FROM {prev}) n ON n.cluster = a.cluster
  GROUP BY a.cluster)""")
    return ",\n".join(ctes)


SQL_PQ_CODEBOOK_AUDIT = (
    "WITH "
    + ",\n".join(
        _sql_pq_subspace(j, PQ_K, PQ_ITERS, PQ_SUB_DIM) for j in range(PQ_M)
    )
    + "\n"
    + "\nUNION ALL ".join(f"SELECT * FROM s{j}_audit" for j in range(PQ_M))
    + "\nORDER BY subspace, code"
)


def q_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ asymmetric-distance search vs the exact L2
    baseline, per query — the measured-quality companion every
    compressed index needs (the ann_recall_audit contract, for PQ).
    ADC distances are m LUT lookups added in FIXED subspace order, so
    both rankings are bit-portable and the overlap is value-hashed."""
    from .operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.l2_topk(emb, ANN_QUERY_IDS, k=10).select(
        "q_id", "vec_id"
    )
    approx = similarity.pq_adc_topk(
        emb, ANN_QUERY_IDS, k=10, m=PQ_M, sub_dim=PQ_SUB_DIM,
        kc=PQ_K, iters=PQ_ITERS, fit=_pq_fit(spark, sf_dir),
    ).select("q_id", "vec_id")
    return _recall_at_10(exact, approx).orderBy("q_id")


def _sql_pq_adc_recall() -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    body = ",\n".join(
        _sql_pq_subspace(j, PQ_K, PQ_ITERS, PQ_SUB_DIM) for j in range(PQ_M)
    )
    luts = ",\n".join(
        f"""lut{j} AS (
  SELECT v.id AS qid, t.cluster,
         list_sum(list_transform(range(1, {PQ_SUB_DIM + 1}), i ->
           (CAST(v.vq[i] AS DOUBLE) - t.c[i])
           * (CAST(v.vq[i] AS DOUBLE) - t.c[i]))) AS d2
  FROM s{j}_v v, s{j}_c{PQ_ITERS} t WHERE v.id IN ({ids}))"""
        for j in range(PQ_M)
    )
    vq = (
        "list_transform(embedding, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )
    code_cols = ", ".join(f"a{j}.cluster AS c{j}" for j in range(PQ_M))
    code_joins = "\n  ".join(
        f"JOIN s{j}_af a{j} ON a{j}.id = a0.id" for j in range(1, PQ_M)
    )
    adc_sum = "l0.d2"
    for j in range(1, PQ_M):
        adc_sum = f"({adc_sum} + l{j}.d2)"
    lut_joins = "\n  ".join(
        f"JOIN lut{j} l{j} ON l{j}.cluster = c.c{j} AND l{j}.qid = l0.qid"
        for j in range(1, PQ_M)
    )
    return f"""
WITH {body},
{luts},
pqcodes AS (
  SELECT a0.id, {code_cols}
  FROM s0_af a0
  {code_joins}
),
adc AS (
  SELECT l0.qid, c.id,
         {adc_sum} AS adc
  FROM pqcodes c
  JOIN lut0 l0 ON l0.cluster = c.c0
  {lut_joins}
  WHERE c.id <> l0.qid
),
atop AS (
  SELECT qid, id FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid
                                       ORDER BY adc, id) AS rn
    FROM adc) WHERE rn <= 10
),
fullv AS MATERIALIZED (SELECT vec_id AS id, {vq} AS vq FROM embeddings),
ed AS (
  SELECT q.id AS qid, x.id,
         list_sum(list_transform(range(1, {PQ_M * PQ_SUB_DIM + 1}), i ->
           (CAST(x.vq[i] AS DOUBLE) - CAST(q.vq[i] AS DOUBLE))
           * (CAST(x.vq[i] AS DOUBLE) - CAST(q.vq[i] AS DOUBLE)))) AS d2
  FROM fullv x, fullv q
  WHERE q.id IN ({ids}) AND x.id <> q.id
),
etop AS (
  SELECT qid, id FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid
                                       ORDER BY d2, id) AS rn
    FROM ed) WHERE rn <= 10
),
ov AS (
  SELECT e.qid, count(a.id) AS n_overlap
  FROM etop e LEFT JOIN atop a ON a.qid = e.qid AND a.id = e.id
  GROUP BY e.qid
)
SELECT qid AS q_id,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       n_overlap / 10.0 AS recall_at_10
FROM ov ORDER BY q_id
"""


SQL_PQ_ADC_RECALL = _sql_pq_adc_recall()


# ---------------------------------------------------------------------------
# deterministic weighted sampling (replication race)
# ---------------------------------------------------------------------------

WSAMPLE_K = 10


def _wsample_weight() -> F.Column:
    """Integer tickets: longer documents race with more lottery draws
    (the quality/length-weighted sampling knob of a data recipe)."""
    return (
        F.lit(1)
        + (F.col("n_chars") >= 100).cast("int")
        + (F.col("n_chars") >= 200).cast("int")
        + (F.col("n_chars") >= 400).cast("int")
    )


def q_weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement, 10 docs per
    language, weight = 1..4 by length bucket (the replication race —
    see operators/sampling.weighted_sample for the two-phase top-k
    scale shape)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.weighted_sample(
        docs, k=WSAMPLE_K, weight=_wsample_weight(), group_col="lang"
    )


SQL_WEIGHTED_SAMPLE_PER_LANG = f"""
WITH d AS (
  SELECT lang, doc_id,
         1 + CAST(n_chars >= 100 AS INT) + CAST(n_chars >= 200 AS INT)
           + CAST(n_chars >= 400 AS INT) AS weight
  FROM documents
),
keyed AS (
  SELECT lang, doc_id, weight,
         list_max(list_transform(range(0, weight),
           r -> md5('wsample:' || CAST(doc_id AS VARCHAR) || ':'
                    || CAST(r AS VARCHAR)))) AS sample_key
  FROM d WHERE weight >= 1
)
SELECT lang,
       CAST(row_number() OVER (PARTITION BY lang
                               ORDER BY sample_key DESC, doc_id) AS INTEGER)
         AS rank,
       doc_id, weight, sample_key
FROM keyed
QUALIFY rank <= {WSAMPLE_K}
ORDER BY lang, rank
"""


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + product-quantized residuals (FAISS IVFPQ shape)
# ---------------------------------------------------------------------------

IVFPQ_N_PROBE = 3


def q_ivfpq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF-ADC search over the IVF-PQ residual index vs
    the exact L2 baseline, per query — one value-hashed row per query
    attests the ENTIRE pipeline: coarse Lloyd, centroid grid
    quantization, shared residual codebooks, probe ranking and the
    LUT-summed asymmetric distances (operators/similarity.
    ivfpq_adc_topk)."""
    from .operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.l2_topk(emb, ANN_QUERY_IDS, k=10).select(
        "q_id", "vec_id"
    )
    approx = similarity.ivfpq_adc_topk(
        emb, ANN_QUERY_IDS, k=10, n_cells=KMEANS_K,
        coarse_iters=KMEANS_ITERS, m=PQ_M, sub_dim=PQ_SUB_DIM,
        kpq=PQ_K, pq_iters=PQ_ITERS, n_probe=IVFPQ_N_PROBE,
    ).select("q_id", "vec_id")
    return _recall_at_10(exact, approx).orderBy("q_id")


def _sql_ivfpq_recall(
    dim: int = 64, shortlist_k: int = 10, rerank: bool = False
) -> str:
    """Unrolled IVF-PQ search oracle; with ``rerank`` the ADC pass
    proposes a ``shortlist_k`` candidate set and exact L2 re-ranks it
    before the recall join (the two-stage serving pattern)."""
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    coarse, last = _sql_kmeans_ctes(KMEANS_K, KMEANS_ITERS, dim)
    # residual PQ chains ride the SAME unrolled-Lloyd generator as plain
    # PQ, fed residual slices (exact BIGINTs in shared x1e9 units)
    chains = ",\n".join(
        _sql_pq_subspace(
            j, PQ_K, PQ_ITERS, PQ_SUB_DIM,
            vsrc=(
                f"SELECT id, r[{j * PQ_SUB_DIM + 1}:{(j + 1) * PQ_SUB_DIM}]"
                " AS vq FROM res"
            ),
        )
        for j in range(PQ_M)
    )
    sq = "(CAST(qr.r[{lo} + i - 1] AS DOUBLE) - t.c[i])"
    luts = ",\n".join(
        f"""lut{j} AS (
  SELECT qr.qid, qr.cell, t.cluster,
         list_sum(list_transform(range(1, {PQ_SUB_DIM + 1}), i ->
           {sq.format(lo=j * PQ_SUB_DIM + 1)}
           * {sq.format(lo=j * PQ_SUB_DIM + 1)})) AS d2
  FROM qres qr, s{j}_c{PQ_ITERS} t)"""
        for j in range(PQ_M)
    )
    code_cols = ", ".join(f"a{j}.cluster AS c{j}" for j in range(PQ_M))
    code_joins = "\n  ".join(
        f"JOIN s{j}_af a{j} ON a{j}.id = a0.id" for j in range(1, PQ_M)
    )
    adc_sum = "l0.d2"
    for j in range(1, PQ_M):
        adc_sum = f"({adc_sum} + l{j}.d2)"
    lut_joins = "\n  ".join(
        f"JOIN lut{j} l{j} ON l{j}.cluster = c.c{j} AND l{j}.qid = cd.qid"
        f" AND l{j}.cell = cd.cell"
        for j in range(1, PQ_M)
    )
    vq = (
        "list_transform(embedding, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )
    return f"""
WITH {coarse},
cqt AS (
  SELECT cluster AS cell,
         list_transform(c, x -> CAST(floor(x + 0.5) AS BIGINT)) AS cq
  FROM {last}),
res AS MATERIALIZED (
  SELECT v.id, a.cluster AS cell,
         list_transform(range(1, {dim + 1}), i -> v.vq[i] - q.cq[i]) AS r
  FROM v JOIN af a ON a.id = v.id JOIN cqt q ON q.cell = a.cluster),
{chains},
qv AS (SELECT id AS qid, vq FROM v WHERE id IN ({ids})),
qcd AS (
  SELECT qv.qid, t.cell,
         list_sum(list_transform(range(1, {dim + 1}), i ->
           (CAST(qv.vq[i] AS DOUBLE) - CAST(t.cq[i] AS DOUBLE))
           * (CAST(qv.vq[i] AS DOUBLE) - CAST(t.cq[i] AS DOUBLE)))) AS d2
  FROM qv, cqt t),
probes AS (
  SELECT qid, cell FROM (
    SELECT qid, cell, row_number() OVER (PARTITION BY qid
                                         ORDER BY d2, cell) AS rn
    FROM qcd) WHERE rn <= {IVFPQ_N_PROBE}),
qres AS (
  SELECT p.qid, p.cell,
         list_transform(range(1, {dim + 1}), i -> qv.vq[i] - t.cq[i]) AS r
  FROM probes p JOIN qv ON qv.qid = p.qid JOIN cqt t ON t.cell = p.cell),
{luts},
cd AS (
  SELECT p.qid, a.id, a.cluster AS cell
  FROM probes p JOIN af a ON a.cluster = p.cell AND a.id != p.qid),
pqcodes AS (
  SELECT a0.id, {code_cols}
  FROM s0_af a0
  {code_joins}
),
adc AS (
  SELECT cd.qid, cd.id, {adc_sum} AS adc
  FROM cd
  JOIN pqcodes c ON c.id = cd.id
  JOIN lut0 l0 ON l0.cluster = c.c0 AND l0.qid = cd.qid AND l0.cell = cd.cell
  {lut_joins}
),
atop AS (
  SELECT qid, id FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid
                                       ORDER BY adc, id) AS rn
    FROM adc) WHERE rn <= {shortlist_k if rerank else 10}
),
fullv AS MATERIALIZED (SELECT vec_id AS id, {vq} AS vq FROM embeddings),
{'''rr AS (
  SELECT a.qid, a.id,
         list_sum(list_transform(range(1, ''' + str(dim + 1) + '''), i ->
           (CAST(x.vq[i] AS DOUBLE) - CAST(q.vq[i] AS DOUBLE))
           * (CAST(x.vq[i] AS DOUBLE) - CAST(q.vq[i] AS DOUBLE)))) AS d2
  FROM atop a JOIN fullv x ON x.id = a.id JOIN fullv q ON q.id = a.qid
),
rtop AS (
  SELECT qid, id FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid
                                       ORDER BY d2, id) AS rn
    FROM rr) WHERE rn <= 10
),''' if rerank else ''}
ed AS (
  SELECT q.id AS qid, x.id,
         list_sum(list_transform(range(1, {dim + 1}), i ->
           (CAST(x.vq[i] AS DOUBLE) - CAST(q.vq[i] AS DOUBLE))
           * (CAST(x.vq[i] AS DOUBLE) - CAST(q.vq[i] AS DOUBLE)))) AS d2
  FROM fullv x, fullv q
  WHERE q.id IN ({ids}) AND x.id <> q.id
),
etop AS (
  SELECT qid, id FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid
                                       ORDER BY d2, id) AS rn
    FROM ed) WHERE rn <= 10
),
ov AS (
  SELECT e.qid, count(a.id) AS n_overlap
  FROM etop e LEFT JOIN {'rtop' if rerank else 'atop'} a
    ON a.qid = e.qid AND a.id = e.id
  GROUP BY e.qid
)
SELECT qid AS q_id,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       n_overlap / 10.0 AS recall_at_10
FROM ov ORDER BY q_id
"""


SQL_IVFPQ_ADC_RECALL = _sql_ivfpq_recall()
IVFPQ_SHORTLIST_K = 50
SQL_IVFPQ_RERANK_RECALL = _sql_ivfpq_recall(
    shortlist_k=IVFPQ_SHORTLIST_K, rerank=True
)


def q_ivfpq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of two-stage serving (IVF-ADC shortlist of 50, exact
    L2 re-rank) vs the exact baseline — the measured proof that the
    rerank stage recovers what 24-bit codes lose while touching raw
    vectors for only 50 candidates per query
    (operators/similarity.ivfpq_rerank_topk)."""
    from .operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.l2_topk(emb, ANN_QUERY_IDS, k=10).select(
        "q_id", "vec_id"
    )
    approx = similarity.ivfpq_rerank_topk(
        emb, ANN_QUERY_IDS, k=10, shortlist_k=IVFPQ_SHORTLIST_K,
        n_cells=KMEANS_K, coarse_iters=KMEANS_ITERS, m=PQ_M,
        sub_dim=PQ_SUB_DIM, kpq=PQ_K, pq_iters=PQ_ITERS,
        n_probe=IVFPQ_N_PROBE,
    ).select("q_id", "vec_id")
    return _recall_at_10(exact, approx).orderBy("q_id")


# ---------------------------------------------------------------------------
# frozen-codebook staleness audit (when-to-retrain signal)
# ---------------------------------------------------------------------------

STALE_TRAIN_MOD = 5  # train on vec_id % 5 != 0 (80%), absorb the rest


def q_pq_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-error drift of PQ codebooks frozen on an 80% train
    slice vs the later-arriving 20%: the retrain trigger a production
    compressed index monitors (operators/similarity.pq_staleness_audit
    — exact BIGINT errors against grid-quantized centroids, so the
    means and ratio are single-divide doubles)."""
    from .operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_staleness_audit(
        emb,
        train_pred=F.col("vec_id") % STALE_TRAIN_MOD != 0,
        m=PQ_M, sub_dim=PQ_SUB_DIM, k=PQ_K, iters=PQ_ITERS,
    )


def _sql_pq_staleness() -> str:
    def slice_vq(j: int) -> str:
        lo, hi = j * PQ_SUB_DIM + 1, (j + 1) * PQ_SUB_DIM
        return (
            f"list_transform(embedding[{lo}:{hi}], c ->"
            " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
        )

    chains = ",\n".join(
        _sql_pq_subspace(
            j, PQ_K, PQ_ITERS, PQ_SUB_DIM,
            vsrc=(
                f"SELECT vec_id AS id, {slice_vq(j)} AS vq FROM embeddings"
                f" WHERE vec_id % {STALE_TRAIN_MOD} != 0"
            ),
        )
        for j in range(PQ_M)
    )
    e_expr = (
        f"list_sum(list_transform(range(1, {PQ_SUB_DIM + 1}), i ->"
        " CAST(a.vq[i] - b.cq[i] AS HUGEINT)"
        " * CAST(a.vq[i] - b.cq[i] AS HUGEINT)))"
    )
    parts = []
    for j in range(PQ_M):
        parts.append(f"""bq{j} AS (
  SELECT cluster,
         list_transform(c, x -> CAST(floor(x + 0.5) AS BIGINT)) AS cq
  FROM s{j}_c{PQ_ITERS}),
av{j} AS (
  SELECT vec_id AS id,
         CASE WHEN vec_id % {STALE_TRAIN_MOD} != 0 THEN 1 ELSE 0 END
           AS is_train,
         {slice_vq(j)} AS vq
  FROM embeddings),
ne{j} AS (
  SELECT id, is_train, e FROM (
    SELECT id, is_train, e,
           row_number() OVER (PARTITION BY id ORDER BY e, cluster) AS rn
    FROM (SELECT a.id, a.is_train, b.cluster, {e_expr} AS e
          FROM av{j} a, bq{j} b)) WHERE rn = 1),
st{j} AS (
  SELECT CAST({j} AS INTEGER) AS subspace,
         CAST(sum(is_train) AS BIGINT) AS n_train,
         CAST(sum(1 - is_train) AS BIGINT) AS n_new,
         sum(CASE WHEN is_train = 1 THEN e ELSE 0 END) AS et,
         sum(CASE WHEN is_train = 0 THEN e ELSE 0 END) AS en
  FROM ne{j})""")
    mt = f"{{btd_et}} / CAST(n_train AS DOUBLE)"
    mn = f"{{btd_en}} / CAST(n_new AS DOUBLE)"
    from .operators.decimate import big_to_double_duck

    mt = mt.format(btd_et=big_to_double_duck("et"))
    mn = mn.format(btd_en=big_to_double_duck("en"))
    final = "\nUNION ALL ".join(f"SELECT * FROM st{j}" for j in range(PQ_M))
    return f"""
WITH {chains},
{",".join(parts)}
SELECT subspace, n_train, n_new,
       CASE WHEN n_train = 0 THEN CAST(NULL AS DOUBLE)
            ELSE {mt} END AS mean_qerr_train,
       CASE WHEN n_new = 0 THEN CAST(NULL AS DOUBLE)
            ELSE {mn} END AS mean_qerr_new,
       CASE WHEN n_train = 0 OR n_new = 0 OR et = 0
            THEN CAST(NULL AS DOUBLE)
            ELSE ({mn}) / ({mt}) END AS drift_ratio
FROM ({final})
ORDER BY subspace
"""


SQL_PQ_STALENESS_AUDIT = _sql_pq_staleness()


# ---------------------------------------------------------------------------
# dimension-budget (Matryoshka-style truncation) recall audit
# ---------------------------------------------------------------------------

MRL_DIMS = (8, 16, 32)


def q_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding dimension-budget audit (the Matryoshka-representation
    question): recall@10 of exact L2 search over only the FIRST d
    dimensions vs the full 64-dim baseline, per (d, query). What a
    retrieval team reads before cutting storage/FLOPs 2-8x by
    truncating vectors — measured, not assumed, exactly like the
    ann/lsh/pq recall audits. Truncated search reuses l2_topk on the
    sliced column; both rankings are deterministic, so every recall is
    value-hashed."""
    from .operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.l2_topk(emb, ANN_QUERY_IDS, k=10).select(
        "q_id", "vec_id"
    )
    outs = []
    for d in MRL_DIMS:
        sliced = emb.select(
            "vec_id", F.expr(f"slice(embedding, 1, {d})").alias("embedding")
        )
        approx = similarity.l2_topk(sliced, ANN_QUERY_IDS, k=10).select(
            "q_id", "vec_id"
        )
        outs.append(_recall_at_10(exact, approx, F.lit(d).alias("dims")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("dims", "q_id")


def _sql_dim_truncation() -> str:
    vq = (
        "list_transform(embedding, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )

    def topk(dim: int, name: str) -> str:
        return f"""{name}d AS (
  SELECT q.id AS qid, x.id,
         list_sum(list_transform(range(1, {dim + 1}), i ->
           (CAST(x.vq[i] AS DOUBLE) - CAST(q.vq[i] AS DOUBLE))
           * (CAST(x.vq[i] AS DOUBLE) - CAST(q.vq[i] AS DOUBLE)))) AS d2
  FROM fullv x, fullv q
  WHERE q.id IN ({_IDS}) AND x.id <> q.id
),
{name} AS (
  SELECT qid, id FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid
                                       ORDER BY d2, id) AS rn
    FROM {name}d) WHERE rn <= 10
)"""

    parts = [f"fullv AS (SELECT vec_id AS id, {vq} AS vq FROM embeddings)"]
    parts.append(topk(64, "etop"))
    sels = []
    for d in MRL_DIMS:
        parts.append(topk(d, f"t{d}"))
        sels.append(f"""
SELECT CAST({d} AS INTEGER) AS dims, e.qid AS q_id,
       CAST(count(a.id) AS BIGINT) AS n_overlap,
       count(a.id) / 10.0 AS recall_at_10
FROM etop e LEFT JOIN t{d} a ON a.qid = e.qid AND a.id = e.id
GROUP BY e.qid""")
    return (
        "WITH " + ",\n".join(parts) + "\nUNION ALL".join(sels)
        + "\nORDER BY dims, q_id"
    )


SQL_DIM_TRUNCATION_RECALL = _sql_dim_truncation()


def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TWO principal components + Rayleigh eigenvalues + query
    projections over the embedding corpus
    (operators/similarity.pca_top_component): the whitening/compression
    directions a pipeline measures before truncating or quantizing
    vectors. Distributed exact scatter matrix (one scan, 64² DECIMAL
    sums), bounded driver-side power iteration + Hotelling deflation
    with fixed fold order — the oracle unrolls the SAME iterations over
    the SAME exact integers in SQL, so every one of the 140 output
    doubles is bit-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pca_top_component(emb, query_ids=ANN_QUERY_IDS)


def _sql_pca_top_component(dim: int = 64, iters: int = 2) -> str:
    assert iters == 2, "oracle unrolls exactly two power iterations"
    from .operators.decimate import big_to_double_duck

    vq = (
        "list_transform(embedding, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )
    rng = f"range(1, {dim + 1})"
    return f"""
WITH fullv AS (SELECT vec_id AS id, {vq} AS vq FROM embeddings),
ex AS (
  SELECT id, g.i, vq[g.i] AS x
  FROM fullv, (SELECT unnest(generate_series(1, {dim})) AS i) g
),
s1 AS (SELECT i, sum(CAST(x AS HUGEINT)) AS sx FROM ex GROUP BY i),
s2 AS (
  SELECT a.i, b.i AS j, count(*) AS n,
         sum(CAST(a.x AS HUGEINT) * b.x) AS sxx
  FROM ex a JOIN ex b ON a.id = b.id
  GROUP BY a.i, b.i
),
sm AS (
  SELECT s2.i, s2.j,
         {big_to_double_duck("(CAST(n AS HUGEINT) * sxx - sa.sx * sb.sx)")}
           AS s
  FROM s2 JOIN s1 sa ON sa.i = s2.i JOIN s1 sb ON sb.i = s2.j
),
srow AS (SELECT i, list(s ORDER BY j) AS sl FROM sm GROUP BY i),
w1 AS (
  -- v0 = ones: w1_i = left fold of S_ij * 1.0 in ascending j
  SELECT i, list_sum(list_transform(sl, s -> s * 1.0)) AS w FROM srow
),
w1l AS (SELECT list(w ORDER BY i) AS wl FROM w1),
w2 AS (
  SELECT srow.i,
         list_sum(list_transform({rng}, j -> srow.sl[j] * w1l.wl[j])) AS w
  FROM srow, w1l
),
w2l AS (SELECT list(w ORDER BY i) AS wl2 FROM w2),
st AS (
  SELECT w1l.wl AS wl, w2l.wl2 AS wl2,
         list_sum(list_transform({rng}, j -> w2l.wl2[j] * w1l.wl[j]))
           / list_sum(list_transform({rng}, j -> w1l.wl[j] * w1l.wl[j]))
           AS lam,
         sqrt(list_sum(list_transform({rng}, j -> w2l.wl2[j] * w2l.wl2[j])))
           AS nrm
  FROM w1l, w2l
),
-- Hotelling deflation: S' = S - lam * u u^T (u recomputed per element
-- as wl2[i]/nrm — identical doubles, same multiply order as Python)
s2row AS (
  SELECT srow.i,
         list_transform({rng}, j -> srow.sl[j]
           - st.lam * (st.wl2[srow.i] / st.nrm) * (st.wl2[j] / st.nrm))
           AS sl
  FROM srow, st
),
x1 AS (SELECT i, list_sum(list_transform(sl, s -> s * 1.0)) AS w FROM s2row),
x1l AS (SELECT list(w ORDER BY i) AS wl FROM x1),
x2 AS (
  SELECT s2row.i,
         list_sum(list_transform({rng}, j -> s2row.sl[j] * x1l.wl[j])) AS w
  FROM s2row, x1l
),
x2l AS (SELECT list(w ORDER BY i) AS wl2 FROM x2),
st2 AS (
  SELECT x2l.wl2 AS wl2,
         list_sum(list_transform({rng}, j -> x2l.wl2[j] * x1l.wl[j]))
           / list_sum(list_transform({rng}, j -> x1l.wl[j] * x1l.wl[j]))
           AS lam,
         sqrt(list_sum(list_transform({rng}, j -> x2l.wl2[j] * x2l.wl2[j])))
           AS nrm
  FROM x1l, x2l
)
SELECT kind, i, value FROM (
  SELECT 'component1' AS kind, CAST(g.j AS INTEGER) AS i,
         st.wl2[g.j] / st.nrm AS value
  FROM st, (SELECT unnest(generate_series(1, {dim})) AS j) g
  UNION ALL
  SELECT 'component2', CAST(g.j AS INTEGER), st2.wl2[g.j] / st2.nrm
  FROM st2, (SELECT unnest(generate_series(1, {dim})) AS j) g
  UNION ALL
  SELECT 'lambda', 1, lam FROM st
  UNION ALL
  SELECT 'lambda', 2, lam FROM st2
  UNION ALL
  SELECT 'projection1', CAST(f.id AS INTEGER),
         list_sum(list_transform({rng},
           j -> CAST(f.vq[j] AS DOUBLE) * (st.wl2[j] / st.nrm)))
  FROM fullv f, st WHERE f.id IN ({_IDS})
  UNION ALL
  SELECT 'projection2', CAST(f.id AS INTEGER),
         list_sum(list_transform({rng},
           j -> CAST(f.vq[j] AS DOUBLE) * (st2.wl2[j] / st2.nrm)))
  FROM fullv f, st2 WHERE f.id IN ({_IDS})
) ORDER BY kind, i
"""


SQL_PCA_TOP_COMPONENT = _sql_pca_top_component()


#: dimension budget for the variance-ranked selection audit
VARSEL_D = 16


def q_dim_variance_selection_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Feature-selection counterpart of the Matryoshka truncation audit:
    instead of keeping the FIRST 16 dimensions, keep the 16 with the
    LARGEST variance (exact integer moments: n·Σx² − (Σx)², DECIMAL —
    deterministic ranking, tie by index) and measure recall@10 vs the
    full 64-dim exact baseline, side by side with the prefix-16 recall.
    The storage/FLOP-cut question answered by measurement for BOTH
    selection policies — on embeddings whose information is not
    front-loaded, variance ranking is the one that should win.

    Scale shape: the per-dimension moment table is one explode +
    map-combined hash agg (64 keys); the 64-row ranking collect is
    bounded metadata (like the planner's probe stats)."""
    from .operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    vq = F.expr(
        "transform(embedding, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )
    ex = emb.select(vq.alias("q")).select(
        F.posexplode("q").alias("i0", "x")
    )
    dec = F.col("x").cast("decimal(38,0)")
    stats = ex.groupBy("i0").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec).alias("s"),
        F.sum(dec * F.col("x")).alias("s2"),
    )
    top = (
        stats.select(
            "i0", (F.col("n") * F.col("s2") - F.col("s") * F.col("s"))
            .alias("vk"),
        )
        .orderBy(F.desc("vk"), "i0")
        .limit(VARSEL_D)
    )
    dims = sorted(r["i0"] + 1 for r in top.collect())  # 1-based, 64-row meta

    exact = similarity.l2_topk(emb, ANN_QUERY_IDS, k=10).select(
        "q_id", "vec_id"
    )

    def _recall(method: str, proj) -> DataFrame:
        approx = similarity.l2_topk(
            emb.select("vec_id", proj.alias("embedding")),
            ANN_QUERY_IDS, k=10,
        ).select("q_id", "vec_id")
        return _recall_at_10(exact, approx, F.lit(method).alias("method"))

    pref = _recall(
        f"prefix{VARSEL_D}",
        F.expr(f"slice(embedding, 1, {VARSEL_D})"),
    )
    varsel = _recall(
        f"variance{VARSEL_D}",
        F.array(*[F.expr(f"embedding[{i - 1}]") for i in dims]),
    )
    return pref.unionByName(varsel).orderBy("method", "q_id")


def _sql_dim_variance_selection() -> str:
    vq = (
        "list_transform(embedding, c ->"
        " CAST(floor(CAST(c AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))"
    )

    def topk(src: str, name: str) -> str:
        return f"""{name}d AS (
  SELECT q.id AS qid, x.id,
         list_sum(list_transform(range(1, len(x.vq) + 1), i ->
           (CAST(x.vq[i] AS DOUBLE) - CAST(q.vq[i] AS DOUBLE))
           * (CAST(x.vq[i] AS DOUBLE) - CAST(q.vq[i] AS DOUBLE)))) AS d2
  FROM {src} x, {src} q
  WHERE q.id IN ({_IDS}) AND x.id <> q.id
),
{name} AS (
  SELECT qid, id FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid
                                       ORDER BY d2, id) AS rn
    FROM {name}d) WHERE rn <= 10
)"""

    return f"""
WITH fullv AS (SELECT vec_id AS id, {vq} AS vq FROM embeddings),
ix AS (SELECT unnest(generate_series(1, 64)) AS i),
exd AS (SELECT ix.i, fullv.vq[ix.i] AS x FROM fullv, ix),
stats AS (
  SELECT i, count(*) AS n, sum(CAST(x AS HUGEINT)) AS s,
         sum(CAST(x AS HUGEINT) * x) AS s2
  FROM exd GROUP BY i
),
seldims AS (
  SELECT i FROM stats
  ORDER BY (CAST(n AS HUGEINT) * s2 - s * s) DESC, i
  LIMIT {VARSEL_D}
),
sl AS (SELECT list(i ORDER BY i) AS l FROM seldims),
selv AS (
  SELECT id, list_transform((SELECT l FROM sl), i -> vq[i]) AS vq
  FROM fullv
),
prefv AS (SELECT id, vq[1:{VARSEL_D}] AS vq FROM fullv),
{topk("fullv", "etop")},
{topk("prefv", "ptop")},
{topk("selv", "vtop")}
SELECT 'prefix{VARSEL_D}' AS method, e.qid AS q_id,
       CAST(count(a.id) AS BIGINT) AS n_overlap,
       count(a.id) / 10.0 AS recall_at_10
FROM etop e LEFT JOIN ptop a ON a.qid = e.qid AND a.id = e.id
GROUP BY e.qid
UNION ALL
SELECT 'variance{VARSEL_D}', e.qid,
       CAST(count(a.id) AS BIGINT), count(a.id) / 10.0
FROM etop e LEFT JOIN vtop a ON a.qid = e.qid AND a.id = e.id
GROUP BY e.qid
ORDER BY method, q_id
"""


SQL_DIM_VARIANCE_SELECTION_RECALL = _sql_dim_variance_selection()


# ---------------------------------------------------------------------------
# Zipf vocabulary profile (exact ratio diagnostics, no transcendental log)
# ---------------------------------------------------------------------------

ZIPF_TOP = 100


def q_zipf_vocab_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf-ness diagnostics of the vocabulary — the
    corpus-health check a tokenizer/recipe team reads (a natural corpus
    has n1/n2 ≈ 2 and heavy top-mass; synthetic or boilerplate-polluted
    corpora flatten or spike it). Deliberately EXACT ratios instead of
    the ln-ln OLS slope: cross-engine ln() is not last-ulp-portable
    (the repo-wide rule that keeps TF-IDF rational too), while n1/n2,
    n1/n10 and the top-10/top-100 mass shares are integer counts with
    single divides — value-hash-checkable and just as diagnostic.

    Scale shape: one (lang, tok) hash agg (map-side combined), ranks
    via per-lang window over the count table (vocab-sized, two-phase
    not needed at vocab cardinalities), one final per-lang agg."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.expr(text._WORDS)).alias("tok")
    )
    from pyspark.sql import Window

    counts = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "tok")
    ranked = counts.withColumn("rank", F.row_number().over(w))
    return (
        ranked.groupBy("lang")
        .agg(
            F.sum("n").alias("total_tokens"),
            F.count(F.lit(1)).cast("long").alias("distinct_tokens"),
            F.max(F.when(F.col("rank") == 1, F.col("n"))).alias("_n1"),
            F.max(F.when(F.col("rank") == 2, F.col("n"))).alias("_n2"),
            F.max(F.when(F.col("rank") == 10, F.col("n"))).alias("_n10"),
            F.sum(F.when(F.col("rank") <= 10, F.col("n")).otherwise(F.lit(0)))
            .alias("_s10"),
            F.sum(
                F.when(F.col("rank") <= ZIPF_TOP, F.col("n")).otherwise(F.lit(0))
            ).alias("_s100"),
        )
        .select(
            "lang",
            "total_tokens",
            "distinct_tokens",
            F.expr("CAST(_n1 AS DOUBLE) / CAST(_n2 AS DOUBLE)").alias("r2"),
            F.expr("CAST(_n1 AS DOUBLE) / CAST(_n10 AS DOUBLE)").alias("r10"),
            F.expr("CAST(_s10 AS DOUBLE) / CAST(total_tokens AS DOUBLE)")
            .alias("top10_share"),
            F.expr("CAST(_s100 AS DOUBLE) / CAST(total_tokens AS DOUBLE)")
            .alias("top100_share"),
        )
        .orderBy("lang")
    )


SQL_ZIPF_VOCAB_PROFILE = f"""
WITH toks AS (
  SELECT lang, unnest({_W_SQL}) AS tok FROM documents
),
counts AS (
  SELECT lang, tok, count(*) AS n FROM toks GROUP BY lang, tok
),
ranked AS (
  SELECT lang, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rank
  FROM counts
)
SELECT lang,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(count(*) AS BIGINT) AS distinct_tokens,
       CAST(max(CASE WHEN rank = 1 THEN n END) AS DOUBLE)
         / CAST(max(CASE WHEN rank = 2 THEN n END) AS DOUBLE) AS r2,
       CAST(max(CASE WHEN rank = 1 THEN n END) AS DOUBLE)
         / CAST(max(CASE WHEN rank = 10 THEN n END) AS DOUBLE) AS r10,
       CAST(sum(CASE WHEN rank <= 10 THEN n ELSE 0 END) AS DOUBLE)
         / CAST(sum(n) AS DOUBLE) AS top10_share,
       CAST(sum(CASE WHEN rank <= {ZIPF_TOP} THEN n ELSE 0 END) AS DOUBLE)
         / CAST(sum(n) AS DOUBLE) AS top100_share
FROM ranked
GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# weighted-sampler bias audit (measured inclusion rate vs weight)
# ---------------------------------------------------------------------------

WBIAS_SALTS = 16
WBIAS_K = 25


def q_wsample_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured-quality leg for the weighted sampler: run the
    replication race under {WBIAS_SALTS} independent salts and compare
    each weight class's observed inclusion rate against weight-1's —
    the replication semantics predict a ratio ≈ w while k stays small
    next to the group, and this measures it instead of asserting it
    (the recall-audit contract, applied to sampling). All counts are
    exact integers; rates/ratios are single divides."""
    from .operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    w = _wsample_weight()
    # all {WBIAS_SALTS} draws in ONE corpus scan (r12): the multi-salt
    # entry point runs the identical production race with the salt as
    # an extra window key — 16 scans + 32 window shuffles became 1 + 2
    # (per-salt slice equality pinned in tests/test_sampling_ops.py)
    picks = sampling.weighted_sample_multi(
        docs, k=WBIAS_K, weight=w, group_col="lang",
        salts=[f"wbias:{i}" for i in range(WBIAS_SALTS)],
    ).select("doc_id", "weight")
    pop = (
        docs.select(w.alias("weight"))
        .groupBy("weight")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    incl = picks.groupBy("weight").agg(
        F.count(F.lit(1)).alias("n_inclusions")
    )
    joined = pop.join(incl, "weight", "left").select(
        "weight",
        "n_docs",
        F.coalesce("n_inclusions", F.lit(0)).alias("n_inclusions"),
        (
            F.coalesce("n_inclusions", F.lit(0)).cast("double")
            / (F.col("n_docs") * WBIAS_SALTS).cast("double")
        ).alias("incl_rate"),
    )
    base = joined.filter(F.col("weight") == 1).select(
        F.col("incl_rate").alias("_base")
    )
    return (
        joined.crossJoin(F.broadcast(base))
        .select(
            "weight", "n_docs", "n_inclusions", "incl_rate",
            F.expr(
                "CASE WHEN _base = 0 THEN CAST(NULL AS DOUBLE)"
                " ELSE incl_rate / _base END"
            ).alias("rate_vs_w1"),
        )
        .orderBy("weight")
    )


def _sql_wsample_bias() -> str:
    per_salt = "\nUNION ALL\n".join(
        f"""SELECT doc_id, weight FROM (
  SELECT lang, doc_id, weight,
         row_number() OVER (PARTITION BY lang ORDER BY
           list_max(list_transform(range(0, weight),
             r -> md5('wbias:{i}:' || CAST(doc_id AS VARCHAR) || ':'
                      || CAST(r AS VARCHAR)))) DESC, doc_id) AS rnk
  FROM d) WHERE rnk <= {WBIAS_K}"""
        for i in range(WBIAS_SALTS)
    )
    return f"""
WITH d AS (
  SELECT lang, doc_id,
         1 + CAST(n_chars >= 100 AS INT) + CAST(n_chars >= 200 AS INT)
           + CAST(n_chars >= 400 AS INT) AS weight
  FROM documents
),
picks AS (
{per_salt}
),
pop AS (SELECT weight, count(*) AS n_docs FROM d GROUP BY weight),
incl AS (SELECT weight, count(*) AS n_inclusions FROM picks GROUP BY weight),
joined AS (
  SELECT pop.weight,
         CAST(pop.n_docs AS BIGINT) AS n_docs,
         CAST(coalesce(incl.n_inclusions, 0) AS BIGINT) AS n_inclusions,
         CAST(coalesce(incl.n_inclusions, 0) AS DOUBLE)
           / CAST(pop.n_docs * {WBIAS_SALTS} AS DOUBLE) AS incl_rate
  FROM pop LEFT JOIN incl ON incl.weight = pop.weight
)
SELECT weight, n_docs, n_inclusions, incl_rate,
       CASE WHEN b.base = 0 THEN CAST(NULL AS DOUBLE)
            ELSE incl_rate / b.base END AS rate_vs_w1
FROM joined, (SELECT incl_rate AS base FROM joined WHERE weight = 1) b
ORDER BY weight
"""


SQL_WSAMPLE_BIAS_AUDIT = _sql_wsample_bias()


# ---------------------------------------------------------------------------
# two-stage decontamination funnel (bloom screen -> exact verify)
# ---------------------------------------------------------------------------


def q_decontam_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production decontamination funnel per source: Bloom screen
    at scan cost, exact benchmark join only on the screened residue —
    n_flagged/n_confirmed/false-positive work and the verify_fraction
    that sizes stage 2 (operators/sketches.bloom_two_stage_funnel;
    same benchmark fixture as the other decontam queries)."""
    from .operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0).select("doc_id")
    return sketches.bloom_two_stage_funnel(sh, bench, group_col="source")


SQL_DECONTAM_TWO_STAGE = f"""
WITH {SHINGLES_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
bbits AS (
  SELECT DISTINCT CAST(bit AS INTEGER) AS bit FROM (
    SELECT unnest(list_distinct(list_transform(range(0, 4), j ->
      list_sum(list_transform(range(0, 4), i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), 4*j + i + 1, 1)) - 1 AS BIGINT) << (4 * (3 - i))))))) AS bit
    FROM bench)
),
probes AS (
  SELECT s.doc_id, s.shingle, d.source,
         list_distinct(list_transform(range(0, 4), j ->
           CAST(list_sum(list_transform(range(0, 4), i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), 4*j + i + 1, 1)) - 1 AS BIGINT) << (4 * (3 - i)))) AS INTEGER))) AS pos
  FROM sh s JOIN documents d USING (doc_id)
  WHERE s.doc_id % {BENCH_MOD} <> 0
),
pbits AS (
  SELECT doc_id, shingle, len(pos) AS npos, unnest(pos) AS bit FROM probes
),
gramhits AS (
  SELECT doc_id, shingle FROM pbits JOIN bbits USING (bit)
  GROUP BY doc_id, shingle, npos HAVING count(*) = npos
),
flagged AS (SELECT DISTINCT p.doc_id FROM probes p
            JOIN gramhits h ON h.doc_id = p.doc_id AND h.shingle = p.shingle),
confirmed AS (SELECT DISTINCT p.doc_id FROM probes p
              JOIN bench b ON b.shingle = p.shingle),
docs2 AS (SELECT DISTINCT doc_id, source FROM probes),
agg AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_flagged,
         CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_confirmed
  FROM docs2 d
  LEFT JOIN flagged f ON f.doc_id = d.doc_id
  LEFT JOIN confirmed c ON c.doc_id = d.doc_id
  GROUP BY d.source
)
SELECT source, n_docs, n_flagged, n_confirmed,
       CAST(n_flagged - n_confirmed AS BIGINT) AS n_fp_docs,
       CAST(n_flagged AS DOUBLE) / CAST(n_docs AS DOUBLE) AS verify_fraction,
       CASE WHEN n_flagged = 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(n_confirmed AS DOUBLE) / CAST(n_flagged AS DOUBLE)
       END AS confirm_rate
FROM agg ORDER BY source
"""


# ---------------------------------------------------------------------------
# end-to-end training-shard build (the pipeline, composed)
# ---------------------------------------------------------------------------

SHARD_K = 40
SHARD_PACK_SHARDS = 4


def q_build_training_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole preprocessing pipeline as ONE value-hashed query —
    what "a user could run their training-data build on this engine"
    means concretely: (1) decontaminate (drop every document sharing a
    shingle with the benchmark — the funnel's exact stage, per-doc
    flags by aggregation over a broadcast gram set); (2) exact-dedup
    survivors (min doc_id per md5(text)); (3) deterministic weighted
    sample, 40 docs per language (length-bucket tickets, salt
    'shard0'); (4) GPT-style sequence packing of the sample into
    2048-token windows over 4 md5 shards. Every stage is an
    already-oracled operator; the hash attests the COMPOSITION
    end to end. Convention: documents too short to shingle never
    reach the shard (the decontamination stage is the gate).

    The two keyed corpus joins (flag table onto docs, sample ids onto
    survivors) are co-partitioned on doc_id / broadcast respectively —
    set subtraction at scale is a keyed join, not a red flag."""
    from pyspark.sql import Window

    from .operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    bench_sh = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("shingle")
        .distinct()
        .withColumn("_ex", F.lit(1))
    )
    clean_ids = (
        sh.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(F.max(F.coalesce("_ex", F.lit(0))).alias("_conf"))
        .filter(F.col("_conf") == 0)
        .select("doc_id")
    )
    clean = docs.join(clean_ids, "doc_id")
    surv = (
        clean.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    sample = sampling.weighted_sample(
        surv, k=SHARD_K, weight=_wsample_weight(), group_col="lang",
        salt="shard0",
    )
    sampled = surv.join(F.broadcast(sample.select("doc_id")), "doc_id")
    d = sampled.select(
        "doc_id", "lang", F.expr(f"size({text._WORDS})").alias("n_tokens")
    )
    return sampling.sequence_packing(
        d, window_tokens=PACK_WINDOW, n_shards=SHARD_PACK_SHARDS
    ).orderBy("doc_id")


_SQL_SHARD_H16 = _SQL_PACK_H16  # same md5('pack:'||id) bucket construction

SQL_BUILD_TRAINING_SHARD = f"""
WITH {SHINGLES_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
conf AS (
  SELECT s.doc_id,
         max(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS c
  FROM sh s LEFT JOIN bench b ON b.shingle = s.shingle
  WHERE s.doc_id % {BENCH_MOD} <> 0
  GROUP BY s.doc_id
),
clean AS (
  SELECT d.doc_id, d.lang, d.text, d.n_chars
  FROM documents d JOIN conf ON conf.doc_id = d.doc_id
  WHERE conf.c = 0
),
surv AS (
  SELECT doc_id, lang, text, n_chars FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) AS rn
    FROM clean) WHERE rn = 1
),
weighted AS (
  SELECT *, 1 + CAST(n_chars >= 100 AS INT) + CAST(n_chars >= 200 AS INT)
          + CAST(n_chars >= 400 AS INT) AS weight
  FROM surv
),
keyed AS (
  SELECT lang, doc_id,
         list_max(list_transform(range(0, weight),
           r -> md5('shard0:' || CAST(doc_id AS VARCHAR) || ':'
                    || CAST(r AS VARCHAR)))) AS k
  FROM weighted
),
sample AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY lang
                                      ORDER BY k DESC, doc_id) AS rnk
    FROM keyed) WHERE rnk <= {SHARD_K}
),
pd AS (
  SELECT s.doc_id, s.lang, len({_W_SQL}) AS n_tokens,
         {_SQL_SHARD_H16} % {SHARD_PACK_SHARDS} AS shard
  FROM surv s JOIN sample USING (doc_id)
),
w AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
  FROM pd
)
SELECT doc_id, lang, CAST(shard AS INTEGER) AS shard,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start_offset // {PACK_WINDOW} AS BIGINT) AS pack_id
FROM w ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# source vocabulary overlap (corpus-redundancy diagnostics)
# ---------------------------------------------------------------------------

VOCAB_OVERLAP_TOP = 50


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard of each source's top-50 vocabulary — the
    source-redundancy diagnostic a recipe team reads before weighting
    sources (near-identical vocabularies flag mirrored/boilerplate
    sources; the complement of the distinctive-terms view). Candidate
    pairs come from an equi-join on the TOKEN (two sources meet only
    through shared vocabulary — never an all-pairs source join), and
    every number is an exact integer with a single final divide."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.expr(text._WORDS)).alias("tok"))
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), "tok")
    top = cache_scope.persist(
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= VOCAB_OVERLAP_TOP)
        .select("source", "tok")
        # invocation-scoped persist (r12): feeds sizes + BOTH sides of
        # the token self-join — without it the corpus token count +
        # window runs three times (guide §7.2)
    )
    sizes = top.groupBy("source").agg(F.count(F.lit(1)).alias("_sz"))
    a = top.select(F.col("source").alias("src_a"), "tok")
    b = top.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("_sz").alias("_szb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.expr(
                "CAST(n_common AS DOUBLE)"
                " / CAST(_sza + _szb - n_common AS DOUBLE)"
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


SQL_SOURCE_VOCAB_OVERLAP = f"""
WITH toks AS (
  SELECT source, unnest({_W_SQL}) AS tok FROM documents
),
counts AS (SELECT source, tok, count(*) AS n FROM toks GROUP BY source, tok),
top AS (
  SELECT source, tok FROM (
    SELECT source, tok,
           row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rn
    FROM counts) WHERE rn <= {VOCAB_OVERLAP_TOP}
),
sizes AS (SELECT source, count(*) AS sz FROM top GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
  FROM top a JOIN top b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE)
         / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
"""


# --- round 7: n-gram LM quality scoring (stupid backoff) -----------------

LM_SALT, LM_TRAIN_PCT = "lm", 50
_LM_THR = 65536 * LM_TRAIN_PCT // 100


def q_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter score for every document: a
    stupid-backoff trigram LM trained on a deterministic md5-threshold
    half of the corpus, scored on the integer 1e-9 grid so the per-doc
    sum is BIGINT-exact (operators/lm.stupid_backoff_score)."""
    from .operators import lm

    docs = load_table(spark, sf_dir, "documents")
    return lm.stupid_backoff_score(
        docs, salt=LM_SALT, train_pct=LM_TRAIN_PCT
    ).orderBy("doc_id")


def _sql_lm_grams() -> str:
    """Shared CTE block: tokenized docs with train flag, n-gram count
    tables from the train slice, and the all-docs trigram stream."""
    return f"""
d AS (
  SELECT doc_id, {_W_SQL} AS w,
         ({_sql_h16(LM_SALT)} < {_LM_THR}) AS is_train
  FROM documents
),
g3 AS (
  SELECT doc_id, is_train, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
  FROM d, unnest(generate_series(1, len(w) - 2)) AS u(i)
),
tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM g3 WHERE is_train
        GROUP BY 1, 2, 3),
g2 AS (
  SELECT w[i] AS a, w[i+1] AS b
  FROM d, unnest(generate_series(1, len(w) - 1)) AS u(i)
  WHERE is_train
),
bi AS (SELECT a, b, count(*) AS c2 FROM g2 GROUP BY 1, 2),
uni AS (SELECT t, count(*) AS c1
        FROM (SELECT unnest(w) AS t FROM d WHERE is_train) GROUP BY 1),
tot AS (SELECT count(*) AS T
        FROM (SELECT unnest(w) AS t FROM d WHERE is_train)),
sc AS (
  SELECT e.doc_id,
         CASE WHEN t.c3 IS NOT NULL THEN 3
              WHEN b2.c2 IS NOT NULL THEN 2
              WHEN u3.c1 IS NOT NULL THEN 1 ELSE 0 END AS tier,
         CASE WHEN t.c3 IS NOT NULL
                THEN (CAST(t.c3 AS HUGEINT) * 1000000000) // b1.c2
              WHEN b2.c2 IS NOT NULL
                THEN (CAST(b2.c2 AS HUGEINT) * 400000000) // u2.c1
              WHEN u3.c1 IS NOT NULL
                THEN (CAST(u3.c1 AS HUGEINT) * 160000000) // tot.T
              ELSE 0 END AS s
  FROM g3 e
  LEFT JOIN tri t ON e.w1 = t.w1 AND e.w2 = t.w2 AND e.w3 = t.w3
  LEFT JOIN bi b1 ON e.w1 = b1.a AND e.w2 = b1.b
  LEFT JOIN bi b2 ON e.w2 = b2.a AND e.w3 = b2.b
  LEFT JOIN uni u2 ON e.w2 = u2.t
  LEFT JOIN uni u3 ON e.w3 = u3.t
  CROSS JOIN tot
),
p AS (
  SELECT doc_id, count(*) AS n_scored,
         sum(CASE WHEN tier = 3 THEN 1 ELSE 0 END) AS hits3,
         sum(CASE WHEN tier = 2 THEN 1 ELSE 0 END) AS hits2,
         sum(CASE WHEN tier = 1 THEN 1 ELSE 0 END) AS hits1,
         sum(CASE WHEN tier = 0 THEN 1 ELSE 0 END) AS oov,
         sum(s) AS score_q9
  FROM sc GROUP BY doc_id
)"""


SQL_LM_QUALITY_SCORE = f"""
WITH {_sql_lm_grams()}
SELECT doc.doc_id,
       CAST(coalesce(n_scored, 0) AS BIGINT) AS n_scored,
       CAST(coalesce(hits3, 0) AS BIGINT) AS hits3,
       CAST(coalesce(hits2, 0) AS BIGINT) AS hits2,
       CAST(coalesce(hits1, 0) AS BIGINT) AS hits1,
       CAST(coalesce(oov, 0) AS BIGINT) AS oov,
       CAST(coalesce(score_q9, 0) AS BIGINT) AS score_q9,
       CASE WHEN coalesce(n_scored, 0) > 0
            THEN round(CAST(score_q9 AS DOUBLE)
                       / CAST(n_scored AS DOUBLE) / 1e9, 9)
            ELSE 0.0 END AS avg_score
FROM documents doc LEFT JOIN p USING (doc_id)
ORDER BY doc.doc_id
"""


def q_lm_backoff_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM coverage by language: token mass per backoff tier —
    the dashboard a curation run reads before trusting the LM filter."""
    from .operators import lm

    docs = load_table(spark, sf_dir, "documents")
    return lm.backoff_census(
        docs, salt=LM_SALT, train_pct=LM_TRAIN_PCT
    ).orderBy("lang")


SQL_LM_BACKOFF_CENSUS = f"""
WITH {_sql_lm_grams()},
bylang AS (
  -- LEFT join from the doc spine: a language whose every document is
  -- too short to score still gets its (all-zero) census row, exactly
  -- as the Spark side's per-doc spine does
  SELECT lang, sum(coalesce(n_scored, 0)) AS n_scored,
         sum(coalesce(hits3, 0)) AS hits3,
         sum(coalesce(hits2, 0)) AS hits2,
         sum(coalesce(hits1, 0)) AS hits1,
         sum(coalesce(oov, 0)) AS oov,
         sum(coalesce(score_q9, 0)) AS score_q9
  FROM documents LEFT JOIN p USING (doc_id) GROUP BY lang
)
SELECT lang,
       CAST(n_scored AS BIGINT) AS n_scored,
       CAST(hits3 AS BIGINT) AS hits3,
       CAST(hits2 AS BIGINT) AS hits2,
       CAST(hits1 AS BIGINT) AS hits1,
       CAST(oov AS BIGINT) AS oov,
       CAST(score_q9 AS BIGINT) AS score_q9,
       CASE WHEN n_scored > 0 THEN
         round(CAST(hits3 AS DOUBLE) / CAST(n_scored AS DOUBLE), 6)
         ELSE 0.0 END AS frac3,
       CASE WHEN n_scored > 0 THEN
         round(CAST(hits2 AS DOUBLE) / CAST(n_scored AS DOUBLE), 6)
         ELSE 0.0 END AS frac2,
       CASE WHEN n_scored > 0 THEN
         round(CAST(hits1 AS DOUBLE) / CAST(n_scored AS DOUBLE), 6)
         ELSE 0.0 END AS frac1,
       CASE WHEN n_scored > 0 THEN
         round(CAST(oov AS DOUBLE) / CAST(n_scored AS DOUBLE), 6)
         ELSE 0.0 END AS frac_oov
FROM bylang
ORDER BY lang
"""


# --- round 7: ridge-regression probe (exact normal equations) ------------

PROBE_IDS = [0, 1, 2, 3, 4]


def q_ridge_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge probe n_chars ~ (1, n_tokens, n_uniq, sum_token_chars):
    integer-exact sufficient statistics + fixed-order Cramer solve
    (operators/probe.ridge_probe) — weights, R² and probe residuals are
    bit-identical to the oracle's evaluation of the same expressions."""
    from .operators import probe

    docs = load_table(spark, sf_dir, "documents")
    return probe.ridge_probe(docs, probe_ids=PROBE_IDS)


def _sql_ridge_probe() -> str:
    from .operators.decimate import big_to_double_duck as b2d
    from .operators.probe import DET4_PERMS, RIDGE_LAMBDA

    cols = ["x0", "x1", "x2", "x3"]
    sums, names = [], {}
    for i in range(4):
        for j in range(i, 4):
            nm = f"a{i}{j}"
            sums.append(
                f"sum(CAST({cols[i]} AS HUGEINT) * {cols[j]}) AS {nm}"
            )
            names[(i, j)] = names[(j, i)] = nm
    for i in range(4):
        sums.append(f"sum(CAST({cols[i]} AS HUGEINT) * y) AS b{i}")
    sums.append("sum(CAST(y AS HUGEINT) * y) AS yy")
    sums.append("count(*) AS n")

    # doubles: ridge matrix A (diagonal + lambda), raw matrix R, b, yy
    dbl = []
    for i in range(4):
        for j in range(i, 4):
            nm = names[(i, j)]
            dbl.append(f"{b2d(nm)} AS R{i}{j}")
            src = f"({nm} + {RIDGE_LAMBDA})" if i == j else nm
            dbl.append(f"{b2d(src)} AS A{i}{j}")
    for i in range(4):
        dbl.append(f"{b2d(f'b{i}')} AS bd{i}")
    dbl.append(f"{b2d('yy')} AS yyd")
    dbl.append("CAST(n AS DOUBLE) AS nd")

    def a_ref(i: int, j: int) -> str:
        return f"A{min(i, j)}{max(i, j)}"

    def det_expr(col_for: "callable") -> str:
        terms = []
        for sign, p in DET4_PERMS:
            t = " * ".join(col_for(i, p[i]) for i in range(4))
            terms.append(("+ (" if sign > 0 else "- (") + t + ")")
        body = " ".join(terms)
        return body[2:] if body.startswith("+ ") else body

    det_a = det_expr(a_ref)
    det_k = [
        det_expr(lambda i, j, k=k: f"bd{i}" if j == k else a_ref(i, j))
        for k in range(4)
    ]

    wb = " + ".join(f"(w{i} * bd{i})" for i in range(4))
    waw = " + ".join(
        f"(w{i} * w{j} * R{min(i, j)}{max(i, j)})"
        for i in range(4)
        for j in range(4)
    )
    yhat = (
        "(w0 + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE)"
        " + w3 * CAST(x3 AS DOUBLE))"
    )
    ids = ", ".join(str(i) for i in PROBE_IDS)
    return f"""
WITH f AS (
  SELECT doc_id, CAST(1 AS BIGINT) AS x0, CAST(len(w) AS BIGINT) AS x1,
         CAST(len(list_distinct(w)) AS BIGINT) AS x2,
         CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0)
              AS BIGINT) AS x3,
         CAST(n_chars AS BIGINT) AS y
  FROM (SELECT doc_id, {_W_SQL} AS w, n_chars FROM documents)
),
s AS (SELECT {", ".join(sums)} FROM f),
m AS (SELECT {", ".join(dbl)} FROM s),
dets AS (SELECT m.*, {det_a} AS det_a,
         {", ".join(f"{d} AS det{k}" for k, d in enumerate(det_k))}
         FROM m),
wts AS (SELECT dets.*, {", ".join(f"det{k} / det_a AS w{k}" for k in range(4))}
        FROM dets),
fit AS (
  -- empty-corpus guard: with n = 0 every division above is NULL/NaN,
  -- but the Spark side (operators/probe.ridge_probe) returns an EMPTY
  -- report — gate the fit (and via the CROSS JOIN every output row) so
  -- both engines agree at an empty scale factor
  SELECT w0, w1, w2, w3,
         yyd - 2.0 * ({wb}) + ({waw}) AS sse,
         yyd - (bd0 * bd0) / nd AS sst
  FROM wts WHERE (SELECT n FROM s) > 0
)
SELECT 'weight' AS kind, CAST(0 AS BIGINT) AS i, w0 AS value FROM fit
UNION ALL SELECT 'weight', 1, w1 FROM fit
UNION ALL SELECT 'weight', 2, w2 FROM fit
UNION ALL SELECT 'weight', 3, w3 FROM fit
UNION ALL SELECT 'r2', 0, 1.0 - sse / sst FROM fit
UNION ALL
SELECT 'residual', doc_id,
       CAST(y AS DOUBLE) - {yhat}
FROM f CROSS JOIN fit WHERE doc_id IN ({ids})
ORDER BY kind, i
"""


SQL_RIDGE_PROBE = _sql_ridge_probe()


# --- round 7: cross-source boilerplate spans -----------------------------

BP_N, BP_MIN_SOURCES = 5, 2


def q_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate coverage: fraction of token positions
    covered by 5-token shingles shared across >= 2 sources
    (operators/text.boilerplate_spans)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.boilerplate_spans(
        docs, n=BP_N, min_sources=BP_MIN_SOURCES
    ).orderBy("doc_id")


# CTE names are bp-prefixed so this block composes with the LM gram
# block in the fused quality-filter oracle without collisions
_BP_CTES = f"""
bpd AS (SELECT doc_id, source, {_W_SQL} AS w FROM documents),
bpsh AS (
  SELECT doc_id, source, i - 1 AS pos,
         array_to_string(w[i:i+{BP_N - 1}], ' ') AS key
  FROM bpd, unnest(generate_series(1, len(w) - {BP_N} + 1)) AS u(i)
),
bpfl AS (SELECT key FROM bpsh GROUP BY key
         HAVING count(DISTINCT source) >= {BP_MIN_SOURCES}),
bpcov AS (
  SELECT DISTINCT doc_id, pos + t AS p
  FROM bpsh JOIN bpfl USING (key),
       unnest(generate_series(0, {BP_N - 1})) AS g(t)
),
bpnc AS (SELECT doc_id, count(*) AS n_cov FROM bpcov GROUP BY doc_id),
bp_per_doc AS (
  SELECT bpd.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(coalesce(n_cov, 0) AS BIGINT) AS n_cov,
         CASE WHEN len(w) > 0
              THEN round(CAST(coalesce(n_cov, 0) AS DOUBLE)
                         / CAST(len(w) AS DOUBLE), 6)
              ELSE 0.0 END AS cov_rate
  FROM bpd LEFT JOIN bpnc ON bpd.doc_id = bpnc.doc_id
)"""


SQL_BOILERPLATE_SPANS = f"""
WITH {_BP_CTES}
SELECT doc_id, n_tokens, n_cov, cov_rate FROM bp_per_doc ORDER BY doc_id
"""


def q_boilerplate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level boilerplate census: template-text share per source,
    the drop-or-clean decision input."""
    docs = load_table(spark, sf_dir, "documents")
    return text.boilerplate_by_source(
        docs, n=BP_N, min_sources=BP_MIN_SOURCES
    ).orderBy("source")


SQL_BOILERPLATE_BY_SOURCE = f"""
WITH {_BP_CTES}
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_cov > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_touched,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_cov) AS BIGINT) AS n_cov,
       CASE WHEN sum(n_tokens) > 0
            THEN round(CAST(sum(n_cov) AS DOUBLE)
                       / CAST(sum(n_tokens) AS DOUBLE), 6)
            ELSE 0.0 END AS cov_rate
FROM bp_per_doc JOIN bpd USING (doc_id)
GROUP BY source
ORDER BY source
"""


# --- round 7: fused quality-filter report --------------------------------

QF_MIN_TOKENS = 20
#: LM cut avg_score < 0.035 as the exact integer rule
#: score_q9 * 200 < n_scored * 7 * SCALE  (0.035 = 7/200)
QF_LM_NUM, QF_LM_DEN = 7, 200
#: boilerplate cut cov_rate > 0.2 as 5 * n_cov > n_tokens
QF_BP_DEN = 5


def q_quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused keep/drop decision a curation run applies per document —
    LM score (stupid backoff), boilerplate coverage, and length composed
    into one per-source report. Every cut is an exact integer comparison
    (never a float threshold on a float aggregate), so the report is
    value-hash-stable on any cluster:

    - too_short:  n_tokens < 20
    - lm_low:     score_q9 * 200 < n_scored * 7e9   (avg_score < 0.035)
    - boiler:     5 * n_cov > n_tokens               (cov_rate > 0.2)

    100 TB shape: the three per-doc frames join on doc_id (one hash
    exchange each, AQE-coalesced) and roll up by source; drop reasons
    are counted non-exclusively so the report explains WHY mass is lost.
    """
    from .operators import lm

    docs = load_table(spark, sf_dir, "documents")
    lm_pd = lm.stupid_backoff_score(docs, salt=LM_SALT, train_pct=LM_TRAIN_PCT)
    bp = text.boilerplate_spans(docs, n=BP_N, min_sources=BP_MIN_SOURCES)
    j = (
        docs.select("doc_id", "source")
        .join(lm_pd.select("doc_id", "n_scored", "score_q9"), "doc_id")
        .join(bp.select("doc_id", "n_tokens", "n_cov"), "doc_id")
    )
    short = F.col("n_tokens") < QF_MIN_TOKENS
    lm_low = (F.col("score_q9") * QF_LM_DEN) < (
        F.col("n_scored") * QF_LM_NUM * F.lit(1_000_000_000)
    )
    boiler = (F.col("n_cov") * QF_BP_DEN) > F.col("n_tokens")
    keep = ~short & ~lm_low & ~boiler
    g = (
        j.select(
            "source",
            "n_tokens",
            short.cast("int").alias("_short"),
            lm_low.cast("int").alias("_lm"),
            boiler.cast("int").alias("_bp"),
            keep.cast("int").alias("_keep"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_keep").alias("kept"),
            F.sum("_short").alias("drop_short"),
            F.sum("_lm").alias("drop_lm"),
            F.sum("_bp").alias("drop_boiler"),
            F.sum(F.col("n_tokens") * F.col("_keep")).alias("kept_tokens"),
        )
    )
    return g.select(
        "source", "n_docs", "kept", "drop_short", "drop_lm", "drop_boiler",
        "kept_tokens",
        F.round(
            F.col("kept").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("kept_frac"),
    ).orderBy("source")


SQL_QUALITY_FILTER_REPORT = f"""
WITH {_sql_lm_grams()},
{_BP_CTES},
j AS (
  SELECT doc.doc_id, doc.source,
         CAST(coalesce(p.n_scored, 0) AS BIGINT) AS n_scored,
         CAST(coalesce(p.score_q9, 0) AS BIGINT) AS score_q9,
         b.n_tokens, b.n_cov
  FROM documents doc
  LEFT JOIN p ON doc.doc_id = p.doc_id
  JOIN bp_per_doc b ON doc.doc_id = b.doc_id
),
fl2 AS (
  SELECT source, n_tokens,
         CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 1 ELSE 0 END AS s,
         CASE WHEN score_q9 * {QF_LM_DEN}
                   < n_scored * {QF_LM_NUM} * 1000000000 THEN 1 ELSE 0
              END AS l,
         CASE WHEN n_cov * {QF_BP_DEN} > n_tokens THEN 1 ELSE 0 END AS bp
  FROM j
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN s = 0 AND l = 0 AND bp = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS kept,
       CAST(sum(s) AS BIGINT) AS drop_short,
       CAST(sum(l) AS BIGINT) AS drop_lm,
       CAST(sum(bp) AS BIGINT) AS drop_boiler,
       CAST(sum(CASE WHEN s = 0 AND l = 0 AND bp = 0 THEN n_tokens
                     ELSE 0 END) AS BIGINT) AS kept_tokens,
       round(CAST(sum(CASE WHEN s = 0 AND l = 0 AND bp = 0 THEN 1 ELSE 0
                      END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS kept_frac
FROM fl2
GROUP BY source
ORDER BY source
"""


# --- round 7: PageRank over the near-dup pair graph ----------------------

PR_ITERS = 3


def q_pair_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank over the MinHash-LSH verified pair graph
    (operators/graph.pair_pagerank) — the iterative-join workload, made
    value-hashable by keeping every rank on the 1e-9 integer grid."""
    from .operators import graph

    pairs = _minhash_pairs(spark, sf_dir)
    return graph.pair_pagerank(pairs, iters=PR_ITERS).orderBy("doc_id")


def _sql_pagerank_iters(iters: int) -> str:
    """Unrolled integer PageRank CTEs over ``vpairs``: edges, deg, r0..rN
    (rank tables on the 1e-9 grid, HUGEINT-exact)."""
    from .operators.graph import BASE, D_DEN, D_NUM, SCALE

    parts = [
        """
edges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM vpairs
),
deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT id, CAST(%d AS HUGEINT) AS r FROM deg)""" % SCALE
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""
r{k} AS (
  SELECT d.id,
         CAST({BASE} + ({D_NUM} * coalesce(t.inc, 0)) // {D_DEN}
              AS HUGEINT) AS r
  FROM deg d LEFT JOIN (
    SELECT e.dst AS id, sum(r.r // dg.deg) AS inc
    FROM edges e
    JOIN r{k - 1} r ON e.src = r.id
    JOIN deg dg ON e.src = dg.id
    GROUP BY e.dst
  ) t ON d.id = t.id
)"""
        )
    return ",".join(parts)


SQL_PAIR_PAGERANK = f"""
WITH {_minhash_pair_ctes()},
{_sql_pagerank_iters(PR_ITERS)}
SELECT d.id AS doc_id, CAST(d.deg AS BIGINT) AS deg,
       CAST(r.r AS BIGINT) AS rank_q9
FROM deg d JOIN r{PR_ITERS} r ON d.id = r.id
ORDER BY doc_id
"""


def q_pagerank_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality-based canonical selection per dedup cluster: the
    highest-PageRank member survives (tie -> smallest id); singletons
    are their own canonical at the teleport rank."""
    from .operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    return graph.pagerank_canonical(pairs, docs, iters=PR_ITERS).orderBy(
        "comp"
    )


from .operators.graph import BASE as _PR_BASE  # noqa: E402

SQL_PAGERANK_CANONICAL = f"""
WITH RECURSIVE {_minhash_pair_ctes()},
{_sql_pagerank_iters(PR_ITERS)},
sym AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM vpairs
),
reach AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT e.src AS id, r.comp FROM sym e JOIN reach r ON e.dst = r.id
),
lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
scored AS (
  SELECT lab.comp, lab.id,
         CAST(coalesce(r.r, {_PR_BASE}) AS BIGINT) AS rank_q9
  FROM lab LEFT JOIN r{PR_ITERS} r ON lab.id = r.id
),
ranked AS (
  SELECT comp, id, rank_q9,
         row_number() OVER (PARTITION BY comp
                            ORDER BY rank_q9 DESC, id) AS rn,
         count(*) OVER (PARTITION BY comp) AS n_docs
  FROM scored
)
SELECT comp, id AS canonical_id, CAST(n_docs AS BIGINT) AS n_docs,
       rank_q9 AS canonical_rank_q9
FROM ranked WHERE rn = 1
ORDER BY comp
"""


# --- round 7: chunk dedup with document rewrite --------------------------

CHUNK_REWRITE_TOKENS = 16


def q_chunk_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring removal at fixed chunk granularity, with the
    rewritten document ATTESTED (cleaned_md5 hashes the reassembly) —
    operators/dedup.chunk_dedup_rewrite."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.chunk_dedup_rewrite(
        docs, chunk_tokens=CHUNK_REWRITE_TOKENS
    ).orderBy("doc_id")


def _chunk_rewrite_ctes(src: str, pfx: str = "rw") -> str:
    """CTE block: chunk/rewrite ``src`` (a relation exposing doc_id +
    tokens ``w``) ending in ``{pfx}p(doc_id, n_chunks, n_removed,
    cleaned)``. Prefixed so it composes into the fused curation oracle
    without colliding with the LM/boilerplate blocks."""
    c = CHUNK_REWRITE_TOKENS
    return f"""
{pfx}ch AS (
  SELECT doc_id, i AS idx,
         array_to_string(w[(i * {c}) + 1:(i + 1) * {c}], ' ') AS chunk
  FROM {src}, unnest(generate_series(0,
         CAST(ceil(len(w) / {c}.0) AS BIGINT) - 1)) AS u(i)
  WHERE len(w) > 0
),
{pfx}k AS (SELECT md5(chunk) AS key, doc_id, idx, chunk FROM {pfx}ch),
{pfx}first AS (
  SELECT key, min(struct_pack(doc_id := doc_id, idx := idx)) AS f
  FROM {pfx}k GROUP BY key
),
{pfx}kept AS (
  SELECT k.doc_id, k.idx, k.chunk,
         (k.doc_id = f.f.doc_id AND k.idx = f.f.idx) AS keep
  FROM {pfx}k k JOIN {pfx}first f ON k.key = f.key
),
{pfx}p AS (
  SELECT doc_id, count(*) AS n_chunks,
         sum(CASE WHEN keep THEN 0 ELSE 1 END) AS n_removed,
         coalesce(string_agg(CASE WHEN keep THEN chunk END, ' '
                             ORDER BY idx), '') AS cleaned
  FROM {pfx}kept GROUP BY doc_id
)"""


SQL_CHUNK_DEDUP_REWRITE = f"""
WITH rwd AS (SELECT doc_id, {_W_SQL} AS w FROM documents),
{_chunk_rewrite_ctes("rwd")}
SELECT doc.doc_id,
       CAST(coalesce(n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed,
       CAST(len(list_filter(regexp_split_to_array(coalesce(cleaned, ''),
            ' '), x -> x != '')) AS BIGINT) AS cleaned_n_tokens,
       md5(coalesce(cleaned, '')) AS cleaned_md5
FROM documents doc LEFT JOIN rwp ON doc.doc_id = rwp.doc_id
ORDER BY doc.doc_id
"""


# --- round 7: VAD segmentation through the WAV codec ---------------------

VAD_FRAME, VAD_THRESHOLD = 16, 16384


def q_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based VAD segmentation of every clip through the real WAV
    codec (operators/audio.vad_segments) — active-frame runs from the
    DECODED samples; the codec-free oracle recomputes the same integer
    rule from the synthesis formula, attesting the roundtrip."""
    from .operators import audio

    docs = load_table(spark, sf_dir, "documents")
    sam = docs.select("doc_id", F.expr(_AUDIO_SAMPLES).alias("samples"))
    return audio.vad_segments(
        sam, frame_samples=VAD_FRAME, threshold=VAD_THRESHOLD, codec="mixed"
    ).orderBy("doc_id")


SQL_AUDIO_VAD_SEGMENTS = f"""
WITH sam AS (
  SELECT d.doc_id, t.i,
         ((strpos('{_NIBS}', substr(md5(d.text || '#' || (t.i // 16)),
                                    (t.i % 16) * 2 + 1, 1)) - 1) * 16
          + (strpos('{_NIBS}', substr(md5(d.text || '#' || (t.i // 16)),
                                      (t.i % 16) * 2 + 2, 1)) - 1)
         ) * 257 - 32768 AS s
  FROM documents d, range(0, {AUDIO_N_SAMPLES}) t(i)
),
fr AS (
  SELECT doc_id, i // {VAD_FRAME} AS f, sum(abs(s)) AS sa
  FROM sam GROUP BY doc_id, i // {VAD_FRAME}
),
a AS (
  SELECT doc_id, f, (sa >= {VAD_THRESHOLD * VAD_FRAME}) AS act FROM fr
),
isl AS (
  SELECT doc_id, f,
         f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS g
  FROM a WHERE act
),
runs AS (SELECT doc_id, g, count(*) AS len FROM isl GROUP BY doc_id, g),
agg AS (
  SELECT a.doc_id,
         count(*) AS n_frames,
         sum(CASE WHEN act THEN 1 ELSE 0 END) AS n_active,
         min(CASE WHEN act THEN f END) AS first_f
  FROM a GROUP BY a.doc_id
),
seg AS (
  SELECT doc_id, count(*) AS n_segments, max(len) AS longest
  FROM runs GROUP BY doc_id
)
SELECT agg.doc_id,
       CAST(CASE WHEN agg.doc_id % 2 = 0 THEN 8 ELSE 16 END AS INTEGER)
         AS bits,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_active AS BIGINT) AS n_active,
       CAST(coalesce(n_segments, 0) AS BIGINT) AS n_segments,
       CAST(coalesce(longest, 0) AS BIGINT) AS longest_run,
       CAST(coalesce(first_f, -1) AS BIGINT) AS first_active
FROM agg LEFT JOIN seg ON agg.doc_id = seg.doc_id
ORDER BY agg.doc_id
"""


# --- round 7 capstone: fused curation (filter -> rewrite -> stats) --------


def _quality_kept(docs: DataFrame) -> DataFrame:
    """The fused quality-filter kept set (LM + boilerplate + length,
    integer-rule cuts) — ONE implementation shared by every curation
    composition (`curate_round7`, `curate_round8`), so a threshold or
    join-shape change cannot silently fork the rule between rounds.
    Returns (doc_id, source, n_tokens)."""
    from .operators import lm

    lm_pd = lm.stupid_backoff_score(docs, salt=LM_SALT, train_pct=LM_TRAIN_PCT)
    bp = text.boilerplate_spans(docs, n=BP_N, min_sources=BP_MIN_SOURCES)
    j = (
        docs.select("doc_id", "source")
        .join(lm_pd.select("doc_id", "n_scored", "score_q9"), "doc_id")
        .join(bp.select("doc_id", "n_tokens", "n_cov"), "doc_id")
    )
    keep = (
        (F.col("n_tokens") >= QF_MIN_TOKENS)
        & (
            (F.col("score_q9") * QF_LM_DEN)
            >= (F.col("n_scored") * QF_LM_NUM * F.lit(1_000_000_000))
        )
        & ((F.col("n_cov") * QF_BP_DEN) <= F.col("n_tokens"))
    )
    return j.filter(keep).select("doc_id", "source", "n_tokens")


def q_curate_round7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round's surface composed as ONE attested pipeline, in the
    order a real curation run applies it: the fused quality filter
    (LM + boilerplate + length, integer-rule cuts) selects the kept
    set; chunk-level dedup REWRITES the kept documents; the per-source
    report prices the whole run (docs in/kept, token mass in/out,
    chunks removed). Every stage is the same machinery its standalone
    registry row attests — this row attests the composition."""
    from .operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    kept = _quality_kept(docs)
    rw = dedup.chunk_dedup_rewrite(
        docs.join(kept.select("doc_id"), "doc_id"),
        chunk_tokens=CHUNK_REWRITE_TOKENS,
    )
    per_src = (
        kept.join(rw, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("tokens_in"),
            F.sum("cleaned_n_tokens").alias("tokens_out"),
            F.sum("n_removed").alias("chunks_removed"),
        )
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    z = F.lit(0).cast("bigint")
    return (
        totals.join(per_src, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", z).alias("n_kept"),
            F.coalesce("tokens_in", z).alias("tokens_in"),
            F.coalesce("tokens_out", z).alias("tokens_out"),
            F.coalesce("chunks_removed", z).alias("chunks_removed"),
            F.when(
                F.coalesce("tokens_in", z) > 0,
                F.round(
                    F.col("tokens_out").cast("double")
                    / F.col("tokens_in").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("token_yield"),
        )
        .orderBy("source")
    )


SQL_CURATE_ROUND7 = f"""
WITH {_sql_lm_grams()},
{_BP_CTES},
j AS (
  SELECT doc.doc_id, doc.source,
         CAST(coalesce(p.n_scored, 0) AS BIGINT) AS n_scored,
         CAST(coalesce(p.score_q9, 0) AS BIGINT) AS score_q9,
         b.n_tokens, b.n_cov
  FROM documents doc
  LEFT JOIN p ON doc.doc_id = p.doc_id
  JOIN bp_per_doc b ON doc.doc_id = b.doc_id
),
keptd AS (
  SELECT doc_id, source, n_tokens FROM j
  WHERE n_tokens >= {QF_MIN_TOKENS}
    AND score_q9 * {QF_LM_DEN}
        >= n_scored * {QF_LM_NUM} * 1000000000
    AND n_cov * {QF_BP_DEN} <= n_tokens
),
rwd AS (
  SELECT d.doc_id, {_W_SQL} AS w
  FROM documents d JOIN keptd USING (doc_id)
),
{_chunk_rewrite_ctes("rwd")},
per_src AS (
  SELECT source, count(*) AS n_kept,
         sum(k.n_tokens) AS tokens_in,
         sum(len(list_filter(regexp_split_to_array(coalesce(cleaned, ''),
             ' '), x -> x != ''))) AS tokens_out,
         sum(coalesce(n_removed, 0)) AS chunks_removed
  FROM keptd k LEFT JOIN rwp ON k.doc_id = rwp.doc_id
  GROUP BY source
)
SELECT t.source,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(tokens_in, 0) AS BIGINT) AS tokens_in,
       CAST(coalesce(tokens_out, 0) AS BIGINT) AS tokens_out,
       CAST(coalesce(chunks_removed, 0) AS BIGINT) AS chunks_removed,
       CASE WHEN coalesce(tokens_in, 0) > 0
            THEN round(CAST(tokens_out AS DOUBLE)
                       / CAST(tokens_in AS DOUBLE), 6)
            ELSE 0.0 END AS token_yield
FROM (SELECT source, count(*) AS n_docs FROM documents GROUP BY source) t
LEFT JOIN per_src USING (source)
ORDER BY t.source
"""


# --- round 7: DCT perceptual hash (pHash) through the codec path ----------


def q_image_phash_mixed_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit DCT perceptual hash of every document's 16x16 thumbnail
    through the REAL codec path (even doc_ids PNG, odd baseline JPEG)
    — integer-exact DCT over a quantized cosine table, so the oracle
    recomputes the hash codec-free from the cell formula and the value
    gate attests the whole marker/huffman/dequant/IDCT machinery at a
    4x larger image than the dHash rows (operators/multimodal
    .image_phash_table)."""
    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    n2 = multimodal.PHASH_N * multimodal.PHASH_N
    cells = docs.select(
        "doc_id", F.expr(text._WORDS).alias("_w")
    ).select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {n2 - 1}), i -> CAST(conv(substring("
            "md5(CASE WHEN i < size(_w) THEN _w[i] ELSE '' END), 1, 2),"
            " 16, 10) AS INT))"
        ).alias("cells"),
    )
    return multimodal.image_phash_table(cells, codec="mixed").orderBy(
        "doc_id"
    )


def _sql_image_phash() -> str:
    from .operators.multimodal import PHASH_COS, PHASH_N

    ct_rows = ", ".join(
        f"({k}, {n}, {PHASH_COS[k][n]})"
        for k in range(8)
        for n in range(PHASH_N)
    )
    n2 = PHASH_N * PHASH_N
    return f"""
WITH d AS (SELECT doc_id, {_W_SQL} AS w FROM documents),
cells AS (
  SELECT doc_id, i.i AS idx, {_dhash_word_sql("i.i")} AS val
  FROM d, range(0, {n2}) i(i)
),
x AS (SELECT doc_id, idx // {PHASH_N} AS r, idx % {PHASH_N} AS n, val
      FROM cells),
ct(k, n, c) AS (SELECT * FROM (VALUES {ct_rows}) v(k, n, c)),
t1 AS (
  SELECT x.doc_id, ct.k AS u, x.n AS n, sum(ct.c * x.val) AS s
  FROM x JOIN ct ON ct.n = x.r GROUP BY x.doc_id, ct.k, x.n
),
t2 AS (
  SELECT t1.doc_id, t1.u, c2.k AS v, sum(t1.s * c2.c) AS coeff
  FROM t1 JOIN ct c2 ON c2.n = t1.n GROUP BY t1.doc_id, t1.u, c2.k
),
low AS (SELECT doc_id, u, v, coeff FROM t2 WHERE NOT (u = 0 AND v = 0)),
med AS (
  SELECT doc_id, coeff AS med FROM (
    SELECT doc_id, coeff,
           row_number() OVER (PARTITION BY doc_id ORDER BY coeff) AS rn
    FROM low) WHERE rn = 32
),
h AS (
  SELECT l.doc_id,
         sum(CASE WHEN l.coeff > m.med
             THEN (CAST(1 AS BIGINT) << (l.u * 8 + l.v - 1))
             ELSE CAST(0 AS BIGINT) END) AS phash
  FROM low l JOIN med m USING (doc_id) GROUP BY l.doc_id
)
SELECT doc_id, CAST(phash AS BIGINT) AS phash FROM h ORDER BY doc_id
"""


SQL_IMAGE_PHASH_MIXED_CODEC = _sql_image_phash()


# --- round 8: integer-grid BM25 retrieval ---------------------------------

BM25_QUERY = ["hash", "join", "spark", "vector"]
BM25_K = 25


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus retrieval for a fixed query under integer-grid BM25
    (operators/retrieval.bm25_topk): log-free RSJ odds idf + exact
    rational tf saturation, BIGINT per-doc sums — bit-checkable top-k on
    any partitioning."""
    from .operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(docs, BM25_QUERY, k=BM25_K)


def _sql_bm25_topk() -> str:
    from .operators import retrieval

    return "WITH " + retrieval.bm25_oracle_sql(BM25_QUERY, k=BM25_K)


SQL_BM25_TOPK = _sql_bm25_topk()


# --- round 8: retrieval-guarded curation composition ----------------------

#: benchmark-probe query + drop threshold for the decontamination guard
DECON_QUERY = ["customer", "query", "table"]
DECON_Q9 = 900_000_000


def q_curate_round8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7's curation pipeline extended with a RETRIEVAL-GUARDED
    decontamination stage, composed as ONE attested plan: the fused
    quality filter selects the kept set; integer-grid BM25 scores every
    kept document against a fixed benchmark probe and drops scores >=
    the threshold (the retrieve-then-drop decontamination shape — a
    benchmark passage is the probe, high-scoring near-matches leave the
    corpus); chunk-level dedup REWRITES the survivors; the per-source
    report prices the run including the decontaminated count. BM25
    corpus statistics (df/N/avgdl) are computed over the KEPT set — the
    corpus actually being guarded. The kept set is `_quality_kept` —
    the exact rule `curate_round7` applies."""
    from .operators import dedup, retrieval

    docs = load_table(spark, sf_dir, "documents")
    kept = _quality_kept(docs)
    kept_docs = docs.join(kept.select("doc_id"), "doc_id")
    flagged = (
        retrieval.bm25_scores(kept_docs, DECON_QUERY)
        .filter(F.col("score_q9") >= DECON_Q9)
        .select("doc_id")
    )
    clean = kept.join(flagged, "doc_id", "left_anti")
    rw = dedup.chunk_dedup_rewrite(
        docs.join(clean.select("doc_id"), "doc_id"),
        chunk_tokens=CHUNK_REWRITE_TOKENS,
    )
    decon = (
        kept.join(flagged, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_decontam"))
    )
    per_src = (
        clean.join(rw, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("tokens_in"),
            F.sum("cleaned_n_tokens").alias("tokens_out"),
            F.sum("n_removed").alias("chunks_removed"),
        )
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    z = F.lit(0).cast("bigint")
    return (
        totals.join(per_src, "source", "left")
        .join(decon, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", z).alias("n_kept"),
            F.coalesce("n_decontam", z).alias("n_decontam"),
            F.coalesce("tokens_in", z).alias("tokens_in"),
            F.coalesce("tokens_out", z).alias("tokens_out"),
            F.coalesce("chunks_removed", z).alias("chunks_removed"),
        )
        .orderBy("source")
    )


def _sql_curate_round8() -> str:
    from .operators.retrieval import bm25_scores_ctes

    bm = bm25_scores_ctes(
        DECON_QUERY,
        docs_sql="(SELECT d.* FROM documents d JOIN keptd USING (doc_id))",
    )
    return f"""
WITH {_sql_lm_grams()},
{_BP_CTES},
j AS (
  SELECT doc.doc_id, doc.source,
         CAST(coalesce(p.n_scored, 0) AS BIGINT) AS n_scored,
         CAST(coalesce(p.score_q9, 0) AS BIGINT) AS score_q9,
         b.n_tokens, b.n_cov
  FROM documents doc
  LEFT JOIN p ON doc.doc_id = p.doc_id
  JOIN bp_per_doc b ON doc.doc_id = b.doc_id
),
keptd AS (
  SELECT doc_id, source, n_tokens FROM j
  WHERE n_tokens >= {QF_MIN_TOKENS}
    AND score_q9 * {QF_LM_DEN}
        >= n_scored * {QF_LM_NUM} * 1000000000
    AND n_cov * {QF_BP_DEN} <= n_tokens
),
{bm},
flagged AS (
  SELECT doc_id FROM bmscored
  WHERE n_hit_terms > 0 AND score_q9 >= {DECON_Q9}
),
cleand AS (
  SELECT k.* FROM keptd k ANTI JOIN flagged USING (doc_id)
),
rwd AS (
  SELECT d.doc_id, {_W_SQL} AS w
  FROM documents d JOIN cleand USING (doc_id)
),
{_chunk_rewrite_ctes("rwd")},
decon AS (
  SELECT source, count(*) AS n_decontam
  FROM keptd JOIN flagged USING (doc_id) GROUP BY source
),
per_src AS (
  SELECT source, count(*) AS n_kept,
         sum(k.n_tokens) AS tokens_in,
         sum(len(list_filter(regexp_split_to_array(coalesce(cleaned, ''),
             ' '), x -> x != ''))) AS tokens_out,
         sum(coalesce(n_removed, 0)) AS chunks_removed
  FROM cleand k LEFT JOIN rwp ON k.doc_id = rwp.doc_id
  GROUP BY source
),
totals AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
SELECT t.source,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(n_decontam, 0) AS BIGINT) AS n_decontam,
       CAST(coalesce(tokens_in, 0) AS BIGINT) AS tokens_in,
       CAST(coalesce(tokens_out, 0) AS BIGINT) AS tokens_out,
       CAST(coalesce(chunks_removed, 0) AS BIGINT) AS chunks_removed
FROM totals t
LEFT JOIN per_src USING (source)
LEFT JOIN decon USING (source)
ORDER BY source
"""


SQL_CURATE_ROUND8 = _sql_curate_round8()


# --- round 8: attested PII redaction rewrite -------------------------------


def q_pii_redact_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PII REWRITE attested, not just the report: the augmented
    corpus (same deterministic in-query fixture as the scan row) runs
    through operators/text.pii_redact and the full redacted text is
    value-hashed via md5 — any drift in pattern order, span boundaries,
    or replacement tokens diverges. Chained regexp_replace: zero
    shuffles, zero Python."""
    docs = _pii_augmented(load_table(spark, sf_dir, "documents"))
    red = text.pii_redact(docs)
    return red.select(
        "doc_id",
        F.md5(F.col("text_redacted")).alias("redacted_md5"),
        F.col("chars_delta").cast("long").alias("chars_delta"),
    ).orderBy("doc_id")


def _sql_pii_redact_rewrite() -> str:
    red = "text"
    for _name, pat, repl in text.PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
WITH {_SQL_PII_AUG.strip().lstrip()}
SELECT doc_id,
       md5({red}) AS redacted_md5,
       CAST(len(text) - len({red}) AS BIGINT) AS chars_delta
FROM aug ORDER BY doc_id
"""


SQL_PII_REDACT_REWRITE = _sql_pii_redact_rewrite()


# ---------------------------------------------------------------------------
# round 8: leakage-free split assignment by near-dup component
# ---------------------------------------------------------------------------

CLUSTER_SPLIT_SALT = "cluster-split"


def q_cluster_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constructive counterpart of ``split_leakage_audit``: assign
    train/val/test by hashing the near-dup COMPONENT label instead of the
    document id, so transitively-duplicated documents land in the same
    split by construction (the standard fix for eval contamination via
    near-dups; cf. Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better"). Pipeline: MinHash-LSH verified pairs ->
    connected components (hash-min propagation, `operators/dedup.py`) ->
    md5 threshold on the component id (`sampling.split_assign`). One
    extra broadcast-sized join over the per-doc label table; the split
    is a pure function of comp, so zero cross-split near-dup pairs —
    structurally, not statistically."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    comp = dedup.connected_components(pairs, docs)
    assigned = sampling.split_assign(
        comp, id_col="comp", salt=CLUSTER_SPLIT_SALT
    )
    return assigned.select("doc_id", "comp", "split").orderBy("doc_id")


_SQL_COMP_H16 = (
    "CAST(list_sum(list_transform(range(0, 4), i -> "
    f"CAST(strpos('0123456789abcdef', substr(md5('{CLUSTER_SPLIT_SALT}:' || "
    "CAST(comp AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)"
    " << (4 * (3 - i)))) AS INTEGER)"
)

SQL_CLUSTER_SPLIT_ASSIGN = f"""
WITH RECURSIVE {_minhash_pair_ctes()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM vpairs
),
reach AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON e.dst = r.id
),
lab AS (SELECT id AS doc_id, min(comp) AS comp FROM reach GROUP BY id),
h AS (SELECT doc_id, comp, {_SQL_COMP_H16} AS b16 FROM lab)
SELECT doc_id, comp,
       CASE WHEN b16 < {65536 * SPLIT_TRAIN_PCT // 100} THEN 'train'
            WHEN b16 < {65536 * (SPLIT_TRAIN_PCT + SPLIT_VAL_PCT) // 100}
              THEN 'val'
            ELSE 'test' END AS split
FROM h ORDER BY doc_id
"""
