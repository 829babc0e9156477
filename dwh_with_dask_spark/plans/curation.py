"""Corpus-curation queries (north-star additions, SURVEY.md §2B).

Deterministic sampling / splitting / packing / scrubbing / scoring over
the ``documents`` table, each with a DuckDB oracle that reproduces the
semantics exactly — md5-hex draws instead of engine RNGs, hex-literal
thresholds, ln-free IEEE-exact scores (operators/curation.py documents
the determinism contract).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dwh_with_dask_spark.catalog import load_table
from dwh_with_dask_spark.operators import curation as C
from dwh_with_dask_spark.operators import textstats as TS
from dwh_with_dask_spark.operators.textstats import tokens
from dwh_with_dask_spark.operators.partitioning import widen

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# DuckDB twins of dedup.normalize_text / textstats.tokens (kept in sync
# with plans/llm.py).
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS_SQL = f"list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '')"

_SPLIT_T = C.frac_to_hex(0.90, 4)
_SPLIT_V = C.frac_to_hex(0.95, 4)
_BERN_T = C.frac_to_hex(0.25, 8)


@query(
    "corpus_split_hash",
    f"""
    SELECT doc_id,
           CASE
             WHEN substring(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 4)
                  < '{_SPLIT_T}' THEN 'train'
             WHEN substring(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 4)
                  < '{_SPLIT_V}' THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents
    """,
)
def corpus_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 90/5/5 train/val/test assignment from an md5 draw on
    doc_id — stateless, survives re-partitioning and corpus growth."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", C.hash_split("doc_id", 0.90, 0.05).alias("split"))


@query(
    "corpus_sample_bernoulli",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'samp'), 1, 8) < '{_BERN_T}'
    """,
)
def corpus_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% Bernoulli sample — a pure filter (no shuffle,
    no seed coordination), the scale path for corpus subsampling."""
    d = load_table(spark, sf_dir, "documents")
    return C.bernoulli_sample(d, 0.25, "doc_id", salt="samp").select(
        "doc_id", "lang"
    )


@query(
    "corpus_sample_weighted",
    """
    SELECT doc_id, n_chars FROM (
      SELECT doc_id, n_chars,
             (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'wsamp'),
                                      1, 8)) AS BIGINT)::DOUBLE / 4294967296.0)
               / CAST(n_chars AS DOUBLE) AS prio
      FROM documents
      WHERE n_chars > 0)
    ORDER BY prio ASC, doc_id ASC
    LIMIT 100
    """,
)
def corpus_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-100 probability-proportional-to-length sample via sequential
    Poisson order sampling (priority = md5 draw / weight, smallest k) —
    deterministic, runs as TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    return C.weighted_sample(d, 100, "n_chars", "doc_id").select(
        "doc_id", "n_chars"
    )


@query(
    "corpus_sample_stratified",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || 'strat'), 1, 16),
                        doc_id) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language, chosen by md5 order within the
    stratum (uniform, deterministic)."""
    d = load_table(spark, sf_dir, "documents")
    return C.stratified_sample_exact(d, "lang", 20, "doc_id").select(
        "doc_id", "lang"
    )


@query(
    "corpus_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id,
             len({_TOKS_SQL}) AS n_tokens,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'pack'), 1, 4))
                  AS BIGINT) % 16 AS shard,
             substring(md5(CAST(doc_id AS VARCHAR) || 'pack'), 1, 16) AS ord
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens, shard,
             SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY ord, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT doc_id, shard, n_tokens,
           CAST(shard * 4294967296 + ((cum - n_tokens) // 512) AS BIGINT)
               AS pack_id,
           CAST((cum - n_tokens) - ((cum - n_tokens) // 512) * 512 AS BIGINT)
               AS pack_pos
    FROM c
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy 512-token sequence packing in deterministic md5-shard
    order: 16 independent shards, per-shard running sum, pack overflows
    bounded by one document."""
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", F.size(tokens("text")).alias("n_tokens"))
    packed = C.pack_sequences(d, "n_tokens", 512, "doc_id", n_shards=16)
    return packed.select("doc_id", "shard", "n_tokens", "pack_id", "pack_pos")


@query(
    "corpus_chunk_documents",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    c AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, greatest(1, CAST(ceil((len(toks) - 8) / 24.0) AS INT))),
               i -> struct_pack(chunk_id := i,
                                chunk := toks[(i*24+1):(i*24+32)]))) AS u
      FROM t)
    SELECT doc_id,
           CAST(u.chunk_id AS INT) AS chunk_id,
           len(u.chunk) AS n_tokens,
           array_to_string(u.chunk, ' ') AS chunk_text
    FROM c
    """,
)
def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-token chunks with 8-token overlap (stride 24; sized to the
    10-100-token synthetic docs) — the context-window splitting step;
    pure array slicing, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return C.chunk_documents(d, chunk_tokens=32, overlap=8)


@query(
    "corpus_contamination_check",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             CASE
               WHEN substring(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 4)
                    < '{_SPLIT_T}' THEN 'train'
               WHEN substring(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 4)
                    < '{_SPLIT_V}' THEN 'val'
               ELSE 'test'
             END AS split,
             coalesce(list_min(list_transform(
                 range(1, greatest(len(toks) - 3, 1)),
                 i -> md5(array_to_string(toks[i:i+4], ' ')))),
               md5(array_to_string(toks, ' '))) AS fingerprint
      FROM t)
    SELECT doc_id, split, fingerprint FROM g
    WHERE split <> 'train'
      AND fingerprint IN (SELECT fingerprint FROM g WHERE split = 'train')
    """,
)
def corpus_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination probe: eval-split docs whose min-5-gram-md5
    fingerprint appears in the train split — semi-join on 32-char keys,
    never document bodies."""
    d = load_table(spark, sf_dir, "documents")
    return C.contamination_pairs(d)


@query(
    "corpus_token_budget_mixture",
    f"""
    WITH t AS (
      SELECT doc_id, source, len({_TOKS_SQL}) AS n_tokens,
             substring(md5(CAST(doc_id AS VARCHAR) || 'tbudget'), 1, 8)
               AS draw
      FROM documents),
    c AS (
      SELECT doc_id AS id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY draw, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM t)
    SELECT id, source, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 800
    """,
)
def corpus_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-to-token-budget mixture sampling
    (operators.curation.token_budget_sample): per source, docs are
    taken in md5-draw order until 800 tokens are reached — the "take N
    tokens per domain" recipe step. The Spark plan replaces the
    single-task-per-source running-sum window with the sequential_id
    broadcast-offset idiom (range-sort once, per-slice partials,
    driver prefix sums, partition-local windows); the oracle restates
    it as the plain per-source window — values hash-match because the
    running sums are integer arithmetic in draw order on both
    engines."""
    d = load_table(spark, sf_dir, "documents")
    return C.token_budget_sample(d, budget=800)


@query(
    "corpus_ngram_decontaminate",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    raw AS (
      SELECT doc_id AS id,
             unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
                                   i -> array_to_string(toks[i:i+4], ' ')))
               AS shingle
      FROM t),
    sh AS (SELECT DISTINCT id, shingle FROM raw),
    tagged AS (
      SELECT id, shingle,
             substring(md5(CAST(id AS VARCHAR) || 'split'), 1, 4)
               < '{_SPLIT_T}' AS is_train
      FROM sh),
    ev AS (SELECT DISTINCT shingle FROM tagged WHERE NOT is_train),
    tr AS (SELECT id, shingle FROM tagged WHERE is_train),
    sizes AS (SELECT id, COUNT(*) AS n_grams FROM tr GROUP BY id),
    hits AS (
      SELECT id, COUNT(*) AS n_shared
      FROM tr SEMI JOIN ev USING (shingle)
      GROUP BY id)
    SELECT h.id AS doc_id, n_shared, n_grams,
           CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) AS share_frac
    FROM hits h JOIN sizes s ON s.id = h.id
    """,
)
def corpus_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-level decontamination (the GPT-3 appendix-C protocol,
    operators.curation.ngram_decontaminate): every train-split doc
    sharing at least one word-5-gram with the eval splits, with its
    shared-gram count and fraction. Finer than the fingerprint probe
    (corpus_contamination_check): quoting an eval answer shares n-grams
    without sharing a min-hash fingerprint. One shingle explode, split
    tag computed from the id (no join), semi-join on the n-gram."""
    d = load_table(spark, sf_dir, "documents")
    out = C.ngram_decontaminate(d, n=5)
    return out.withColumnRenamed("id", "doc_id")


@query(
    "pii_scrub_docs",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{C.EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{C.IPV4_RE}')) AS n_ipv4,
           sha256(regexp_replace(
               regexp_replace(text, '{C.EMAIL_RE}', '<EMAIL>', 'g'),
               '{C.IPV4_RE}', '<IP>', 'g')) AS scrub_hash
    FROM documents
    """,
)
def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count + replace emails/IPv4s with placeholder
    tokens (patterns valid in both Java regex and RE2). The hash of the
    scrubbed text proves byte-identical replacement cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    n_email, n_ip = C.pii_counts("text")
    return d.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_ip.alias("n_ipv4"),
        F.sha2(C.pii_scrub("text"), 256).alias("scrub_hash"),
    )


@query(
    "corpus_vocab_topk",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    base AS (SELECT doc_id, unnest(toks) AS term FROM t),
    tf AS (
      SELECT term, COUNT(*) AS tf_total, COUNT(DISTINCT doc_id) AS df
      FROM base GROUP BY term),
    tot AS (SELECT SUM(tf_total) AS n_tokens FROM tf),
    ranked AS (
      SELECT term, tf_total, df,
             row_number() OVER (ORDER BY tf_total DESC, term ASC) AS rank,
             SUM(tf_total) OVER (ORDER BY tf_total DESC, term ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum_tf
      FROM tf)
    SELECT term, CAST(tf_total AS BIGINT) AS tf_total, CAST(df AS BIGINT) AS df,
           CAST(rank AS BIGINT) AS rank,
           CAST(CAST(cum_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS DOUBLE)
               AS coverage
    FROM ranked CROSS JOIN tot
    WHERE rank <= 200
    """,
)
def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build (the tokenizer-prep step): top-200 terms by
    total frequency with document frequency, rank, and cumulative
    corpus coverage.

    Shape: explode → one map-side-combined agg to (term, tf, df) —
    the only data-sized shuffle — then ranking/cumsum run over
    vocabulary-cardinality rows. The global window is a single ordered
    pass over the vocab, fine up to tens of millions of terms; at
    larger vocabularies rank within hash shards and merge the tails.
    Coverage is integer sums with ONE final division (deterministic)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(F.col("doc_id"), tokens("text").alias("__toks")).select(
        "doc_id", F.explode("__toks").alias("term")
    )
    tf = base.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf_total"),
        F.countDistinct("doc_id").alias("df"),
    )
    stats = tf.agg(F.sum("tf_total").alias("n_tokens"))
    w = Window.orderBy(F.col("tf_total").desc(), F.col("term").asc())
    ranked = tf.withColumn("rank", F.row_number().over(w)).withColumn(
        "cum_tf", F.sum("tf_total").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        ranked.crossJoin(F.broadcast(stats))
        .filter(F.col("rank") <= 200)
        .select(
            "term",
            "tf_total",
            "df",
            F.col("rank").cast("long").alias("rank"),
            (
                F.col("cum_tf").cast("double") / F.col("n_tokens").cast("double")
            ).alias("coverage"),
        )
    )


@query(
    "corpus_prepare_pipeline",
    f"""
    WITH keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents GROUP BY sha256({_NORM_SQL})),
    kept AS (
      SELECT d.doc_id, len({_TOKS_SQL}) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                  AS DOUBLE) / length(text) AS punct_ratio,
             CASE
               WHEN substring(md5(CAST(d.doc_id AS VARCHAR) || 'split'), 1, 4)
                    < '{_SPLIT_T}' THEN 'train'
               WHEN substring(md5(CAST(d.doc_id AS VARCHAR) || 'split'), 1, 4)
                    < '{_SPLIT_V}' THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents d JOIN keepers USING (doc_id)),
    q AS (
      SELECT doc_id, n_tokens FROM kept
      WHERE n_tokens >= 20 AND punct_ratio < 0.25 AND split = 'train'),
    t AS (
      SELECT doc_id, n_tokens,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'pack'), 1, 4))
                  AS BIGINT) % 16 AS shard,
             substring(md5(CAST(doc_id AS VARCHAR) || 'pack'), 1, 16) AS ord
      FROM q),
    c AS (
      SELECT doc_id, n_tokens, shard,
             SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY ord, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT doc_id, shard, n_tokens,
           CAST(shard * 4294967296 + ((cum - n_tokens) // 256) AS BIGINT)
               AS pack_id,
           CAST((cum - n_tokens) - ((cum - n_tokens) // 256) * 256 AS BIGINT)
               AS pack_pos
    FROM c
    """,
)
def corpus_prepare_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation: exact dedup (keep min doc_id per
    normalized-text sha256) → quality gate (>=20 tokens, punctuation
    ratio < 0.25) → stable hash split (train only) → greedy 256-token
    packing in 16 md5 shards.

    Plan shape (r6 rewrite, 2.4 s -> ~1.4 s sf1): the corpus is scanned
    ONCE — sha256, token count, punct ratio, and split draw all fuse
    into one projection over the (conditionally) widened scan. The
    keeper rule ``doc_id == min(doc_id) per text hash`` runs as a
    window over the doc-sized feature rows (text never shuffles, no
    second scan, no join) — semantically identical to exact_dedup +
    semi-join, which the oracle still expresses as the keepers CTE.
    Then the bounded per-shard packing window. Two narrow-key shuffles
    total (hash window, pack shards)."""
    from dwh_with_dask_spark.operators.dedup import normalize_text
    from dwh_with_dask_spark.operators.textstats import punct_ratio

    d = load_table(spark, sf_dir, "documents")
    feat = widen(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.sha2(normalize_text("text"), 256).alias("__h"),
        F.size(tokens("text")).alias("n_tokens"),
        punct_ratio("text").alias("__punct"),
        C.hash_split("doc_id", 0.90, 0.05).alias("__split"),
    )
    w = Window.partitionBy("__h")
    q = (
        feat.withColumn("__keep", F.min("doc_id").over(w) == F.col("doc_id"))
        .filter(
            F.col("__keep")
            & (F.col("n_tokens") >= 20)
            & (F.col("__punct") < 0.25)
            & (F.col("__split") == "train")
        )
        .select("doc_id", "n_tokens")
    )
    packed = C.pack_sequences(q, "n_tokens", 256, "doc_id", n_shards=16)
    return packed.select("doc_id", "shard", "n_tokens", "pack_id", "pack_pos")


def _term_stream(d: DataFrame) -> DataFrame:
    """Exploded token occurrences, tokenized AFTER the (conditional)
    widening exchange so the one-regex tokenize runs at full
    parallelism; a single explode consumer needs no projection
    barrier."""
    return widen(d.select("text")).select(
        F.explode(tokens("text")).alias("term")
    )


@query(
    "corpus_heavy_hitters",
    f"""
    WITH base AS (SELECT unnest({_TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM base GROUP BY term),
    tot AS (SELECT SUM(cnt) AS total FROM tf)
    SELECT term, cnt,
           CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
    FROM tf CROSS JOIN tot
    WHERE CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) >= 0.0335
    """,
)
def corpus_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: terms carrying >= 3.35% of all token
    occurrences — one map-side-combined count agg (vocabulary-sized
    shuffle) + a broadcast total (operators/sketches.py)."""
    from dwh_with_dask_spark.operators.sketches import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    return heavy_hitters(_term_stream(d), "term", 0.0335)


# DuckDB twin of sketches._cell: md5-derived CMS cell index.
def _cell_sql(key: str, row_expr: str, width: int, salt: str = "cms") -> str:
    return (
        f"CAST(('0x' || substring(md5({key} || '{salt}' || {row_expr}), 1, 8)) "
        f"AS BIGINT) % {width}"
    )


@query(
    "corpus_cms_counts",
    f"""
    WITH base AS (SELECT unnest({_TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM base GROUP BY term),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS i),
    cells AS (
      SELECT i AS row, {_cell_sql("term", "CAST(i AS VARCHAR)", 64)} AS cell,
             CAST(SUM(cnt) AS BIGINT) AS total
      FROM tf CROSS JOIN rows_ GROUP BY 1, 2),
    probes AS (
      SELECT term, cnt, i AS row,
             {_cell_sql("term", "CAST(i AS VARCHAR)", 64)} AS cell
      FROM tf CROSS JOIN rows_)
    SELECT p.term, p.cnt, CAST(MIN(c.total) AS BIGINT) AS cms_est
    FROM probes p JOIN cells c ON p.row = c.row AND p.cell = c.cell
    GROUP BY p.term, p.cnt
    """,
)
def corpus_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch estimates next to exact counts for every term:
    the 4x64 sketch rebuilds identically in DuckDB (md5-derived cells),
    so the min-over-rows estimates hash-match — and est >= cnt always,
    the CMS bound (operators/sketches.py)."""
    from dwh_with_dask_spark.operators.sketches import (
        cms_build_from_counts,
        cms_estimate,
    )

    d = load_table(spark, sf_dir, "documents")
    base = _term_stream(d)
    # ONE tokenize+explode+count of the corpus: the sketch fold, the
    # probe side, and the final join all reference the same counts
    # aggregation, whose shuffle AQE reuses stage-wise across the plan
    # (verified at sf1 — the query costs the counts aggregation alone).
    exact = base.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    sketch = cms_build_from_counts(exact, "term", "cnt", depth=4, width=64)
    est = cms_estimate(sketch, exact.select("term"), "term", depth=4, width=64)
    return exact.join(est, "term").select("term", "cnt", "cms_est")


@query(
    "corpus_bloom_membership",
    f"""
    WITH t AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    ks AS (SELECT unnest(range(0, 4)) AS i),
    cpos AS (
      SELECT DISTINCT
             CAST(('0x' || substring(
               md5(norm || 'bf' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
               % 4096 AS p
      FROM t CROSS JOIN ks WHERE doc_id % 2 = 0),
    words AS (
      SELECT p // 63 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS word
      FROM cpos GROUP BY 1),
    ppos AS (
      SELECT doc_id,
             CAST(('0x' || substring(
               md5(norm || 'bf' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
               % 4096 AS p
      FROM t CROSS JOIN ks),
    hits AS (
      SELECT doc_id,
             CASE WHEN (COALESCE(w.word, 0)
                        & (CAST(1 AS BIGINT) << CAST(p % 63 AS INT)))
                  = (CAST(1 AS BIGINT) << CAST(p % 63 AS INT))
                  THEN 1 ELSE 0 END AS hit
      FROM ppos LEFT JOIN words w ON w.word_idx = p // 63)
    SELECT doc_id, MIN(hit) = 1 AS maybe_in_corpus
    FROM hits GROUP BY doc_id
    """,
)
def corpus_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter seen-set (round 14): build the sparse packed-bitset
    filter (sketches.bloom_build, 4096 bits / 4 md5 hashes / 63 bits
    per word — see the operator docstring for why not 64) over the
    even-doc_id corpus' normalized text, probe EVERY document.
    Even docs must read True (no false negatives, the Bloom contract);
    odd docs read False except md5-determined false positives — which
    the DuckDB oracle reproduces bit-for-bit, since the whole filter
    (positions, packing, probe) is md5/bit arithmetic. The production
    shape: the filter is at most m/63 rows regardless of corpus size,
    broadcast onto an O(batch) probe stream — the have-I-seen-this-key
    gate an ingest pipeline runs before expensive dedup."""
    from dwh_with_dask_spark.operators.dedup import normalize_text
    from dwh_with_dask_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    bloom = bloom_build(corpus, normalize_text("text"), m_bits=4096, k=4)
    return bloom_probe(
        bloom,
        d,
        normalize_text("text"),
        id_col="doc_id",
        m_bits=4096,
        k=4,
        out_col="maybe_in_corpus",
    )


@query(
    "corpus_oov_rate",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    base AS (SELECT doc_id, unnest(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM base GROUP BY 1, 2),
    vocab AS (
      SELECT term, 1 AS in_vocab FROM (
        SELECT term,
               row_number() OVER (ORDER BY SUM(tf) DESC, term ASC) AS rk
        FROM tf GROUP BY term)
      WHERE rk <= 30)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN in_vocab IS NULL THEN tf ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(SUM(CASE WHEN in_vocab IS NULL THEN tf ELSE 0 END) AS DOUBLE)
             / CAST(SUM(tf) AS DOUBLE) AS oov_rate
    FROM tf LEFT JOIN vocab USING (term)
    GROUP BY doc_id
    """,
)
def corpus_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus's own top-30
    vocabulary — one corpus explode, a vocabulary-sized ranking window,
    a broadcast vocab join (operators/curation.py)."""
    d = load_table(spark, sf_dir, "documents")
    return C.oov_rate(d, vocab_size=30)


# DuckDB twin of textstats.doc_fingerprint (min md5 over word 5-grams).
_FP_SQL = (
    "coalesce(list_min(list_transform("
    "range(1, greatest(len(toks) - 3, 1)), "
    "i -> md5(array_to_string(toks[i:i+4], ' ')))), "
    "md5(array_to_string(toks, ' ')))"
)


@query(
    "corpus_bloom_decontaminate",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             CASE
               WHEN substring(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 4)
                    < '{_SPLIT_T}' THEN 'train'
               WHEN substring(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 4)
                    < '{_SPLIT_V}' THEN 'val'
               ELSE 'test'
             END AS split,
             {_FP_SQL} AS fingerprint
      FROM t),
    ks AS (SELECT unnest([0, 1, 2]) AS i),
    pos AS (
      SELECT doc_id, split,
             CAST(('0x' || substring(md5(fingerprint || 'bloom'
                                          || CAST(i AS VARCHAR)), 1, 8))
                  AS BIGINT) % 4096 AS pos
      FROM g CROSS JOIN ks),
    train_pos AS (SELECT DISTINCT pos FROM pos WHERE split = 'train')
    SELECT doc_id, split,
           CAST(SUM(CASE WHEN pos IN (SELECT pos FROM train_pos)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           SUM(CASE WHEN pos IN (SELECT pos FROM train_pos)
                    THEN 1 ELSE 0 END) = 3 AS contaminated
    FROM pos WHERE split <> 'train'
    GROUP BY doc_id, split
    """,
)
def corpus_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination probe: eval docs whose fingerprint's
    3 bit positions are all set by the train split — the train side
    reduces to a <=4096-row broadcastable position set; false positives
    are part of the (deterministic) bloom contract and the oracle
    reproduces them exactly (operators/curation.py)."""
    d = load_table(spark, sf_dir, "documents")
    return C.bloom_decontaminate(d, k=3, m=4096)


# Shared CTE chain for the two BM25 oracles (build + score the same
# inverted index; k1=1.2, b=0.75, rational idf — one definition so the
# formula can never drift between the top-terms and search oracles).
_BM25_SCORED_SQL = f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    base AS (
      SELECT doc_id, unnest(toks) AS term, len(toks) AS dl FROM t),
    tfs AS (
      SELECT doc_id, term, dl, COUNT(*) AS tf
      FROM base GROUP BY doc_id, term, dl),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tfs GROUP BY term),
    doclens AS (SELECT doc_id, MAX(dl) AS dl FROM tfs GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM doclens),
    scored AS (
      SELECT tfs.doc_id, tfs.term, tfs.tf, dfreq.df,
             ((CAST(n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + 0.5)
                / (CAST(dfreq.df AS DOUBLE) + 0.5))
             * ((CAST(tfs.tf AS DOUBLE) * (1.2 + 1.0))
                / (CAST(tfs.tf AS DOUBLE)
                   + 1.2 * ((1.0 - 0.75)
                            + 0.75 * (CAST(tfs.dl AS DOUBLE) / avgdl)))) AS score
      FROM tfs JOIN dfreq USING (term) CROSS JOIN stats)
"""


@query(
    "text_bm25_top_terms",
    f"""
    {_BM25_SCORED_SQL}
    SELECT doc_id, term, tf, df, score, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
)
def text_bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by BM25 (rational idf —
    IEEE-exact, see operators/curation.py): the inverted-index build +
    score a corpus-quality pipeline runs at scale."""
    d = load_table(spark, sf_dir, "documents")
    out = C.bm25_top_terms(d, k=3)
    return out.withColumn("rank", F.col("rank").cast("long")).withColumn(
        "tf", F.col("tf").cast("long")
    ).withColumn("df", F.col("df").cast("long"))


@query(
    "text_bm25_search",
    f"""
    {_BM25_SCORED_SQL}
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
           ROUND(SUM(score), 6) AS bm25
    FROM scored
    WHERE term IN ('spark', 'window', 'merge')
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (operators/curation.py:bm25_search): top-10
    documents for the query {spark, window, merge} by summed
    IEEE-exact rational-idf BM25 — the search half of the inverted
    index text_bm25_top_terms builds. The query-term IN-filter hits
    the postings BEFORE the per-doc aggregation (df-bounded work) and
    the top-k is a TakeOrderedAndProject; round(,6) absorbs the
    order-dependent per-doc double sum."""
    d = load_table(spark, sf_dir, "documents")
    return C.bm25_search(d, ["spark", "window", "merge"], k=10)


@query(
    "text_bm25_search_indexed",
    f"""
    {_BM25_SCORED_SQL}
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
           ROUND(SUM(score), 6) AS bm25
    FROM scored
    WHERE term IN ('spark', 'window', 'merge')
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """,
)
def text_bm25_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED-index BM25 probe (VERDICT r8 ask #2) — same query and
    same oracle as text_bm25_search, but against a persisted
    build_bm25_index table (operators/curation.py): the first
    invocation per corpus builds the index into the content-keyed
    cache (plans/artifacts.py); every later one — including every
    timed bench run after warmup — reads ONLY the bucket directories
    the query's terms crc32-hash to and never tokenizes the corpus.
    Scores hash-match the recompute path by construction (the stored
    postings ARE bm25_scores output)."""
    import os

    from dwh_with_dask_spark.plans.artifacts import artifact_path

    # fmt=2: the raw-postings refreshable layout (round 10) — the key
    # bump retires any cached score-bearing v1 index, which the v2
    # probe would silently mis-score (no _bm25_seg.json sidecars).
    path = artifact_path("bm25", sf_dir, "documents", {"n_buckets": 64, "fmt": 2})
    if not os.path.exists(path):
        C.build_bm25_index(
            load_table(spark, sf_dir, "documents"), path, n_buckets=64
        )
    return C.bm25_search_indexed(
        spark, path, ["spark", "window", "merge"], k=10
    )


# Shared CTE body for the repetition queries: per-(doc, n) top-gram and
# distinct counts for n-grams tagged 1..3 (n=2/3 guards mirror the Spark
# side's empty-array-for-short-docs).
_REP_GRAMS_SQL = f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id, 1 AS n, unnest(toks) AS gram FROM t
      UNION ALL
      SELECT doc_id, 2,
             unnest(list_transform(range(1, greatest(len(toks), 1)),
                                   i -> array_to_string(toks[i:i+1], ' ')))
      FROM t
      UNION ALL
      SELECT doc_id, 3,
             unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                   i -> array_to_string(toks[i:i+2], ' ')))
      FROM t),
    c AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
    p AS (SELECT doc_id, n, MAX(c) AS top_c, SUM(c) AS total,
                 COUNT(*) AS n_distinct
          FROM c GROUP BY 1, 2)
"""


@query(
    "text_repetition_profile",
    _REP_GRAMS_SQL
    + """
    SELECT doc_id,
           MAX(CASE WHEN n = 1 THEN CAST(top_c AS DOUBLE) / CAST(total AS DOUBLE) END)
             AS top_unigram_frac,
           MAX(CASE WHEN n = 2 THEN CAST(top_c AS DOUBLE) / CAST(total AS DOUBLE) END)
             AS top_bigram_frac,
           MAX(CASE WHEN n = 3 THEN CAST(top_c AS DOUBLE) / CAST(total AS DOUBLE) END)
             AS top_trigram_frac,
           MAX(CASE WHEN n = 1 THEN CAST(n_distinct AS DOUBLE) / CAST(total AS DOUBLE) END)
             AS distinct_unigram_ratio
    FROM p GROUP BY doc_id
    """,
)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition stats per doc (top-1/2/3-gram
    occurrence fraction + type/token ratio) — one scan, one explode,
    one (id, n, gram)-keyed count shuffle (operators/textstats.py)."""
    d = load_table(spark, sf_dir, "documents")
    return TS.repetition_profile(d)


@query(
    "text_repetition_filter",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id, 1 AS n, unnest(toks) AS gram FROM t
      UNION ALL
      SELECT doc_id, 2,
             unnest(list_transform(range(1, greatest(len(toks), 1)),
                                   i -> array_to_string(toks[i:i+1], ' ')))
      FROM t),
    c AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
    p AS (SELECT doc_id, n, MAX(c) AS top_c, SUM(c) AS total,
                 COUNT(*) AS n_distinct
          FROM c GROUP BY 1, 2),
    prof AS (
      SELECT doc_id,
             MAX(CASE WHEN n = 2 THEN CAST(top_c AS DOUBLE) / CAST(total AS DOUBLE) END)
               AS bf,
             MAX(CASE WHEN n = 1 THEN CAST(n_distinct AS DOUBLE) / CAST(total AS DOUBLE) END)
               AS dr
      FROM p GROUP BY doc_id)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN prof USING (doc_id)
    WHERE (bf IS NULL OR bf <= 0.05) AND dr >= 0.35
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition gate: docs passing the Gopher-style top-bigram and
    type/token thresholds (semi-join back to the corpus). The operator's
    defaults (0.18/0.20, the public rule-of-thumb values) pass the whole
    clean synthetic corpus, so the registered query tightens them inside
    the observed stat distribution (bf p90=0.069, dr p10=0.32 at sf0.01)
    to keep both rules non-vacuous under the oracle diff."""
    d = load_table(spark, sf_dir, "documents")
    return TS.repetition_filter(
        d, max_top_bigram_frac=0.05, min_distinct_ratio=0.35
    ).select("doc_id", "lang")


@query(
    "corpus_sample_stratified_prefiltered",
    # EXACT same output as corpus_sample_stratified: the prefilter is a
    # physical strategy, not a semantic change, so it must hash-match
    # the plain window oracle.
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || 'strat'), 1, 16),
                        doc_id) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
)
def corpus_sample_stratified_prefiltered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Skew-safe exact stratified sample: per-stratum md5-threshold
    prefilter bounds the window's input (~margin x quota rows per
    stratum), with a counted-sufficiency fallback that keeps the output
    bit-identical to the plain per-stratum window."""
    d = load_table(spark, sf_dir, "documents")
    return C.stratified_sample_prefiltered(d, "lang", 20, "doc_id").select(
        "doc_id", "lang"
    )


@query("bpe_vocab_merges")
def bpe_vocab_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a 30-merge BPE vocabulary from the corpus (rows-only: the
    merge loop is iterative — checkpointed fixpoint over the vocab-sized
    word-frequency table; Sennrich et al. 2016). Deterministic merge
    sequence: tie-break (freq desc, left, right); asserted equal to a
    reference single-machine implementation in tests/test_bpe.py."""
    from dwh_with_dask_spark.operators.bpe import bpe_learn, merges_df

    d = load_table(spark, sf_dir, "documents")
    return merges_df(spark, bpe_learn(d, "text", n_merges=30))


@query("bpe_encode_tokens")
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with a corpus-learned 20-merge BPE vocab
    (rows-only): Arrow-batched mapInPandas with a per-batch word memo;
    output is per-doc word/token counts + a bounded token prefix."""
    from dwh_with_dask_spark.operators.bpe import bpe_encode, bpe_learn

    d = load_table(spark, sf_dir, "documents")
    merges = bpe_learn(d, "text", n_merges=20)
    return bpe_encode(d, merges, "doc_id", "text")


@query("tok_unigram_vocab")
def tok_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer induction (Kudo 2018 / SentencePiece, the
    OTHER tokenizer family next to BPE; rows-only: iterative float EM,
    same class as PCA/BPE): seed substring candidates over the
    vocab-sized word-frequency table, exact forward-backward expected
    counts per EM step (Arrow-batched, corpus never rescanned), prune
    to the target size keeping the single-char closure. Equality to a
    single-machine reference implementation is pinned in
    tests/test_unigram.py."""
    from dwh_with_dask_spark.operators.unigram import unigram_learn

    d = load_table(spark, sf_dir, "documents")
    vocab, _lls = unigram_learn(
        d, "text", vocab_size=128, max_piece_len=6, seed_size=512,
        n_iter=4, prune_every=2,
    )
    return vocab


@query("tok_unigram_encode")
def tok_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi-encode every document under a corpus-learned unigram-LM
    vocabulary (rows-only): exact argmax segmentation, deterministic
    tie-breaks, per-batch word memo. Returns per-doc piece counts + a
    bounded piece prefix (the bpe_encode_tokens shape)."""
    from dwh_with_dask_spark.operators.unigram import (
        unigram_encode,
        unigram_learn,
    )

    d = load_table(spark, sf_dir, "documents")
    vocab, _lls = unigram_learn(
        d, "text", vocab_size=128, max_piece_len=6, seed_size=512,
        n_iter=2, prune_every=2,
    )
    enc = unigram_encode(d, vocab, "text", "doc_id", max_piece_len=6)
    return enc.select(
        F.col("id").alias("doc_id"),
        "n_pieces",
        F.slice("pieces", 1, 12).alias("piece_prefix"),
    )


@query(
    "corpus_sample_temperature",
    """
    WITH cnt AS (SELECT lang AS g, count(*) AS c FROM documents GROUP BY lang),
    w AS (SELECT g, c, pow(CAST(c AS DOUBLE), 0.5) AS w FROM cnt),
    tw AS (SELECT SUM(CAST(w AS DECIMAL(38,12))) AS tw FROM w),
    r AS (
      SELECT g, round(least(1.0,
               300.0 * (w / CAST(tw AS DOUBLE)) / CAST(c AS DOUBLE)), 9)
                 AS rate
      FROM w, tw)
    SELECT d.doc_id, d.lang, r.rate
    FROM documents d JOIN r ON d.lang = r.g
    WHERE (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'temp'),
                                   1, 8)) AS BIGINT)::DOUBLE
           / 4294967296.0) < r.rate
    """,
)
def corpus_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha=0.5 temperature rebalancing across languages (the public
    mT5/XLM-R multilingual sampling scheme): tail languages upsample
    toward sqrt-proportional shares, head languages thin out — one
    tiny group-count aggregation, rates broadcast back, stateless
    md5-draw filter (operators/curation.py:temperature_sample)."""
    d = load_table(spark, sf_dir, "documents")
    out = C.temperature_sample(
        d, "lang", "doc_id", alpha=0.5, target_rows=300
    )
    return out.select("doc_id", "lang", "rate")


_MIX_SHARES = {f"src{i}": (3.0 if i % 2 == 0 else 1.0) for i in range(20)}
_MIX_SHARES = {g: s / sum(_MIX_SHARES.values()) for g, s in _MIX_SHARES.items()}


@query(
    "corpus_mixture_by_source",
    """
    WITH shares(g, s) AS (
      VALUES ('src0', 0.075),
             ('src1', 0.025),
             ('src10', 0.075),
             ('src11', 0.025),
             ('src12', 0.075),
             ('src13', 0.025),
             ('src14', 0.075),
             ('src15', 0.025),
             ('src16', 0.075),
             ('src17', 0.025),
             ('src18', 0.075),
             ('src19', 0.025),
             ('src2', 0.075),
             ('src3', 0.025),
             ('src4', 0.075),
             ('src5', 0.025),
             ('src6', 0.075),
             ('src7', 0.025),
             ('src8', 0.075),
             ('src9', 0.025)),
    wsum AS (
      SELECT source AS g, SUM(CAST(n_chars AS DECIMAL(38,6))) AS w
      FROM documents GROUP BY source),
    total AS (SELECT SUM(w) AS tw FROM wsum),
    rates AS (
      SELECT wsum.g,
             round(least(1.0,
               0.5 * CAST(total.tw AS DOUBLE) * shares.s
                   / CAST(wsum.w AS DOUBLE)), 9) AS rate
      FROM wsum JOIN shares ON wsum.g = shares.g CROSS JOIN total)
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN rates r ON d.source = r.g
    WHERE (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'mix'),
                                   1, 8)) AS BIGINT)::DOUBLE
           / 4294967296.0) < r.rate
""",
)
def corpus_mixture_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pile/Dolma-style source mixing: draw half the corpus's character
    mass with even-numbered sources targeted at 3x the share of odd
    ones — one char-mass aggregation, a broadcast share table, rates
    rounded to 9 dp, stateless md5-draw acceptance
    (operators/curation.py:mixture_sample)."""
    d = load_table(spark, sf_dir, "documents")
    out = C.mixture_sample(
        d, "source", _MIX_SHARES, "doc_id",
        weight_col="n_chars", budget_frac=0.5,
    )
    return out.select("doc_id", "source", "rate")


@query(
    "corpus_c4_rules",
    """
    WITH base AS (
      SELECT doc_id,
             string_split(text, chr(10)) AS lines,
             list_filter(string_split(text, chr(10)), x ->
                 right(rtrim(x), 1) IN ('.', '!', '?', '"')
                 AND len(list_filter(string_split(trim(x), ' '),
                                     w -> w <> '')) >= 5
                 AND NOT contains(lower(x), 'javascript')) AS kept,
             contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
             contains(text, '{') AS has_brace
      FROM documents),
    j AS (
      SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_lines_kept,
             has_lorem_ipsum, has_brace,
             COALESCE(array_to_string(kept, chr(10)), '') AS c4_text
      FROM base)
    SELECT doc_id, n_lines, n_lines_kept, has_lorem_ipsum, has_brace,
           length(c4_text)
             - length(regexp_replace(c4_text, '[.!?]', '', 'g'))
             AS n_sentences,
           (NOT has_lorem_ipsum) AND (NOT has_brace)
             AND (length(c4_text)
                  - length(regexp_replace(c4_text, '[.!?]', '', 'g'))) >= 3
             AS c4_keep
    FROM j
    """,
)
def corpus_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page/line cleaning rules (Raffel et al. 2020) as one row-local
    codegen'd projection — line keep/drop, lorem-ipsum / curly-brace
    page flags, sentence floor (operators/c4.py). The synthetic corpus
    has no newlines or punctuation, so the line rules are exercised by
    the golden unit fixtures (tests/test_curation.py); this entry proves
    the flag/count semantics match the oracle byte-for-byte on 5k docs."""
    from dwh_with_dask_spark.operators.c4 import c4_clean

    d = load_table(spark, sf_dir, "documents")
    return c4_clean(d).select(
        "doc_id", "n_lines", "n_lines_kept", "has_lorem_ipsum",
        "has_brace", "n_sentences", "c4_keep",
    )


# DSIR CTE chain (md5-bucketed unigram+bigram importance ratio) —
# shared by the weights query and the resample query so the resample
# oracle restates the SAME estimator it samples from.
_DSIR_CTES = f"""
    t AS (SELECT doc_id, (lang = 'en') AS tgt, {_TOKS_SQL} AS toks
               FROM documents),
    feats AS (
      SELECT doc_id, tgt, feat FROM (
        SELECT doc_id, tgt,
               unnest(list_concat(
                 toks,
                 CASE WHEN len(toks) >= 2 THEN
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i+1])
                 ELSE [] END)) AS feat
        FROM t)),
    fb AS (
      SELECT doc_id, tgt,
             CAST(('0x' || substring(md5(feat || '|ds'), 1, 8)) AS BIGINT)
               % 4096 AS bucket
      FROM feats),
    stats AS (
      SELECT bucket, COUNT(*) AS rc,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc
      FROM fb GROUP BY bucket),
    tot AS (SELECT SUM(rc) AS rt, SUM(tc) AS tt FROM stats),
    lr AS (
      SELECT bucket,
             ln((tc + 1.0) / (tt + 1.0 * 4096))
               - ln((rc + 1.0) / (rt + 1.0 * 4096)) AS lrv
      FROM stats, tot),
    wts AS (
      SELECT fb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
             round(avg(lr.lrv), 6) AS dsir_logw
      FROM fb JOIN lr USING (bucket)
      GROUP BY fb.doc_id)
    """


@query(
    "curation_dsir_weights",
    f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, n_feats, dsir_logw FROM wts
    """,
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    importance ratio of the 'en' target domain vs the raw corpus —
    high-weight documents read like the target's feature profile. The
    md5-derived buckets make the whole estimator rebuild bit-for-bit in
    DuckDB (full hash-match oracle); the log-mean is rounded to 6
    decimals per the repo's log-column idiom (bigram LM, PSI). State is
    O(buckets)=4096 regardless of corpus size — the hashing trick is
    the 100 TB shape."""
    from dwh_with_dask_spark.operators.curation import dsir_importance

    d = load_table(spark, sf_dir, "documents")
    return dsir_importance(d, F.col("lang") == "en")


@query(
    "curation_dsir_resample",
    f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, lang, dsir_logw FROM (
      SELECT d.doc_id, d.lang, w.dsir_logw,
             round(ln(CAST(('0x' || substring(
                        md5(CAST(d.doc_id AS VARCHAR) || 'dsir'), 1, 8))
                      AS BIGINT)::DOUBLE / 4294967296.0)
                   - w.dsir_logw, 9) AS prio
      FROM documents d JOIN wts w USING (doc_id))
    ORDER BY prio ASC, doc_id ASC
    LIMIT 120
    """,
)
def curation_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING (VERDICT r13 ask #7): the log weights
    wired into the repo's deterministic PPS sampler — select 120 docs
    with probability proportional to exp(dsir_logw), i.e. steer the
    sample toward the 'en' feature profile. Priorities live in log
    space (ln(u) − logw, rounded to 9 dp so a last-ulp ln() difference
    cannot reorder the k-th boundary) and the whole chain — estimator
    buckets, weights, draws, priorities — rebuilds bit-for-bit in
    DuckDB. The steering property itself (en share rises vs the
    corpus) is asserted in tests/test_curation.py."""
    from dwh_with_dask_spark.operators.curation import dsir_resample

    d = load_table(spark, sf_dir, "documents")
    out = dsir_resample(d, F.col("lang") == "en", k=120)
    return out.select("doc_id", "lang", "dsir_logw")


@query(
    "corpus_source_report",
    f"""
    WITH t AS (
      SELECT doc_id, source, lang,
             len({_TOKS_SQL}) AS n_tokens,
             sha256({_NORM_SQL}) AS h
      FROM documents),
    d AS (SELECT h FROM t GROUP BY h HAVING COUNT(*) > 1)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN t.h IN (SELECT h FROM d) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_dup_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6)
             AS mean_tokens,
           round(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS frac_en
    FROM t GROUP BY source
    """,
)
def corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus intake report — the first query a curation run
    issues against a new crawl: volume, exact-duplicate exposure
    (docs whose normalized text recurs ANYWHERE in the corpus, the
    cross-source boilerplate signal), token mass, language mix. One
    tokenize pass + one 64-hex-key duplicate aggregate + one
    source-keyed aggregate; the duplicated-hash set is duplicate-sized
    and broadcasts back (never a second corpus shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    from dwh_with_dask_spark.operators.dedup import normalize_text

    t = widen(d, "doc_id").select(
        "doc_id", "source", "lang",
        F.size(tokens("text")).alias("n_tokens"),
        F.sha2(normalize_text("text"), 256).alias("h"),
    )
    dup = (
        t.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    flagged = t.join(
        F.broadcast(dup.withColumn("__dup", F.lit(1))), "h", "left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("__dup").isNotNull(), 1).otherwise(0)
        ).alias("n_exact_dup_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_tokens"),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("double") / F.count(F.lit(1)),
            6,
        ).alias("frac_en"),
    )
