"""Corpus-curation operators for training-data pipelines.

North-star additions (ABSENT-IN-REFERENCE, SURVEY.md §2B): the
selection/splitting/packing/scrubbing steps a large-scale LLM training
corpus needs between dedup and tokenization. All pure Column
expressions — whole-stage codegen over the scan, no Python.

Determinism contract (what makes these oracle-able cross-engine):

- Randomness is derived from ``md5(key)`` hex prefixes, not from an
  engine RNG or engine-specific hash (Spark xxhash64 and DuckDB hash
  disagree; md5 hex is identical everywhere). Fixed-width lowercase hex
  compares lexicographically == numerically, so thresholds are hex
  string literals and the comparison never leaves string land.
- Scores avoid transcendentals: IEEE +,-,*,/ are correctly rounded and
  reproducible across engines, ``ln``/``exp`` are not. The BM25 scorer
  therefore uses the rational idf (N - df + .5)/(df + .5) by default and
  documents the trade; pass ``log_idf=True`` for the classic form when
  cross-engine bit equality is not required.

Scale notes per operator are in the docstrings; the common theme is
that sampling/splitting is stateless map-side work (no shuffle), and
anything needing a total order is sharded first so no single window
partition sees more than one shard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dwh_with_dask_spark.operators.caching import CacheScope
from dwh_with_dask_spark.operators.partitioning import barrier, widen
from dwh_with_dask_spark.operators.textstats import tokens


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def md5_prefix(key: Column | str, chars: int = 8, salt: str = "") -> Column:
    """Deterministic pseudo-uniform draw: first ``chars`` hex chars of
    md5(key [|| salt]). Uniform over [0, 16^chars) when the key is
    unique; identical in any engine with md5."""
    k = _col(key).cast("string")
    if salt:
        k = F.concat(k, F.lit(salt))
    return F.substring(F.md5(k), 1, chars)


def frac_to_hex(fraction: float, chars: int = 8) -> str:
    """Hex threshold t such that P[md5_prefix < t] == fraction (up to
    1/16^chars granularity)."""
    space = 16**chars
    return format(min(int(fraction * space), space - 1), f"0{chars}x")


def bernoulli_sample(
    df: DataFrame, fraction: float, key: Column | str, salt: str = ""
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose md5 draw falls
    under the fraction threshold.

    The 100 TB sampling path: a pure filter, no shuffle, no state, no
    seed coordination across executors — the sample is a property of the
    row, so retries/stragglers/re-runs select the same rows (unlike
    ``DataFrame.sample``, whose partition-seeded RNG changes with the
    partitioning). Different ``salt`` values give independent samples.
    """
    return df.filter(md5_prefix(key, 8, salt) < F.lit(frac_to_hex(fraction)))


def hash_split(
    key: Column | str,
    train: float = 0.90,
    val: float = 0.05,
    salt: str = "split",
) -> Column:
    """'train' / 'val' / 'test' assignment from the md5 draw.

    Stateless and stable: a document keeps its split forever, across
    reshuffles, re-partitions, and corpus growth — the property a
    training pipeline actually needs from a splitter (an RNG split
    leaks val docs into train on every re-run). 4 hex chars = 1/65536
    granularity on the boundaries.
    """
    draw = md5_prefix(key, 4, salt)
    t_hex = frac_to_hex(train, 4)
    v_hex = frac_to_hex(train + val, 4)
    return (
        F.when(draw < F.lit(t_hex), F.lit("train"))
        .when(draw < F.lit(v_hex), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def stratified_sample_exact(
    df: DataFrame,
    strata: Column | str,
    n_per_stratum: int,
    key: Column | str,
    salt: str = "strat",
) -> DataFrame:
    """Exactly ``n_per_stratum`` rows per stratum, chosen by the md5
    order (deterministic, uniform within the stratum).

    One shuffle on the stratum key + a bounded per-stratum window. Skew
    warning for the 1000-executor case: a stratum holding half the
    corpus funnels through one window partition — use
    ``stratified_sample_prefiltered`` there, which bounds the window's
    input per stratum while returning the EXACT same rows.
    """
    order = md5_prefix(key, 16, salt)
    w = Window.partitionBy(_col(strata)).orderBy(order, _col(key))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def stratified_sample_prefiltered(
    df: DataFrame,
    strata: str,
    n_per_stratum: int,
    key: str,
    salt: str = "strat",
    margin: float = 4.0,
) -> DataFrame:
    """``stratified_sample_exact`` for skewed strata: EXACT same output,
    but the per-stratum window never sees more than ~margin x quota rows
    from any stratum, so a stratum holding half the corpus no longer
    funnels through one sort partition.

    Two-phase, both phases exact:

    1. A counting pass (map-side-combined, |strata|-sized output) sets a
       per-stratum md5 threshold t = min(1, margin*quota/count). The
       n smallest md5 draws of a stratum all fall below t whenever at
       least ``quota`` rows survive the threshold filter — in that case
       filtering first provably cannot change the window's top-n.
    2. Strata where fewer than ``quota`` rows survived (unlucky draws at
       small margins, or strata smaller than the quota) fall back to
       their FULL row set; by construction those strata are small or
       near-exhausted, so the fallback is cheap. Survivors of safe
       strata union fallback rows feed the same bounded window.

    The per-stratum threshold/count frames are aggregates of size
    |strata| (domain cardinality — metadata-scale next to the corpus),
    hence the broadcast hints. Expected scan cost: one counting pass +
    one filter pass instead of a full-corpus per-stratum sort.
    """
    s, k = F.col(strata), F.col(key)
    order = md5_prefix(key, 16, salt)
    hexspace = float(16**16)

    counts = df.groupBy(strata).agg(F.count("*").alias("__cnt"))
    thresholds = counts.select(
        strata,
        F.least(
            F.lit(1.0),
            F.lit(float(margin) * n_per_stratum) / F.col("__cnt").cast("double"),
        ).alias("__t"),
    )
    drawn = df.withColumn("__draw", order).join(F.broadcast(thresholds), strata)
    survivors = drawn.filter(
        F.conv(F.col("__draw"), 16, 10).cast("double") / F.lit(hexspace)
        < F.col("__t")
    )

    surv_counts = survivors.groupBy(strata).agg(F.count("*").alias("__scnt"))
    unsafe = surv_counts.filter(F.col("__scnt") < n_per_stratum).select(strata)
    # Strata absent from survivors entirely (threshold rounded everything
    # out) are unsafe too: detect against the full stratum list.
    unsafe = unsafe.unionByName(
        counts.select(strata).exceptAll(surv_counts.select(strata))
    )

    safe_rows = survivors.join(F.broadcast(unsafe), strata, "left_anti")
    fallback_rows = drawn.join(F.broadcast(unsafe), strata, "left_semi")
    candidates = safe_rows.unionByName(fallback_rows)

    w = Window.partitionBy(s).orderBy(F.col("__draw"), k)
    return (
        candidates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .select(*df.columns)  # original order: the strata join moved its key first
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight: Column | str,
    key: Column | str,
    salt: str = "wsamp",
) -> DataFrame:
    """Deterministic size-k weighted sample (probability-proportional-
    to-size) by sequential Poisson sampling: priority = u / w with a
    uniform md5 draw u, keep the k smallest priorities (Ohlsson's
    published order-sampling scheme — heavier rows draw systematically
    smaller priorities).

    Cross-engine determinism: u is an 8-hex-digit md5 prefix divided by
    16^8 — one IEEE division, one more for the priority, both exact; no
    RNG, no pow(). The top-k itself is a TakeOrderedAndProject (partial
    per-partition heaps, no full sort, no shuffle of the data — the
    same physical shape as any Spark top-k).

    Rows with NULL or non-positive weight are excluded up front: PPS
    gives them zero inclusion probability, and without the filter a
    zero weight makes ``u/w`` NULL, which Spark orders FIRST ascending
    (DuckDB orders it LAST) — the filter removes both the wrong-answer
    and the cross-engine-divergence path at once.
    """
    u = F.conv(md5_prefix(key, 8, salt), 16, 10).cast("double") / F.lit(
        float(16**8)
    )
    w = _col(weight).cast("double")
    return (
        df.filter(w > 0)
        .withColumn("__prio", u / w)
        .orderBy(F.col("__prio").asc(), _col(key).asc())
        .limit(k)
        .drop("__prio")
    )


def log_weighted_sample(
    df: DataFrame,
    k: int,
    log_weight: Column | str,
    key: Column | str,
    salt: str = "wsamp",
) -> DataFrame:
    """``weighted_sample`` for weights carried in LOG space: the same
    sequential-Poisson order sampling (keep the k smallest priorities),
    with priority computed as ``ln(u) − log_w`` instead of ``u / w`` —
    order-identical because ln is monotone and u, w > 0, but never
    materializes ``exp(log_w)`` (which under- or overflows for the
    log-ratio weights DSIR emits and would reintroduce a libm call per
    engine). The priority is rounded to 9 dp — the repo's established
    idiom (temperature_sample's rates) so a last-ulp ln() difference
    between engines cannot reorder the k-th boundary; ties break on
    ``key``. Rows with NULL log-weight are excluded (no weight row ==
    zero inclusion probability).

    Same physical shape as ``weighted_sample``: one TakeOrderedAndProject
    (per-partition heaps), no full sort, no shuffle of the data."""
    u = F.conv(md5_prefix(key, 8, salt), 16, 10).cast("double") / F.lit(
        float(16**8)
    )
    lw = _col(log_weight).cast("double")
    return (
        df.filter(lw.isNotNull())
        .withColumn("__prio", F.round(F.log(u) - lw, 9))
        .orderBy(F.col("__prio").asc(), _col(key).asc())
        .limit(k)
        .drop("__prio")
    )


def dsir_resample(
    df: DataFrame,
    target: Column,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    smoothing: float = 1.0,
    salt: str = "dsir",
    scope: CacheScope | None = None,
) -> DataFrame:
    """The RESAMPLE half of DSIR (Xie et al. 2023): select ``k``
    documents with probability proportional to the importance weight
    ``exp(dsir_logw)`` — i.e. steer a raw crawl toward the ``target``
    domain's feature profile. Composition of the two existing pieces:
    ``dsir_importance`` supplies the per-document log weight,
    ``log_weighted_sample`` draws the PPS sample deterministically
    (md5-draw priorities, no RNG). Documents with no weight row (zero
    tokens) have zero inclusion probability, per the inner join.

    Scale shape: the weight pass is dsir_importance's single
    tokenize+explode (state O(buckets)); the resample adds one
    broadcast-or-shuffle join batch-keyed on ``id_col`` and a top-k —
    nothing corpus-ordered, nothing driver-side."""
    scope = scope or CacheScope()
    wts = dsir_importance(
        df, target, text_col, id_col, buckets, smoothing, scope=scope
    )
    joined = df.join(wts.select(id_col, "dsir_logw"), id_col)
    out = log_weighted_sample(joined, k, "dsir_logw", id_col, salt=salt)
    return out


def pack_sequences(
    df: DataFrame,
    token_count_col: Column | str,
    budget: int,
    key: Column | str,
    n_shards: int = 16,
    salt: str = "pack",
) -> DataFrame:
    """Greedy contiguous sequence packing: assign each document a
    ``pack_id`` so consecutive documents (in deterministic md5-shard
    order) fill a ``budget``-token context window.

    A pack may overflow by at most its last document (standard
    streaming-packing semantics — the alternative, splitting documents,
    is a tokenizer-level concern). Output adds ``shard``, ``pack_id``
    (globally unique = shard * 2^32 + local pack), and ``pack_pos``
    (cumulative tokens before this doc within its pack).

    Scale shape: documents are hashed into ``n_shards`` independent
    shards; the running sum is a window WITHIN a shard, so no global
    total order and no single-partition funnel — raise ``n_shards`` so
    each shard's token mass fits one task comfortably. Packing quality
    is unaffected (packs never span shards by construction).
    """
    toks = _col(token_count_col).cast("long")
    shard = (
        F.conv(md5_prefix(key, 4, salt), 16, 10).cast("long") % n_shards
    ).alias("shard")
    order = md5_prefix(key, 16, salt)
    d = df.withColumn("shard", shard)
    w = (
        Window.partitionBy("shard")
        .orderBy(order, _col(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(toks).over(w)
    before = cum - toks  # tokens already placed ahead of this doc
    local_pack = F.floor(before / F.lit(budget))
    return (
        d.withColumn("__cum", cum)
        .withColumn(
            "pack_id",
            (F.col("shard") * F.lit(2**32) + local_pack).cast("long"),
        )
        .withColumn(
            "pack_pos",
            ((F.col("__cum") - toks) - local_pack * F.lit(budget)).cast("long"),
        )
        .drop("__cum")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token-window chunks:
    (id, chunk_id, n_tokens, chunk_text) — the context-window splitting
    step before tokenization/embedding.

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk may be short; a doc
    shorter than one chunk yields exactly one chunk. Pure higher-order
    column functions (sequence -> transform -> slice -> posexplode):
    the token array materializes once per document and chunking is
    array slicing in whole-stage codegen — no UDF, no shuffle at all
    (chunking is embarrassingly row-local; the output is written
    straight back out or fed to the next map-side stage).
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("__toks") - F.lit(overlap)) / F.lit(stride)).cast("int"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(F.col("__toks"), i * stride + 1, chunk_tokens),
    )
    return toks.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "__chunk"),
    ).select(
        id_col,
        "chunk_id",
        F.size("__chunk").alias("n_tokens"),
        F.array_join("__chunk", " ").alias("chunk_text"),
    )


def chunk_text_udtf():
    """The same chunking semantics as a Spark 4 Python UDTF — the
    lateral-join form usable straight from SQL:

        spark.udtf.register("chunk_text", chunk_text_udtf())
        SELECT d.doc_id, c.* FROM documents d,
               LATERAL chunk_text(d.text, 32, 8) c

    Row-at-a-time Python, so the VECTORIZED ``chunk_documents`` is the
    hot-path implementation (higher-order array ops, whole-stage
    codegen); this exists to complete the UDF API surface for callers
    who need ad-hoc SQL-side table functions, and is equivalence-tested
    against the vectorized op (tests/test_curation.py). Returns the
    UDTF object (created lazily so importing this module never requires
    an active Spark context).
    """
    from pyspark.sql.functions import udtf

    class _ChunkText:
        def eval(self, text: str, chunk_tokens: int, overlap: int):
            import re

            stride = chunk_tokens - overlap
            # twin of dedup.text_tokens: ASCII \s (Java semantics) and
            # no empty tokens for blank text
            toks = [
                t
                for t in re.split(r"\s+", (text or "").lower(), flags=re.ASCII)
                if t
            ]
            n_chunks = max(1, -(-(len(toks) - overlap) // stride))
            for i in range(n_chunks):
                chunk = toks[i * stride : i * stride + chunk_tokens]
                yield i, len(chunk), " ".join(chunk)

    return udtf(
        _ChunkText,
        returnType="chunk_id int, n_tokens int, chunk_text string",
    )


def contamination_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint_col: Column | None = None,
    train: float = 0.90,
    val: float = 0.05,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Train→eval contamination check: eval-split documents whose
    content fingerprint also appears in the train split.

    The decontamination step of an LLM data pipeline, composed from the
    engine's own parts: ``hash_split`` assigns splits statelessly,
    ``textstats.doc_fingerprint`` (min-md5 over word 5-grams) keys the
    match, and the probe is a semi-join on the fingerprint — shuffles
    16-byte keys, never documents; at 100 TB the (smaller) eval side
    builds the hash table.
    """
    from dwh_with_dask_spark.operators.textstats import doc_fingerprint

    fp = fingerprint_col if fingerprint_col is not None else doc_fingerprint(text_col)
    # Persisted: both sides of the semi-join consume it, and without
    # materialization each side re-scans and re-fingerprints the whole
    # corpus (min-md5 over every 5-gram — the expensive part). Three
    # narrow columns per doc is the cheap thing to store. Lifecycle:
    # caller-owned via ``scope`` (operators.caching).
    scope = scope or CacheScope()
    tagged = scope.persist(
        df.select(
            F.col(id_col),
            hash_split(id_col, train, val).alias("split"),
            fp.alias("fingerprint"),
        )
    )
    train_fps = tagged.filter(F.col("split") == "train").select("fingerprint")
    out = (
        tagged.filter(F.col("split") != "train")
        .join(train_fps, "fingerprint", "left_semi")
        .select(id_col, "split", "fingerprint")
    )
    return out


# --- Bloom-filter decontamination ---------------------------------------


def token_budget_sample(
    df: DataFrame,
    budget: dict[str, int] | int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    salt: str = "tbudget",
    scope: CacheScope | None = None,
) -> DataFrame:
    """Fill-to-token-budget mixture sampling — the "take N tokens from
    web, M from code" recipe step of a training-data pipeline: per
    source, documents are taken in deterministic md5-draw order until
    the source's token budget is reached (a doc is kept iff its
    RUNNING token total, itself included, stays within budget).
    ``budget`` is per-source (dict — sources absent from the recipe are
    EXCLUDED) or one int applied to every source. Same md5 draw idiom
    as the samplers: stateless, engine-reproducible, re-salt for an
    independent draw.

    Scale shape — this is a per-source running SUM, and the naive
    ``Window.partitionBy(source)`` puts each source's entire corpus in
    one task. Instead the ``sequential_id`` broadcast-offset idiom
    (operators/ids.py) is applied to sums: range-sort on (source,
    draw, id) ONCE, stamp partition ids, aggregate one (pid, source)
    token partial per slice, prefix-sum those on the driver
    (#partitions × #sources tiny rows), broadcast the offsets back,
    and finish with a window over (pid, source) — partition-LOCAL
    slices, bounded by partition size, parallel across the cluster.
    The pid stamp is pinned by a persist through ``scope``: act on the
    result before releasing a caller-supplied scope.

    Output: (id, source, n_tokens, cum_tokens) for every kept doc.

    Streaming: the running sum is order-dependent, so this operator is
    batch-only; the streaming leg is ``streaming.docs.
    token_budget_sink`` — draw order within a micro-batch (this
    operator verbatim over the batch with REMAINING budgets, which
    composes exactly), arrival order across batches, batch-id
    idempotent state so replay never double-counts.
    """
    from dwh_with_dask_spark.operators.dedup import text_tokens

    scope = scope or CacheScope()
    tok = (
        F.col(token_col)
        if token_col is not None
        else F.size(text_tokens(text_col))
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        tok.cast("long").alias("n_tokens"),
        md5_prefix(id_col, 8, salt).alias("__draw"),
    )
    # Persisted BEFORE the range repartition: the range partitioner
    # SAMPLES its input to pick boundaries, which would evaluate the
    # tokenize (the expensive part of n_tokens) a second time over the
    # whole corpus — measured 7.0x growth per 10x at sf10 without this,
    # vs the narrow 4-column cache both passes share.
    base = scope.persist(base)
    if isinstance(budget, dict):
        srcs = [(s, int(b)) for s, b in sorted(budget.items())]
        bmap = F.create_map(
            *[x for s, b in srcs for x in (F.lit(s), F.lit(b))]
        )
        base = base.filter(F.col("source").isin([s for s, _ in srcs]))
        budget_col = bmap[F.col("source")]
    else:
        budget_col = F.lit(int(budget))

    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    srt = base.repartitionByRange(
        n_part, "source", "__draw", "id"
    ).sortWithinPartitions("source", "__draw", "id")
    stamped = scope.persist(
        srt.withColumn("__pid", F.spark_partition_id()).withColumn(
            "__mid", F.monotonically_increasing_id()
        )
    )
    partials = (
        stamped.groupBy("__pid", "source")
        .agg(F.sum("n_tokens").alias("__part_sum"))
        .collect()
    )
    # range partitions are ordered by pid, so the per-source offset of a
    # slice is the sum of the same source's partials in smaller pids
    by_src: dict = {}
    offsets = []
    for r in sorted(partials, key=lambda r: (r.source, r["__pid"])):
        offsets.append((r["__pid"], r.source, by_src.get(r.source, 0)))
        # a slice whose docs all have NULL text sums to NULL — zero
        # tokens contributed, not a driver crash
        by_src[r.source] = by_src.get(r.source, 0) + int(r["__part_sum"] or 0)
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    # the source column keeps ITS OWN type (nothing requires string)
    src_type = base.schema["source"].dataType
    off_df = df.sparkSession.createDataFrame(
        offsets,
        StructType(
            [
                StructField("__pid", IntegerType()),
                StructField("source", src_type),
                StructField("__off", LongType()),
            ]
        ),
    )
    w = (
        Window.partitionBy("__pid", "source")
        .orderBy("__mid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        stamped.join(F.broadcast(off_df), ["__pid", "source"])
        .withColumn(
            "cum_tokens", F.col("__off") + F.sum("n_tokens").over(w)
        )
        .filter(F.col("cum_tokens") <= budget_col)
        .select("id", "source", "n_tokens", "cum_tokens")
    )
    return out


def ngram_decontaminate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    train: float = 0.90,
    val: float = 0.05,
    scope: CacheScope | None = None,
) -> DataFrame:
    """N-GRAM-level train→eval decontamination (the GPT-3 appendix-C
    protocol): for every TRAIN document, count its distinct word
    ``n``-grams that also occur anywhere in the eval (val+test) splits;
    emit only documents with at least one shared n-gram — the
    removal/cleaning candidates. Finer than the whole-document
    fingerprint of ``contamination_pairs``: a train doc that QUOTES an
    eval answer shares n-grams without sharing a fingerprint.

    Plan: one shingle explode of the corpus (``dedup._doc_shingles`` —
    the same widen-once inverted-index block as the Jaccard family);
    the split tag is a pure function of the id, so it attaches to the
    exploded rows without a join. The eval n-gram set semi-joins the
    train side on the shingle; n-gram strings shuffle once each side.
    In production the eval side is a handful of benchmarks — tiny
    against the corpus, broadcastable; here it is a split of the same
    table, so the join is left unhinted and AQE picks the strategy.

    Output: (id, n_shared, n_grams, share_frac) — distinct shared
    n-grams, the doc's distinct n-gram count, and their ratio.
    """
    from dwh_with_dask_spark.operators.dedup import _doc_shingles

    scope = scope or CacheScope()
    sh = scope.persist(
        _doc_shingles(df, id_col, text_col, n).withColumn(
            "split", hash_split(F.col("id"), train, val)
        )
    )
    eval_grams = (
        sh.filter(F.col("split") != "train").select("shingle").distinct()
    )
    train_sh = sh.filter(F.col("split") == "train")
    sizes = train_sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        train_sh.join(eval_grams, "shingle", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = hits.join(sizes, "id").select(
        "id",
        "n_shared",
        "n_grams",
        (
            F.col("n_shared").cast("double") / F.col("n_grams").cast("double")
        ).alias("share_frac"),
    )
    return out


def bloom_positions(
    fp: Column, k: int = 3, m: int = 4096, salt: str = "bloom"
) -> Column:
    """The ``k`` bloom-filter bit positions of a fingerprint: md5-derived
    indices into an ``m``-bit filter (array<long>). md5-based so the SAME
    filter rebuilds in any engine — the oracle contract."""
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(fp, F.lit(f"{salt}{i}"))), 1, 8),
                16,
                10,
            ).cast("long")
            % m
            for i in range(k)
        ]
    )


def bloom_decontaminate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    m: int = 4096,
    train: float = 0.90,
    val: float = 0.05,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Bloom-filter variant of ``contamination_pairs``: eval docs whose
    fingerprint's ``k`` bit positions are ALL set by the train split.

    Same semantics class as a real bloom probe — false positives at the
    standard (1 - e^{-kn/m})^k rate, never false negatives — but built
    from relational parts: the "filter" is the distinct set of train
    positions (≤ m rows ≈ m·8 bytes), which Spark broadcasts, so the
    probe side is a map-side join however large the eval corpus is.
    That is the 100 TB story: the train side reduces to a
    constant-size, storable, UNIONABLE artifact (position sets from
    disjoint corpus shards merge by set-union), and probing never
    shuffles documents. Output: (doc_id, split, n_hits, contaminated)
    for every eval doc, ``contaminated = (n_hits == k)`` — deliberately
    including the filter's false positives, because that IS the bloom
    contract the oracle must reproduce.
    """
    from dwh_with_dask_spark.operators.textstats import doc_fingerprint

    scope = scope or CacheScope()
    tagged = scope.persist(
        df.select(
            F.col(id_col),
            hash_split(id_col, train, val).alias("split"),
            bloom_positions(doc_fingerprint(text_col), k, m).alias("__pos"),
        )
    )
    train_pos = (
        tagged.filter(F.col("split") == "train")
        .select(F.explode("__pos").alias("pos"))
        .distinct()
        .withColumn("__set", F.lit(1))
    )
    probes = tagged.filter(F.col("split") != "train").select(
        id_col, "split", F.explode("__pos").alias("pos")
    )
    out = (
        probes.join(F.broadcast(train_pos), "pos", "left")
        .groupBy(id_col, "split")
        .agg(F.sum(F.coalesce(F.col("__set"), F.lit(0))).alias("n_hits"))
        .withColumn("contaminated", F.col("n_hits") == k)
    )
    return out


# --- Out-of-vocabulary rate ----------------------------------------------


def oov_rate(
    df: DataFrame,
    vocab_size: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` terms (by total frequency, ties to the
    alphabetically-first term): (doc_id, n_tokens, n_oov, oov_rate).

    The tokenizer-fit proxy a data pipeline scores before training: a
    high OOV rate against the planned vocabulary marks junk or
    out-of-domain text. Plan: one explode + (doc, term)-keyed count
    [the corpus-sized shuffle], a vocabulary-sized ranking window, and
    a broadcast join of the tiny vocab back onto the per-doc term
    counts — the corpus is scanned and exploded ONCE.
    """
    base = widen(df.select(id_col, text_col), id_col).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    tf = base.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("__tf"))
    vocab = (
        tf.groupBy("term")
        .agg(F.sum("__tf").alias("__total"))
        .withColumn(
            "__rank",
            F.row_number().over(
                Window.orderBy(F.col("__total").desc(), F.col("term").asc())
            ),
        )
        .filter(F.col("__rank") <= vocab_size)
        .select("term", F.lit(1).alias("__in_vocab"))
    )
    return (
        tf.join(F.broadcast(vocab), "term", "left")
        .groupBy(id_col)
        .agg(
            F.sum("__tf").alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), F.col("__tf")).otherwise(
                    F.lit(0)
                )
            ).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
        )
    )


# --- PII scrubbing -------------------------------------------------------

# Patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround, explicit classes only.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_counts(text: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_ipv4) occurrence counts."""
    c = F.coalesce(_col(text), F.lit(""))
    return (
        F.regexp_count(c, F.lit(EMAIL_RE)),
        F.regexp_count(c, F.lit(IPV4_RE)),
    )


def pii_scrub(text: Column | str) -> Column:
    """Text with emails/IPv4s replaced by typed placeholder tokens.
    Pure regexp_replace — codegen'd, single pass over the corpus."""
    c = F.coalesce(_col(text), F.lit(""))
    scrubbed = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(scrubbed, IPV4_RE, "<IP>")


# --- BM25 ----------------------------------------------------------------


def bm25_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    log_idf: bool = False,
) -> DataFrame:
    """Per-(doc, term) BM25 relevance scores over the whole corpus:
    (doc_id, term, tf, df, score).

    Distributed shape (the inverted-index build a search/quality
    pipeline runs at corpus scale):

    1. explode normalized tokens -> groupBy(doc, term).count() — ONE
       shuffle with map-side partial counts (the explode never
       materializes; Tungsten pipelines scan->explode->partial-agg);
    2. document frequency df = count over a partition-only window on
       term, directly over the tf rows — one term-keyed shuffle of
       (doc, term) pairs, NO join and NO second pass over the corpus.
       (The groupBy(term)+join-back formulation re-derives the tf
       subtree on the build side — column pruning makes the two copies
       non-identical, so exchange reuse never kicks in and the corpus
       is scanned and exploded twice; measured 2x on the whole query.)
    3. corpus stats (N, avgdl) — derived from the aggregated tf frame
       (per-doc rollup of the inverted index, then a 1-row aggregate),
       broadcast. Whether the optimizer shares the (doc, term) exchange
       between the stats and scoring branches (ReusedExchange) is
       version- and pruning-sensitive — on the current engine it does
       NOT fire, so the stats branch re-derives the tf subtree; the
       sf1 measurements show that duplicate subtree costs far less
       than the parallelism guard above, and persisting tf to force a
       single pass measured SLOWER (2.14 s vs 1.97 s — cache write +
       read outweighs the recompute at this shape). Consequence of the
       rollup formulation: N and avgdl are over INDEXED documents
       (>= 1 token). A zero-token document has no postings, contributes
       no output rows, and — like any inverted-index-backed BM25 —
       does not dilute avgdl;
    4. score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) — pure
       column arithmetic after the window, no further movement.

    ``log_idf=False`` (default) uses the rational idf
    (N - df + 0.5)/(df + 0.5): same ordering information, but only
    IEEE-exact ops so results reproduce bit-for-bit on any engine —
    ``ln`` is implementation-defined at the last ulp and breaks
    cross-engine hash checks. Set ``log_idf=True`` for textbook BM25.
    """
    # Two plan guards on the tokenize stage, both measured at sf1:
    # 1. Repartition BEFORE tokenizing. A corpus arriving as few large
    #    parquet files otherwise runs the CPU-heavy normalize+split+
    #    explode+partial-count at FILE parallelism (sf1: 2 tasks on 32
    #    cores — 3.3 s vs 2.0 s for the whole query). Same hazard and
    #    fix as dedup._doc_shingles; the exchange also doubles as the
    #    projection-barrier below.
    # 2. Materialize the token array as a named column, then explode
    #    the attribute: inlining `tokens(text)` into both explode() and
    #    size() makes the post-Generate projection re-normalize and
    #    re-split the WHOLE document once per emitted token (O(tokens x
    #    doc length) — measured ~2x on this query).
    tf = _bm25_postings(docs, id_col, text_col)
    # Per-doc rollup of the aggregated postings: doc-count-sized.
    # sum(tf) per doc IS the doc length (total token occurrences), so
    # avgdl = sum(__ntf)/n_docs is bit-identical to sum(dl)/n_docs —
    # and because the stats branch genuinely CONSUMES the tf count,
    # RemoveRedundantAggregates cannot fuse this rollup into a direct
    # per-doc aggregate over the raw corpus: both branches keep the
    # byte-identical (doc, term, dl) aggregate underneath, the shared
    # exchange canonicalizes equal, and ReusedExchange makes the whole
    # query a single tokenize pass. (Deriving avgdl from max(dl) alone
    # reads nicer but lets column pruning drop the count and the
    # optimizer collapse the branch back into a second corpus scan —
    # verified in the physical plan.)
    doclens = tf.groupBy(id_col).agg(F.sum("tf").alias("__ntf"))
    stats = doclens.select(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("__ntf").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    joined = tf.crossJoin(F.broadcast(stats))
    score = _bm25_score_col(k1, b, log_idf)
    return joined.select(
        id_col, "term", "tf", "df", score.alias("score")
    )


def _bm25_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Raw inverted-index postings — (id, term, dl, tf) — the
    corpus-LOCAL half of BM25 (everything here depends only on the
    document itself, which is what makes the stored index refreshable:
    an appended batch's postings are computable from the batch alone).
    Carries the plan guards documented in ``bm25_scores``."""
    base = widen(docs.select(id_col, text_col), id_col)
    base = barrier(base.select(F.col(id_col), tokens(text_col).alias("__toks")))
    base = base.select(
        F.col(id_col), F.size("__toks").alias("dl"), F.explode("__toks").alias("term")
    )
    return base.groupBy(id_col, "term", "dl").agg(F.count(F.lit(1)).alias("tf"))


def _bm25_score_col(k1: float, b: float, log_idf: bool) -> Column:
    """The ONE BM25 scoring expression — a fixed IEEE tree over columns
    ``tf, df, dl`` (per posting) and ``n_docs, avgdl`` (corpus stats).
    ``bm25_scores`` evaluates it at build time over the whole corpus;
    ``bm25_search_indexed`` evaluates the SAME tree at probe time over
    stored raw postings — scores agree bit-for-bit because the tree,
    not just the formula, is shared."""
    idf_rational = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    idf = F.log(idf_rational + F.lit(1.0)) if log_idf else idf_rational
    tf_d = F.col("tf").cast("double")
    norm = tf_d + F.lit(k1) * (
        F.lit(1.0)
        - F.lit(b)
        + F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    return idf * ((tf_d * F.lit(k1 + 1.0)) / norm)


def bm25_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kw,
) -> DataFrame:
    """Top-k characteristic terms per document by BM25.

    Rank by (tf desc, df asc, term asc) — integer-deterministic, so the
    selected rows are identical cross-engine even where two scores tie
    in the last ulp; the score column itself is IEEE-exact (see
    bm25_scores).
    """
    scored = bm25_scores(docs, id_col=id_col, text_col=text_col, **kw)
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(id_col, "term", "tf", "df", "score", F.col("__rn").alias("rank"))
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    use_qtf: bool = False,
    **kw,
) -> DataFrame:
    """Top-``k`` documents for a SET-of-terms query by summed BM25 —
    duplicate query terms collapse by default (the ``isin`` filter
    matches each distinct term once; the DuckDB oracle's IN-list has
    the same set semantics). ``use_qtf=True`` applies textbook BM25's
    query-term-frequency weighting instead: each distinct term's score
    is multiplied by its count in ``query_terms`` (a driver-side
    Counter shipped as a tiny map literal — duplicates then MEAN
    something, matching Robertson's qtf·score formulation) —
    retrieval over the same inverted index ``bm25_scores`` builds (the
    search half of the pipeline: quality probes, near-eval-set lookups,
    boilerplate hunts all phrase as "give me the docs that score
    highest for these terms"). Output: (id, n_hit, bm25) with ``bm25``
    rounded to 6 decimals (per-doc sum over the query's matched terms
    is an order-dependent double fold — the repo's standard round(,6)
    idiom absorbs the last-ulp engine divergence; the scores
    themselves are IEEE-exact rational-idf, see ``bm25_scores``).
    Ties break on id for a deterministic top-k.

    Scale shape: the query-term filter is a tiny IN-list applied to
    the postings BEFORE the per-doc aggregation — only postings for
    the query's terms (df-bounded, not corpus-bounded) reach the
    groupBy, and the final top-k is a TakeOrderedAndProject. With a
    STORED index (persist ``bm25_scores`` output partitioned by term)
    the probe never tokenizes the corpus at all — the same
    stored-index contract as the ANN families.
    """
    scored = bm25_scores(docs, id_col=id_col, text_col=text_col, **kw)
    hits = scored.filter(F.col("term").isin([t for t in query_terms]))
    return _bm25_topk(
        hits, id_col, k, qtf=_qtf_weights(query_terms) if use_qtf else None
    )


def _qtf_weights(query_terms: list[str]) -> dict[str, int]:
    from collections import Counter

    return dict(Counter(query_terms))


def _bm25_topk(
    hits: DataFrame, id_col: str, k: int, qtf: dict[str, int] | None = None
) -> DataFrame:
    """Shared retrieval tail: per-doc sum over matched postings →
    deterministic top-k (TakeOrderedAndProject). ``qtf`` (term → query
    count) weights each posting's score before the sum — a tiny map
    literal, evaluated row-locally."""
    score = F.col("score")
    if qtf and any(v != 1 for v in qtf.values()):
        wmap = F.create_map(
            *[F.lit(x) for kv in qtf.items() for x in (kv[0], float(kv[1]))]
        )
        score = score * F.element_at(wmap, F.col("term"))
    return (
        hits.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hit"),
            F.round(F.sum(score), 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _bm25_bucket(term: Column, n_buckets: int) -> Column:
    """Stable term → bucket id, computable on BOTH sides: Spark's crc32
    and Python's zlib.crc32 are the same CRC-32 over UTF-8 bytes, so
    the probe can enumerate its buckets driver-side without a Spark
    job (unlike xxhash64, which has no stdlib twin)."""
    return F.crc32(F.encode(term, "UTF-8")) % n_buckets


def _bm25_write_segment(
    postings: DataFrame, target: str, n_buckets: int
) -> dict:
    """Write one index SEGMENT — raw postings partitioned by term
    bucket — into a staging dir, then publish it at ``target`` with one
    ``os.rename``. The staging name is DOT-prefixed
    (``.__seg=N.inprogress``): Spark's FileIndex ignores dot/underscore
    paths and the refresh's ``__seg=*`` glob never matches it, so a
    reader concurrent with (or a restart after) a half-written refresh
    sees only complete segments — a crashed staging dir is invisible
    litter the next writer clears. Also writes the segment's
    corpus-stats sidecar (``_bm25_seg.json``: exact n_docs / total
    token count) INSIDE the staging dir before the rename — a segment's
    postings and its stats publish atomically together. Returns the
    stats."""
    import json as _json
    import os
    import shutil

    staging = os.path.join(
        os.path.dirname(target),
        "." + os.path.basename(target) + ".inprogress",
    )
    shutil.rmtree(staging, ignore_errors=True)
    (
        postings.withColumn("__bucket", _bm25_bucket(F.col("term"), n_buckets))
        .repartition("__bucket")
        .write.partitionBy("__bucket")
        .parquet(staging)
    )
    # Stats from the WRITTEN bytes (describe exactly what the segment
    # serves): n_docs = distinct ids, total_len = Σ tf (= Σ doc lengths).
    written = postings.sparkSession.read.parquet(staging)
    id_name = [c for c in written.columns if c not in ("term", "dl", "tf", "__bucket")][0]
    srow = written.agg(
        F.countDistinct(id_name).alias("n_docs"),
        F.coalesce(F.sum("tf"), F.lit(0)).alias("total_len"),
    ).first()
    stats = {"n_docs": int(srow["n_docs"]), "total_len": int(srow["total_len"])}
    with open(os.path.join(staging, "_bm25_seg.json"), "w") as f:
        _json.dump(stats, f)
    os.rename(staging, target)
    return stats


def build_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    overwrite: bool = False,
    **kw,
) -> str:
    """Materialize the BM25 inverted index ONCE — the stored-index half
    of the contract ``bm25_search`` documents (and the treatment
    ``corpus_index``/``build_srp_index`` give their families). Returns
    ``path``.

    The index stores RAW postings (id, term, tf, dl) — never scores:
    scores embed corpus-global stats (N, avgdl, df), so a score-bearing
    index forces a full corpus re-tokenize on every append. Splitting
    corpus-LOCAL state (postings — computable per batch) from GLOBAL
    state (a per-segment stats sidecar summed at probe time; df counted
    over the probed postings themselves) makes refresh O(batch):
    ``refresh_bm25_index`` tokenizes ONLY the new documents and
    publishes them as one more segment, and the probe's scores over
    base+appended equal a full rebuild over the union bit-for-bit
    (same ``_bm25_score_col`` tree, same exact-integer stats).

    Layout::

        path/_bm25_meta.json                 id_col, n_buckets, default
                                             scoring params, format=2
        path/__seg=N/_bm25_seg.json          exact {n_docs, total_len}
        path/__seg=N/__bucket=B/*.parquet    (id, term, tf, dl)

    ``__bucket`` = crc32(term) % ``n_buckets`` (probe-computable
    driver-side via stdlib zlib); ``__seg``/``__bucket`` are partition
    directories, so a probe's bucket IN-list is directory pruning
    across every segment at once. Each segment publishes via one
    ``os.rename`` of a staging dir built OUTSIDE the index (a reader
    never sees a partial segment; a crash leaves only staging litter
    that the next build clears). Single-writer, like the repo's other
    stored indexes; appended documents must be NEW ids (the
    ``incremental_dedup`` contract — re-adding an id double-counts it,
    exactly as appending it to the corpus table would).

    Scale shape: at 100 TB the index is df-bounded per term and the
    bucket count is the knob for probe-side partition pruning — a
    query's IN-list touches len(distinct buckets(query)) directories
    per segment, not the corpus; daily appends add segments without
    touching old bytes (compact by rebuilding when segment count hurts
    listing)."""
    import json as _json
    import os
    import shutil

    if os.path.exists(path) and not overwrite:
        raise FileExistsError(
            f"artifact already exists at {path} (overwrite=False)"
        )
    # Build the FULL staging directory before touching the existing
    # index: a failure anywhere in the expensive tokenize/write leaves
    # the old artifact untouched at ``path`` (no-partial-artifact
    # invariant; the swap below is the same rename-aside dance
    # ``compact_bm25_index`` and ``fsutil.staged_publish`` use).
    staging = path + ".inprogress"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    meta = {
        "format": 2,
        "id_col": id_col,
        "text_col": text_col,
        "n_buckets": n_buckets,
        "params": dict(kw),
    }
    with open(os.path.join(staging, "_bm25_meta.json"), "w") as f:
        _json.dump(meta, f)
    postings = _bm25_postings(docs, id_col, text_col)
    _bm25_write_segment(
        postings, os.path.join(staging, "__seg=0"), n_buckets
    )
    retired = path + ".old"
    shutil.rmtree(retired, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, retired)
    os.rename(staging, path)
    shutil.rmtree(retired, ignore_errors=True)
    return path


def refresh_bm25_index(
    docs_batch: DataFrame,
    path: str,
    text_col: str | None = None,
    auto_compact_at: int | None = None,
) -> dict:
    """Append a batch of NEW documents to a ``build_bm25_index`` table
    in O(batch): tokenize ONLY the batch, publish its postings as the
    next ``__seg=K`` directory (one atomic rename), with the segment's
    exact corpus-stats sidecar inside. Nothing already stored is read
    or rewritten — the probe-time scorer folds the new segment's
    postings into df and its stats into N/avgdl automatically, so a
    probe after refresh equals a full rebuild over the union
    (asserted bit-for-bit in tests). Returns the new segment's stats.

    ``auto_compact_at=N`` turns the measured compaction POLICY into a
    mechanism: after the segment publishes, if the index now holds
    >= N segments, ``compact_bm25_index`` runs in-line (identical
    probe answers before and after — same postings, same summed
    stats). Default off (None) so schedulers that already compact
    out-of-band keep full control; the measured recommendation is
    16-32 (probe latency is flat through ~8 segments and ~2x at 64,
    BENCH_SCALE's segment-count curve; compaction itself costs ~2
    probes and is O(index bytes), never O(corpus)). A pipeline calling
    refresh hourly with the default would otherwise walk silently into
    that degradation.

    Contract: batch ids must be new (same append-only rule as
    ``incremental_dedup`` — a re-added id is double-counted, as it
    would be in the corpus table itself). Single writer."""
    import glob
    import json as _json
    import os

    with open(os.path.join(path, "_bm25_meta.json")) as f:
        meta = _json.load(f)
    if meta.get("format") != 2:
        raise ValueError(f"not a refreshable (format-2) BM25 index: {path}")
    # clear litter from any PREVIOUS crashed refresh (dot-prefixed, so
    # it was invisible to readers; harmless but untidy)
    import shutil

    for stale in glob.glob(os.path.join(path, ".__seg=*.inprogress")):
        shutil.rmtree(stale, ignore_errors=True)
    segs = [
        int(os.path.basename(d).split("=", 1)[1])
        for d in glob.glob(os.path.join(path, "__seg=*"))
    ]
    nxt = max(segs) + 1 if segs else 0
    postings = _bm25_postings(
        docs_batch, meta["id_col"], text_col or meta.get("text_col", "text")
    )
    out = _bm25_write_segment(
        postings, os.path.join(path, f"__seg={nxt}"), meta["n_buckets"]
    )
    if auto_compact_at is not None:
        n_segs = len(glob.glob(os.path.join(path, "__seg=*")))
        if n_segs >= auto_compact_at:
            compact_bm25_index(docs_batch.sparkSession, path)
    return out


def bm25_search_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float | None = None,
    b: float | None = None,
    log_idf: bool | None = None,
    use_qtf: bool = False,
) -> DataFrame:
    """Top-``k`` retrieval against a ``build_bm25_index`` table — the
    probe NEVER tokenizes the corpus: it reads only the index
    directories whose bucket ids the query's terms hash to (driver-side
    crc32, zero Spark jobs to plan the probe; ``__seg``/``__bucket``
    are partition columns, so the bucket IN-list is directory-level
    partition pruning across all segments), filters the postings by the
    term IN-list (row-group min/max inside each bucket), and SCORES AT
    PROBE TIME: df is counted over the probed postings (complete per
    term by construction — a term's postings all live in its bucket),
    N/avgdl come from summing the per-segment exact-integer sidecars
    (driver-side, no Spark job), and the score is the same
    ``_bm25_score_col`` IEEE tree ``bm25_scores`` uses — bit-identical
    to the recompute path, segments or not.

    Scoring params (``k1``, ``b``, ``log_idf``) default to the values
    recorded at build time and are applied HERE, not baked into stored
    bytes — pass overrides to rescore the same index under different
    params with zero rebuild (nothing is silently served under params
    the caller did not ask for). Same set-of-terms semantics as
    ``bm25_search`` by default; ``use_qtf=True`` applies the same
    query-term-frequency weighting."""
    import glob
    import json as _json
    import os
    import zlib

    with open(os.path.join(path, "_bm25_meta.json")) as f:
        meta = _json.load(f)
    if meta.get("format") != 2:
        raise ValueError(
            f"not a format-2 (raw-postings) BM25 index: {path} — "
            "rebuild with build_bm25_index (the score-bearing v1 "
            "layout has no per-segment stats and cannot be scored "
            "at probe time)"
        )
    id_col, n_buckets = meta["id_col"], meta["n_buckets"]
    params = meta.get("params", {})
    k1 = params.get("k1", 1.2) if k1 is None else k1
    b = params.get("b", 0.75) if b is None else b
    log_idf = params.get("log_idf", False) if log_idf is None else log_idf
    n_docs, total_len = 0, 0
    for sj in glob.glob(os.path.join(path, "__seg=*", "_bm25_seg.json")):
        with open(sj) as f:
            s = _json.load(f)
        n_docs += s["n_docs"]
        total_len += s["total_len"]
    terms = sorted(set(query_terms))
    buckets = sorted({zlib.crc32(t.encode("utf-8")) % n_buckets for t in terms})
    idx = spark.read.parquet(path)
    hits = idx.filter(
        F.col("__bucket").isin(buckets) & F.col("term").isin(terms)
    )
    # df over the probed postings == corpus df for these terms; the
    # same exact-division avgdl as bm25_scores' stats rollup.
    # avgdl divided driver-side: Python's float division is the same
    # correctly-rounded IEEE op Spark's double Divide performs, so the
    # literal is bit-identical to bm25_scores' in-plan division — and
    # an empty index (n_docs=0, probe matches nothing anyway) never
    # trips ANSI divide-by-zero.
    avgdl = total_len / n_docs if n_docs else 0.0
    hits = hits.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).withColumn("n_docs", F.lit(n_docs)).withColumn("avgdl", F.lit(avgdl))
    scored = hits.withColumn("score", _bm25_score_col(k1, b, log_idf))
    return _bm25_topk(
        scored, id_col, k,
        qtf=_qtf_weights(query_terms) if use_qtf else None,
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    key: Column | str,
    alpha: float = 0.5,
    target_rows: int = 300,
    salt: str = "temp",
    profile: DataFrame | None = None,
) -> DataFrame:
    """Temperature-based group rebalancing: sample so group shares
    follow ``c_g^alpha`` (normalized) instead of raw counts — the
    multilingual alpha-sampling scheme of the public mT5/XLM-R
    pipelines (alpha < 1 upsamples tail languages relative to head
    ones; alpha = 1 keeps natural proportions, alpha = 0 equalizes).

    Per-group acceptance rate ``r_g = min(1, target_rows * s_g / c_g)``
    with ``s_g = c_g^alpha / Σ c^alpha``; each row keeps iff its md5
    draw (the ``weighted_sample`` u idiom — no RNG) falls under its
    group's rate, so the expected sample hits the target shares while
    membership stays a stateless per-row filter — re-partitioning,
    re-running, or growing the corpus never flips an accepted row.

    Plan: one group-count aggregation (group-cardinality-sized), rates
    derived row-locally on that tiny frame, broadcast back, filter.
    ``profile`` supplies a separate static frame to derive the rates
    from — REQUIRED when ``df`` is a streaming DataFrame (a streaming
    groupBy would be an unwatermarked aggregation; with a static
    profile the whole operator is a stream-static broadcast join + a
    stateless filter, so the curation policy applies to a live ingest
    stream unchanged).
    Rates round to 9 dp so the one pow() lands on the same literal in
    any engine (draws have 2^-32 granularity — a 1e-9-rounded rate
    cannot disagree across engines' last-ulp pow differences).
    Output: input rows that survive + their group's ``rate``.
    """
    src = profile if profile is not None else df
    cnt = src.groupBy(F.col(group_col).alias("__g")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = F.pow(F.col("__c").cast("double"), F.lit(float(alpha)))
    weights = cnt.select("__g", "__c", w.alias("__w"))
    total_w = weights.agg(F.sum(F.col("__w").cast("decimal(38,12)")).alias("__tw"))
    rates = weights.crossJoin(F.broadcast(total_w)).select(
        "__g",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(target_rows))
                * (F.col("__w") / F.col("__tw").cast("double"))
                / F.col("__c").cast("double"),
            ),
            9,
        ).alias("rate"),
    )
    u = F.conv(md5_prefix(key, 8, salt), 16, 10).cast("double") / F.lit(
        float(16**8)
    )
    return (
        df.join(F.broadcast(rates), df[group_col] == F.col("__g"))
        .filter(u < F.col("rate"))
        .drop("__g")
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
    key: Column | str,
    weight_col: str | None = None,
    budget_frac: float = 0.5,
    salt: str = "mix",
) -> DataFrame:
    """Dataset-mixture sampling: draw a corpus whose per-group WEIGHT
    shares follow ``target_shares`` (the Pile/Dolma-style source mixing
    step), spending ``budget_frac`` of the total weight.

    ``rate_g = min(1, B * s_g / W_g)`` with ``W_g`` the group's weight
    mass (row count, or ``weight_col`` — e.g. characters/tokens, so
    shares are token-share not doc-share) and ``B = budget_frac * ΣW``.
    Acceptance is the stateless md5-draw filter (temperature_sample's
    idiom, rates rounded to 9 dp for cross-engine identity); groups
    absent from ``target_shares`` drop entirely. Doc-level acceptance
    approximates weight-share within each group by the LLN — exact
    per-group weight hits need the PPS path (weighted_sample).

    Plan: one group-weight aggregation, a broadcast share table, rates
    derived on the group-cardinality frame, one filter. Zero extra
    passes over the corpus.
    """
    shares_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(g, float(s)) for g, s in sorted(target_shares.items())],
            "__g string, __s double",
        )
    )
    w = (
        F.col(weight_col).cast("decimal(38,6)")
        if weight_col
        else F.lit(1).cast("decimal(38,6)")
    )
    wsum = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.sum(w).alias("__w")
    )
    total = wsum.agg(F.sum("__w").alias("__tw"))
    rates = (
        wsum.join(shares_df, "__g")
        .crossJoin(F.broadcast(total))
        .select(
            "__g",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(budget_frac))
                    * F.col("__tw").cast("double")
                    * F.col("__s")
                    / F.col("__w").cast("double"),
                ),
                9,
            ).alias("rate"),
        )
    )
    u = F.conv(md5_prefix(key, 8, salt), 16, 10).cast("double") / F.lit(
        float(16**8)
    )
    return (
        df.join(F.broadcast(rates), df[group_col] == F.col("__g"))
        .filter(u < F.col("rate"))
        .drop("__g")
    )


def compact_bm25_index(spark, path: str) -> dict:
    """Compact a multi-segment ``build_bm25_index`` table back to ONE
    segment — O(index bytes), never O(corpus): the stored postings are
    raw (id, term, tf, dl) rows, so compaction is a read of every
    segment's parquet + one repartition-by-bucket write; the corpus is
    NEVER re-tokenized (the whole point of the v2 split — contrast the
    v1 score-bearing layout, where any rewrite meant re-scoring and
    re-tokenizing). Run it when ``refresh_bm25_index`` has accumulated
    enough segments that per-query directory listing hurts.

    Publishes a WHOLE new index directory via the rename-aside dance
    (an index exists at ``path`` at every instant; the probe's answers
    are identical before and after by construction — same postings,
    same summed stats, asserted in tests). Single writer. Returns the
    compacted corpus stats.

    WHEN to compact (measured, sf1 corpus, scripts/exp_bm25_segments
    .py → BENCH_SCALE.md): probe latency is flat through ~8 segments
    (0.43/0.37 s at 1/8) and degrades past a few dozen (0.51 s at 64
    vs 0.27 s compacted — per-segment directory listing + sidecar
    reads are the cost, not the postings). Compaction itself cost
    1.35 s (~2 probes) there. Policy: compact when the segment count
    passes ~16-32, or opportunistically once probe latency matters;
    more often is harmless (O(index bytes), never O(corpus))."""
    import glob
    import json as _json
    import os
    import shutil

    with open(os.path.join(path, "_bm25_meta.json")) as f:
        meta = _json.load(f)
    if meta.get("format") != 2:
        raise ValueError(f"not a format-2 BM25 index: {path}")
    segs = glob.glob(os.path.join(path, "__seg=*"))
    stats = {"n_docs": 0, "total_len": 0}
    for sj in segs:
        with open(os.path.join(sj, "_bm25_seg.json")) as f:
            s = _json.load(f)
        stats["n_docs"] += s["n_docs"]
        stats["total_len"] += s["total_len"]
    postings = spark.read.parquet(path).drop("__seg", "__bucket")
    staging = path + ".compact.inprogress"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    with open(os.path.join(staging, "_bm25_meta.json"), "w") as f:
        _json.dump(meta, f)
    seg_dir = os.path.join(staging, "__seg=0")
    (
        postings.withColumn(
            "__bucket", _bm25_bucket(F.col("term"), meta["n_buckets"])
        )
        .repartition("__bucket")
        .write.partitionBy("__bucket")
        .parquet(seg_dir)
    )
    with open(os.path.join(seg_dir, "_bm25_seg.json"), "w") as f:
        _json.dump(stats, f)
    retired = path + ".old"
    shutil.rmtree(retired, ignore_errors=True)
    os.rename(path, retired)
    os.rename(staging, path)
    shutil.rmtree(retired, ignore_errors=True)
    return stats


def dsir_importance(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    smoothing: float = 1.0,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Data Selection via Importance Resampling weights (Xie et al.
    2023, public — the DSIR recipe): per document, the mean hashed-
    n-gram log importance ratio ``log p_target(b) − log p_raw(b)``
    over the document's unigram+bigram feature stream, where both
    distributions are add-``smoothing`` estimates over ``buckets``
    hashed feature buckets (p_raw from the WHOLE corpus, p_target from
    the rows where ``target`` holds). Documents whose feature profile
    resembles the target domain score high; resample/filter on the
    weight to steer a raw crawl toward a curated domain.

    Output: (id_col, n_feats, dsir_logw) for every document with at
    least one token; ``dsir_logw`` is rounded to 6 decimals — the
    repo's established idiom for log-derived oracle columns (bigram
    LM, PSI): it washes out last-ulp libm differences between engines
    while leaving the selection signal untouched.

    Scale shape: ONE tokenize+explode of the corpus into (id, bucket)
    feature rows (bucket = md5-derived, engine-neutral), PERSISTED via
    the repo's CacheScope idiom because the plan consumes it twice
    (the bucket-stats side and the per-document join probe); the
    distribution estimate is a map-side-combined aggregate onto at
    most ``buckets`` rows, whose grand totals come from a window over
    that tiny frame (no separate driver action, so nothing triggers an
    extra corpus scan), and which then BROADCASTs back onto the
    feature stream (never a corpus-sized shuffle for the stats side);
    one groupBy(id) mean. The hashing trick is what makes the
    estimator 100 TB-shaped: vocabulary size never appears, state is
    O(buckets). When ``scope`` is None the persist stays until
    ``spark.catalog.clearCache()`` (see operators/caching.py).
    """
    from dwh_with_dask_spark.operators.dedup import text_tokens
    from dwh_with_dask_spark.operators.partitioning import widen

    toks_df = widen(
        df.select(
            F.col(id_col).alias("id"),
            target.cast("int").alias("__t"),
            text_tokens(text_col).alias("__toks"),
        ),
        "id",
    )
    tk = F.col("__toks")
    grams = F.concat(
        tk,
        F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.concat_ws(" ", F.slice(tk, i, 2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    scope = scope or CacheScope()
    feats = scope.persist(toks_df.select(
        "id",
        "__t",
        F.explode(grams).alias("feat"),
    ).withColumn(
        "bucket",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("feat"), F.lit("|ds"))), 1, 8
                ),
                16,
                10,
            ).cast("long"),
            F.lit(buckets),
        ),
    ))
    stats = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rc"),
        F.sum("__t").alias("tc"),
    )
    # Grand totals as an unpartitioned window over the <=buckets-row
    # stats frame (one partition of at most `buckets` rows) — keeps the
    # whole operator a single lazy plan with no driver action.
    w = Window.partitionBy()
    s = float(smoothing)
    ratio = (
        F.log(
            (F.col("tc") + F.lit(s))
            / (F.sum("tc").over(w) + F.lit(s * buckets))
        )
        - F.log(
            (F.col("rc") + F.lit(s))
            / (F.sum("rc").over(w) + F.lit(s * buckets))
        )
    ).alias("__lr")
    bucket_lr = stats.select("bucket", ratio)
    out = (
        feats.join(F.broadcast(bucket_lr), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.avg("__lr"), 6).alias("dsir_logw"),
        )
        .withColumnRenamed("id", id_col)
    )
    return out
