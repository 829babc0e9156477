"""Deduplication operators for large-scale text corpora.

North-star additions (ABSENT-IN-REFERENCE, SURVEY.md §2B): exact dedup,
n-gram Jaccard pairs, MinHash+LSH near-dup, SimHash. All pure DataFrame
compositions — the hash primitives (sha2/md5/xxhash64) are Spark
builtins, so everything stays JVM-side and codegen'd.

Scale notes (100 TB): exact dedup is one hash-shuffle on a 64-char key
(not the full text). The pairwise operators all avoid the O(n^2) cross
join: ``shingle_pairs`` (exact Jaccard / containment) goes through an
inverted shingle index (the self-join blows
up only on shingles shared by many docs — cap with ``max_shingle_freq``);
MinHash-LSH buckets by band signature so only same-bucket candidates are
joined; SimHash bands its bit-prefixes the same way.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dwh_with_dask_spark.operators.caching import CacheScope, attach, scoped
from dwh_with_dask_spark.operators.partitioning import barrier, widen

#: auto-dispatch decisions, with the measured quantities behind them
_log = logging.getLogger(__name__)


def normalize_text(col: Column | str) -> Column:
    """Canonical form for dedup: lowercase, collapse whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def text_tokens(col: Column | str) -> Column:
    """Whitespace tokens of the lowercased text — ONE regex pass.

    Token-identical to ``split(normalize_text(x), ' ')`` whenever the
    text has at least one token (both forms emit maximal runs of
    non-ASCII-whitespace, lowercased); the boundary empties that
    ``split`` keeps on leading/trailing whitespace are filtered. The
    one divergence is empty/whitespace-only text: this yields ``[]``
    where the two-pass form yielded ``['']`` — the better semantics (a
    blank document has zero tokens), mirrored in the oracle twins via
    ``list_filter``. Why it exists: the normalize-then-split form runs
    TWO regex passes over every byte of the corpus; at sf1 this form
    measured the tokenize+explode floor 1.24 s -> 0.72 s and cut the
    whole token-aggregation query family ~40% (round-6 experiment,
    scripts/exp_tokenize_floor.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != F.lit(""))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct (normalized) text: min id kept + group size.

    groupBy on sha2 of the normalized text — the shuffle key is 64 bytes
    regardless of document size, and map-side partial aggregation means
    the full text never shuffles at all.
    """
    h = F.sha2(normalize_text(text_col), 256).alias("text_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
    paragraphs: Column | None = None,
) -> DataFrame:
    """CCNet-style paragraph-level dedup: remove REPEATED paragraphs
    from documents (keeping each paragraph's first occurrence by
    (doc_id, position) order) and reassemble the cleaned text.

    The sub-document granularity exact dedup a web-scale corpus needs —
    whole-document hashing misses boilerplate (headers, cookie banners,
    license blocks) pasted across millions of otherwise-distinct pages;
    CCNet (Wenzek et al. 2019, public) dedups on paragraph hashes for
    exactly this reason. Output per doc: ``n_paras``, ``n_removed``,
    ``dedup_text``.

    ``paragraphs`` overrides the splitter (e.g. ``F.split(text, '\\n\\n')``
    for real corpora); the default slices the normalized token stream
    into fixed ``window``-token paragraphs — the corpus here is
    single-line, and fixed windows make the semantics exact and
    oracle-able either way.

    Plan shape (100 TB): tokens bind behind a repartition projection
    barrier (the O(len²) lambda-inlining hazard — see ``word_ngrams``),
    then exactly two shuffles: the first-occurrence window keyed on
    md5(paragraph) — 32-char keys, tiny groups (the duplicate count of
    one paragraph), never document bodies — and the per-doc reassembly
    agg. A skew note: a paragraph duplicated across millions of docs
    makes one window group huge; since only rank-1 survives, swap the
    window for a groupBy(hash).agg(min(struct(doc,pos))) + broadcast
    join of the (small) duplicated-hash set when that regime matters.
    """
    if paragraphs is None:
        src = barrier(
            widen(df.select(id_col, text_col), id_col).select(
                F.col(id_col), text_tokens(text_col).alias("__toks")
            )
        )
        tk = F.col("__toks")
        n_paras = F.greatest(
            F.lit(1), F.ceil(F.size(tk) / F.lit(float(window))).cast("int")
        )
        paragraphs = F.transform(
            F.sequence(F.lit(0), n_paras - 1),
            lambda i: F.concat_ws(" ", F.slice(tk, i * window + 1, window)),
        )
    else:
        src = widen(df, id_col)
    exploded = src.select(
        F.col(id_col), F.posexplode(paragraphs).alias("pos", "para")
    )
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy(
        F.col(id_col), F.col("pos")
    )
    ranked = exploded.withColumn("__keep", F.row_number().over(w) == 1)
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(~F.col("__keep"), 1).otherwise(0)).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(F.col("pos"), F.col("para")),
                            )
                        )
                    ),
                    lambda s: s.para,
                ),
                " ",
            ).alias("dedup_text"),
        )
    )


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Array of word n-gram shingles (space-joined), [] if too short.

    Higher-order-function lambdas evaluate interpreted (outside codegen),
    and any subexpression referenced inside the lambda re-evaluates PER
    ELEMENT — naively inlining split() makes this O(len²) per document.
    The outer single-element transform binds the token array once per row
    (a poor man's `let`), so the inner lambda only slices and concats.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = text_tokens(c)
    per_row = F.transform(
        F.array(toks),  # 1-element wrapper: forces single evaluation
        lambda tk: F.when(
            F.size(tk) >= n,
            F.transform(
                # sequence(1, 0) would be DESCENDING, hence the guard.
                F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return F.element_at(per_row, 1)


def _grams_from_tokens(tk: Column, n: int) -> Column:
    """n-gram array from an ALREADY-BOUND token-array column."""
    grams = F.transform(
        # sequence(1, 0) would be DESCENDING, hence the guard below.
        F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
    )
    return F.when(F.size(tk) >= n, grams).otherwise(F.array().cast("array<string>"))


def _doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingle) distinct pairs — the inverted-index building block.

    Plan shape: tokenize BELOW one conditional ``widen`` exchange that
    hash-partitions the TOKEN ARRAYS on ``id``. That one exchange is
    BOTH the projection barrier (no per-element regex re-inlining) and
    the partitioning the downstream ``distinct()`` needs (subset-of-
    grouping-keys rule) — so the exploded shingle rows, the widest
    table in the query, never shuffle a second time. The full
    mechanism write-up, measured alternatives, and regression history
    live in ONE place: BASELINE.md's round-7 section (experiment:
    scripts/exp_jaccard_shape.py; plan guard:
    tests/test_plans.py::test_jaccard_plan_no_shingle_reshuffle).
    """
    toks_df = widen(
        df.select(
            F.col(id_col).alias("id"),
            text_tokens(text_col).alias("__toks"),
        ),
        "id",
    )
    return (
        toks_df
        .select("id", F.explode(_grams_from_tokens(F.col("__toks"), n)).alias("shingle"))
        .distinct()
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.88,
    max_token_df: int | None = None,
    scope: CacheScope | None = None,
    strategy: str = "auto",
    n_blocks: int = 8,
) -> DataFrame:
    """TF-IDF-weighted cosine similarity for all document pairs above
    ``threshold`` — the weighted companion to the set-based
    ``shingle_pairs(kind="jaccard")``: shared RARE tokens dominate the score,
    boilerplate contributes ~nothing, so it finds topical/near-dup
    pairs that unigram Jaccard dilutes.

    Weights: ``w(d,t) = tf(d,t) * ln(N / df(t))``; score =
    ``Σ w_a w_b / (||a|| ||b||)`` rounded to 6 decimals (ln and the
    order-dependent double sums can differ from another engine in the
    last ulps — the repo's standard round(,6) idiom absorbs it).

    Two physical plans for the pair dots, dispatched by ``strategy``
    (round 15):

    - ``"index"`` — the inverted-index self-join (the pre-round-15
      only plan): (id, tok, w) rows collide on the token, so cost is
      ``sum(df(t)²)`` joined rows. The right plan for heavy-tailed
      natural vocabularies where content tokens are near-unique.
    - ``"blocked"`` — block-partitioned GEMM, the sparse twin of
      ``similarity.cosine_pairs_blocked``: per-doc sparse vectors
      replicate to ``n_blocks``(+1)/2 block-pairs, one numpy float64
      matmul per block-pair over the block-local dense vocabulary,
      each unordered pair computed in exactly ONE canonical group
      (deterministic token-sorted column order), only pairs above
      ``threshold - 1e-6`` leave the kernel as (id_a, id_b, dot).
      The final score — round(dot/(na·nb), 6) >= threshold — is the
      SAME Spark expression tree as the index path, so the two plans
      agree wherever the raw cosine is not within float-ulp of a
      6-dp rounding boundary (asserted row-identical on the driver
      corpora; the round-absorbs-sum-order contract is unchanged).
      The right plan when the inverted index's collision-scarcity
      premise fails (small/near-uniform vocabulary); per-task memory
      is (2·n/n_blocks) × block-local-vocab doubles, which is what
      bounds it — do not use it on corpora whose block-local
      vocabulary is itself huge.
    - ``"auto"`` (default) — probe ``sum(df²)`` (the EXACT index join
      row count, one aggregate over the persisted tf) against
      ``n_eff²`` (the all-pairs GEMM entry count): when the collision
      volume exceeds all-pairs, the index premise has failed by
      construction → blocked; otherwise index. MEASURED at sf0.1
      (driver corpus: 31-token vocabulary, df ≈ 3.7k, sum(df²) =
      4.5e8 vs n² = 2.5e7): index 40.1 s → blocked 1.9 s, identical
      output rows (scripts/exp_r15_tfidf_blocked.py).

    ``max_token_df`` drops tokens in more than that many docs before
    the pair stage (IDF down-weights them anyway, so the cap costs
    little score and removes the quadratic hot-token blowup — same
    contract as the Jaccard cap); the dispatch probe runs on the
    capped df table, so auto stays correct under a cap. N is a 1-row
    broadcast, not a driver action.

    .. note:: ``strategy='auto'`` runs TWO EAGER Spark jobs at
       plan-construction time (the ``sum(df²)``+vocab probe and
       ``norms.count()``) — callers that only build or ``explain`` the
       frame (plan capture tooling) pay the upstream tokenize/weight
       computation. Pass an explicit strategy for fully-lazy
       construction.

    Dispatch guards (round 16): the blocked kernel densifies
    (~2·n/n_blocks × block-local vocabulary) float64 per task, and
    ``sum(df²) > n²`` does NOT imply a small vocabulary (a few hot
    tokens atop a huge unique tail satisfies it) — so ``auto`` also
    requires the worst-case dense block (2·n/n_blocks × total vocab
    × 8 B, vocab counted by the same probe aggregate) to fit
    ``_BLOCKED_GEMM_TASK_BUDGET``; past it the index plan is the one
    that scales. Non-integral id columns stay on ``index`` too (the
    kernel's long output schema cannot carry them); an explicit
    ``strategy='blocked'`` raises for them.
    """
    if strategy not in ("auto", "index", "blocked"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    id_type = df.schema[id_col].dataType.simpleString()
    id_integral = id_type in ("tinyint", "smallint", "int", "bigint")
    if strategy == "blocked" and not id_integral:
        raise ValueError(
            f"strategy='blocked' requires an integral id column, got "
            f"{id_col}: {id_type} (use 'index' or 'auto')"
        )
    scope, created = scoped(scope)
    toks_df = widen(
        df.select(
            F.col(id_col).alias("id"), text_tokens(text_col).alias("__toks")
        ),
        "id",
    )
    tf = scope.persist(
        toks_df.select("id", F.explode("__toks").alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("__n")
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    if max_token_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_token_df)
    w = scope.persist(
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "tok",
            (F.col("tf") * F.log(F.col("__n") / F.col("df"))).alias("w"),
        )
    )
    # persisted: consumed by both final size joins (and, on the blocked
    # path, by the vector build) — round 15, same duplicated-subtree
    # note as shingle_pairs' sizes.
    norms = scope.persist(
        w.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    )

    if strategy == "auto":
        probe = (
            w.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("__df"))
            .agg(
                F.sum(F.col("__df") * F.col("__df")).alias("__vol"),
                F.count(F.lit(1)).alias("__vocab"),
            )
            .first()
        )
        n_eff = norms.count()
        vol = int(probe["__vol"] or 0)
        vocab = int(probe["__vocab"] or 0)
        # worst-case dense bytes of one block-pair task: both blocks'
        # rows (~2n/n_blocks) densified over the block-local vocabulary,
        # bounded above by the TOTAL vocabulary the probe just counted
        dense_bytes = (2 * n_eff / max(n_blocks, 1)) * vocab * 8
        blocked_ok = id_integral and dense_bytes <= _BLOCKED_GEMM_TASK_BUDGET
        strategy = (
            "blocked" if (vol > n_eff * n_eff and blocked_ok) else "index"
        )
        _log.info(
            "tfidf_cosine_pairs auto: sum(df^2)=%d vs n_eff^2=%d, "
            "dense_bytes=%.0f (budget %d), id_integral=%s -> %s",
            vol,
            n_eff * n_eff,
            dense_bytes,
            _BLOCKED_GEMM_TASK_BUDGET,
            id_integral,
            strategy,
        )

    if strategy == "blocked":
        dots = _tfidf_blocked_dots(
            w, norms, threshold, n_blocks, id_type=df.schema[id_col].dataType
        )
    else:
        a = w.select(F.col("id").alias("id_a"), "tok", F.col("w").alias("wa"))
        b = w.select(F.col("id").alias("id_b"), "tok", F.col("w").alias("wb"))
        dots = (
            a.join(b, "tok")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
        )
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    out = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return attach(out, scope, created)


#: per-task memory budget for one blocked-GEMM dense block-pair
#: (worst-case 2·n/n_blocks rows × total-vocab float64 columns). 512 MiB
#: leaves headroom under the default executor memory for the Arrow
#: batch + the s = x@xᵀ output; past it ``auto`` dispatches to the
#: index plan, whose cost is collision- not vocabulary-bound.
_BLOCKED_GEMM_TASK_BUDGET = 512 * 1024 * 1024


def _tfidf_blocked_dots(
    w: DataFrame,
    norms: DataFrame,
    threshold: float,
    n_blocks: int,
    id_type=None,
) -> DataFrame:
    """Block-partitioned GEMM pair dots over sparse TF-IDF vectors —
    the sparse twin of ``similarity.cosine_pairs_blocked``.

    Each doc's (tok, w) postings roll up to ONE vector row, which
    replicates to every block-pair its block belongs to; one
    ``applyInPandas`` task per block-pair builds a dense (members ×
    block-local-vocab) float64 matrix in deterministic token-sorted
    column order and runs a single matmul. The block key is
    ``pmod(xxhash64(id), n_blocks)`` (round 16): hashing spreads
    skewed/clustered id distributions evenly (guide §2.5) and pmod
    keeps the block non-negative for negative ids (ADVICE r15 —
    Spark ``%`` is sign-of-dividend, and the old kernel-side numpy
    re-derivation used floored mod, silently dropping those pairs).
    Each member row CARRIES its home block, so the kernel never
    re-derives it. Determinism: every unordered pair is emitted from
    exactly ONE task — the canonical group (min(blk_a, blk_b),
    max(blk_a, blk_b)) — so no cross-group float divergence can reach
    the output (unlike a dropDuplicates over per-group ulps, which
    would be run-dependent). The kernel pre-filters at
    ``threshold - 1e-6`` on the raw cosine; the exact rounded-threshold
    contract is applied by the caller in Spark expressions, identical
    to the index path. Output ids are cast back to ``id_type`` so the
    schema is strategy-independent (ADVICE r15).
    """
    vecs = (
        w.groupBy("id")
        .agg(F.collect_list(F.struct("tok", "w")).alias("tw"))
        .join(norms, "id")
    )
    nb_ = F.lit(n_blocks)
    base = vecs.select(
        "id", "tw", "nrm",
        F.pmod(F.xxhash64(F.col("id")), nb_).cast("int").alias("blk"),
    )
    left = base.select(
        "id", "tw", "nrm", "blk",
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), nb_ - 1)).alias("bj"),
    )
    right = base.filter(F.col("blk") > 0).select(
        "id", "tw", "nrm", "blk",
        F.explode(F.sequence(F.lit(0), F.col("blk") - 1)).alias("bi"),
        F.col("blk").alias("bj"),
    )
    members = left.unionByName(right)
    thr = threshold - 1e-6

    def gemm(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": [], "dot": []})
        m = len(pdf)
        if m < 2:
            return empty
        bi = int(pdf["bi"].iloc[0])
        bj = int(pdf["bj"].iloc[0])
        ids = pdf["id"].to_numpy(dtype=np.int64)
        blk = pdf["blk"].to_numpy(dtype=np.int64)
        rows = list(pdf["tw"])
        vocab = sorted({t["tok"] for tw in rows for t in tw})
        col = {t: i for i, t in enumerate(vocab)}
        x = np.zeros((m, len(vocab)), dtype=np.float64)
        for r, tw in enumerate(rows):
            for t in tw:
                x[r, col[t["tok"]]] = t["w"]
        s = x @ x.T
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            c = s / np.outer(nrm, nrm)
        ia, ib = np.nonzero(c >= thr)
        keep = ids[ia] < ids[ib]
        blka = blk[ia]
        blkb = blk[ib]
        keep &= (np.minimum(blka, blkb) == bi) & (
            np.maximum(blka, blkb) == bj
        )
        ia, ib = ia[keep], ib[keep]
        if len(ia) == 0:
            return empty
        return pd.DataFrame(
            {"id_a": ids[ia], "id_b": ids[ib], "dot": s[ia, ib]}
        )

    dots = members.groupBy("bi", "bj").applyInPandas(
        gemm, "id_a long, id_b long, dot double"
    )
    if id_type is not None and id_type.simpleString() != "bigint":
        dots = dots.select(
            F.col("id_a").cast(id_type),
            F.col("id_b").cast(id_type),
            "dot",
        )
    return dots


def shingle_pairs(
    df: DataFrame,
    kind: str,
    strategy: str,
    *,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: int | None = None,
    naive_budget: int = 1_000_000_000,
    scope: CacheScope | None = None,
    decision_out: dict | None = None,
) -> DataFrame:
    """Exact word-``n``-gram shingle pairs scoring >= ``threshold``.

    ``kind`` picks the metric over the distinct shingle sets:

    - ``"jaccard"`` — ``J = |A∩B| / (|A| + |B| - |A∩B|)``, one row per
      unordered pair (``id_a < id_b``), score column ``jaccard``.
    - ``"containment"`` — the ORDERED ``C(A→B) = |A∩B| / |A|`` with
      ``id_a`` the CONTAINED doc and ``id_b`` the container. A short doc
      quoted wholesale inside a long one has C ~1.0 but J ~|A|/|B|, so
      symmetric dedup never sees it (quote/subset detection; the
      contained doc is the one to drop). Near-identical docs pass in
      both directions (two rows). Score column ``containment``.

    Output: ``id_a, id_b, n_common, n_a, n_b, <kind>``. Integer
    arithmetic up to one final division, so results are
    bit-deterministic and identical across strategies.

    ``strategy`` picks the candidate plan; the exact strategies return
    the same rows:

    - ``"naive"`` — the inverted index: self-join the shingle table on
      the shingle (``id_lo < id_hi``) and count common shingles per
      unordered pair in one map-side-combined groupBy. Containment
      emits both directions from that one row with a codegen'd
      2-element explode (no second self-join). Cost ``sum(df(s)²)``
      joined rows — quadratic in the hottest shingle's document
      frequency. ``max_shingle_freq`` (naive only) drops shingles in
      more than that many docs before the self-join: the standard
      boilerplate guard, which slightly lowers the score of affected
      pairs (sizes stay uncapped); None = exact.
    - ``"prefix"`` — AllPairs/PPJoin prefix filtering (Chaudhuri,
      Bayardo; Xiao et al. 2008), exact: order each doc's shingles by
      global rarity (ascending df, shingle as tie-break) and index only
      its ``|A| - ceil(t·|A|) + 1`` rarest — a pair scoring >= t must
      share one of them under any common total order. Jaccard filters
      both sides (plus the length filter t·|A| <= |B| <= |A|/t);
      containment filters only the contained side and joins it against
      the container's full ranked table. The positional bound (a common
      shingle at ranks ra, rb bounds the overlap by
      ``1 + min(|A|-ra, |B|-rb)``) prunes further; a valid pair's FIRST
      common shingle always passes it. Candidates are verified exactly
      with one ``array_intersect`` per pair. Hot boilerplate lands in
      every suffix and never enters the index, so the df² term
      vanishes; but verification costs candidates × doc shingles, so
      prefix wins only when candidates are scarce. MEASURED: natural
      heavy-tailed df (.localdata/skewnl, Zipf(1.1) 50k-word vocab,
      50% boilerplate header, t=0.8) prefix 6.0 s vs naive 315.7 s,
      identical pairs; near-uniform iid-Zipf synthetic corpora invert
      it (sf1 Jaccard naive 22 s vs prefix 189 s; 50k-doc skew
      containment 48.5 s vs 317.7 s).
    - ``"auto"`` — probe the shingle df histogram in one aggregate
      (``shingle_df_stats``) and dispatch per ``choose_pair_strategy``:
      prefix on heavy tails, naive within ``naive_budget``, else naive
      with the largest frequency cap that fits. The choice is logged
      and, when ``decision_out`` (a dict) is passed, recorded there as
      ``{strategy, cap, reason, stats}``. The probe is one eager Spark
      job at plan-construction time.

    The ceil() guards subtract 1e-9 so float noise can only lengthen a
    prefix or admit an extra candidate, never drop a qualifying pair.
    Persists go to ``scope`` (see operators.caching).
    """
    if kind not in ("jaccard", "containment"):
        raise ValueError(f"unknown kind {kind!r}")
    if strategy not in ("naive", "prefix", "auto"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if max_shingle_freq is not None and strategy != "naive":
        raise ValueError(
            f"max_shingle_freq requires strategy='naive', got {strategy!r}"
        )
    scope, created = scoped(scope)
    if strategy == "auto":
        stats = shingle_df_stats(df, id_col, text_col, n, scope=scope)
        choice = choose_pair_strategy(stats, naive_budget)
        _log.info(
            "shingle_pairs(%s) auto: strategy=%s (%s)",
            kind,
            choice["strategy"],
            choice["reason"],
        )
        if decision_out is not None:
            decision_out.update(stats=stats, **choice)
        strategy = "prefix" if choice["strategy"] == "prefix" else "naive"
        max_shingle_freq = choice["cap"]
    # Persisted: the shingle table feeds the sizes, the hot set or the
    # rarity rank, and both join sides — without materialization each
    # consumer re-derives scan→tokenize→explode→distinct (measured 6
    # scans in the capped plan). sizes too (round 15): it is consumed
    # under two aliases, which makes the subtrees canonically different,
    # so each alias re-ran a pass + shuffle over the cached shingles
    # (plans/r15/dedup_ngram_jaccard_capped_before.txt). Measured at
    # sf0.1 (median of 5, rows asserted identical): uncapped Jaccard
    # 0.941 s → 0.744 s, capped 1.810 s → 1.680 s.
    sh = scope.persist(_doc_shingles(df, id_col, text_col, n))
    sizes = scope.persist(
        sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    )
    if strategy == "naive":
        pairs = _naive_pair_counts(sh, sizes, kind, max_shingle_freq, scope)
    else:
        pairs = _prefix_pair_counts(sh, sizes, kind, threshold, scope)
    c = F.col("n_common").cast("double")
    if kind == "jaccard":
        score = c / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
    else:
        score = c / F.col("n_a").cast("double")
    out = (
        pairs.withColumn(kind, score)
        .filter(F.col(kind) >= F.lit(threshold))
        .select("id_a", "id_b", "n_common", "n_a", "n_b", kind)
    )
    return attach(out, scope, created)


def _naive_pair_counts(
    sh: DataFrame,
    sizes: DataFrame,
    kind: str,
    max_shingle_freq: int | None,
    scope: CacheScope,
) -> DataFrame:
    """(id_a, id_b, n_common, n_a, n_b) from the inverted-index
    self-join — ``shingle_pairs``' naive strategy."""
    joinable = sh
    if max_shingle_freq is not None:
        # The HOT set (df > cap) is small by construction — it is exactly
        # the boilerplate tail the cap exists to remove — so subtract it
        # with a broadcast anti-join: one map-side-combined agg shuffle to
        # find it, zero shuffle to apply it. (Joining the full <=cap
        # frequency table back instead would shuffle the corpus again.)
        hot = scope.persist(
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_freq)
            .select("shingle")
        )
        joinable = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # the unordered pair is (lo, hi); containment orients it below
    lo, hi = ("a", "b") if kind == "jaccard" else ("lo", "hi")
    a = joinable.select(F.col("id").alias(f"id_{lo}"), "shingle")
    b = joinable.select(F.col("id").alias(f"id_{hi}"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col(f"id_{lo}") < F.col(f"id_{hi}"))
        .groupBy(f"id_{lo}", f"id_{hi}")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    slo = sizes.select(F.col("id").alias(f"id_{lo}"), F.col("n_sh").alias(f"n_{lo}"))
    shi = sizes.select(F.col("id").alias(f"id_{hi}"), F.col("n_sh").alias(f"n_{hi}"))
    sized = common.join(slo, f"id_{lo}").join(shi, f"id_{hi}")
    if kind == "jaccard":
        return sized

    def direction(x: str, y: str) -> Column:
        return F.struct(
            F.col(f"id_{x}").alias("id_a"),
            F.col(f"id_{y}").alias("id_b"),
            F.col("n_common"),
            F.col(f"n_{x}").alias("n_a"),
            F.col(f"n_{y}").alias("n_b"),
        )

    return sized.select(
        F.explode(F.array(direction(lo, hi), direction(hi, lo))).alias("p")
    ).select("p.*")


def _prefix_pair_counts(
    sh: DataFrame,
    sizes: DataFrame,
    kind: str,
    threshold: float,
    scope: CacheScope,
) -> DataFrame:
    """(id_a, id_b, n_common, n_a, n_b) for the prefix-filtered,
    exactly verified candidates — ``shingle_pairs``' prefix strategy."""
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("id").orderBy(
        F.col("__df").asc(), F.col("shingle").asc()
    )
    ranked = (
        sh.join(freq, "shingle")
        .withColumn("__rk", F.row_number().over(w))
        .join(sizes, "id")
    )
    in_prefix = F.col("__rk") <= (
        F.col("n_sh")
        - F.ceil(F.col("n_sh") * F.lit(threshold) - F.lit(1e-9))
        + F.lit(1)
    )
    cols = ("id", "shingle", "n_sh", "__rk")
    if kind == "jaccard":
        # both sides prefix-filtered: only the prefix is persisted
        side_a = side_b = scope.persist(ranked.filter(in_prefix).select(*cols))
    else:
        # containment probes the contained side's prefix against the
        # container's FULL ranked table (the asymmetric prefix theorem),
        # so ranked itself is shared and persisted
        side_b = scope.persist(ranked.select(*cols))
        side_a = side_b.filter(in_prefix)
    pa = side_a.select(
        F.col("id").alias("id_a"), "shingle",
        F.col("n_sh").alias("n_a"), F.col("__rk").alias("__rka"),
    )
    pb = side_b.select(
        F.col("id").alias("id_b"), "shingle",
        F.col("n_sh").alias("n_b"), F.col("__rk").alias("__rkb"),
    )
    # PPJoin positional filter: alpha is the overlap a score >= t
    # forces, and a common shingle at ranks (ra, rb) bounds the overlap
    # by 1 + min(|A|-ra, |B|-rb)
    if kind == "jaccard":
        pair_ok = (
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t forces t <= |B|/|A| <= 1/t
            & (F.col("n_b") >= F.col("n_a") * F.lit(threshold) - F.lit(1e-9))
            & (F.col("n_a") >= F.col("n_b") * F.lit(threshold) - F.lit(1e-9))
        )
        alpha = F.ceil(
            (F.col("n_a") + F.col("n_b")).cast("double")
            * F.lit(threshold / (1.0 + threshold))
            - F.lit(1e-9)
        )
    else:
        pair_ok = F.col("id_a") != F.col("id_b")
        alpha = F.ceil(F.col("n_a") * F.lit(threshold) - F.lit(1e-9))
    cand = (
        pa.join(pb, "shingle")
        .filter(
            pair_ok
            & (
                F.lit(1)
                + F.least(
                    F.col("n_a") - F.col("__rka"),
                    F.col("n_b") - F.col("__rkb"),
                )
                >= alpha
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Exact verification via per-doc shingle ARRAYS (round 16): two
    # joins against a doc-count-sized array table move |cand| rows, not
    # |cand| × doc-shingles (the measured 8-10 s stage at sf0.1 when
    # candidates joined back to the exploded table), and the count is
    # one JVM array_intersect per pair — identical, since the shingle
    # table is distinct per doc and array_intersect de-duplicates.
    arrs = scope.persist(
        sh.groupBy("id").agg(F.collect_list("shingle").alias("__shs"))
    )
    aa = arrs.select(F.col("id").alias("id_a"), F.col("__shs").alias("__sa"))
    ab = arrs.select(F.col("id").alias("id_b"), F.col("__shs").alias("__sb"))
    return (
        cand.join(aa, "id_a")
        .join(ab, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sa", "__sb"))
            .cast("long")
            .alias("n_common"),
            F.size("__sa").cast("long").alias("n_a"),
            F.size("__sb").cast("long").alias("n_b"),
        )
    )


# ------------------------------------------------------------------
# Auto-strategy dispatch for ``shingle_pairs`` (round 15).
#
# The measured winner among the exact pair plans flips 52x with the
# corpus's shingle document-frequency shape (BENCH_SCALE round-14
# containment table): prefix filtering wins on natural heavy-tailed
# corpora (content shingles near-unique, hot boilerplate head), naive
# collision counting wins on near-uniform distributions, and the
# frequency cap is the only plan that survives near-uniform
# distributions past the collision-volume budget. At 100 TB picking
# wrong means a DNF — so probe the histogram and pick.
# ------------------------------------------------------------------

#: Candidate frequency caps the probe prices (per-cap capped collision
#: volume is computed in the SAME single aggregate as the histogram).
_CAP_CANDIDATES = (10, 25, 50, 100, 250, 1000)


def shingle_df_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    scope: CacheScope | None = None,
) -> dict:
    """ONE-aggregate probe of the shingle document-frequency histogram
    — the dispatch evidence for ``shingle_pairs(strategy="auto")``.
    Costs one map-side-combined groupBy over the shingle table (the
    same aggregate the capped and prefix plans compute anyway; the
    persisted shingle table is shared with the dispatched plan via the
    scope / CacheManager plan-matching, so the probe's explode is not
    paid twice). Returns::

        {n_shingles, postings, max_df, p50_df, p90_df, p99_df,
         naive_volume,            # sum(df^2): EXACT row count of the
                                  # naive plan's shingle self-join
         capped_volume: {cap: sum(df^2 | df <= cap), ...}}
    """
    scope, _created = scoped(scope)
    sh = scope.persist(_doc_shingles(df, id_col, text_col, n))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    d = F.col("df")
    aggs = [
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(d).alias("postings"),
        F.max(d).alias("max_df"),
        F.expr("percentile_approx(df, 0.5, 10000)").alias("p50_df"),
        F.expr("percentile_approx(df, 0.9, 10000)").alias("p90_df"),
        F.expr("percentile_approx(df, 0.99, 10000)").alias("p99_df"),
        F.sum(d * d).alias("naive_volume"),
    ]
    for c in _CAP_CANDIDATES:
        aggs.append(
            F.sum(F.when(d <= F.lit(c), d * d).otherwise(F.lit(0))).alias(
                f"__cap{c}"
            )
        )
    row = dfreq.agg(*aggs).first()
    out = {
        k: (int(row[k]) if row[k] is not None else 0)
        for k in (
            "n_shingles",
            "postings",
            "max_df",
            "p50_df",
            "p90_df",
            "p99_df",
            "naive_volume",
        )
    }
    out["capped_volume"] = {
        c: int(row[f"__cap{c}"] or 0) for c in _CAP_CANDIDATES
    }
    return out


def choose_pair_strategy(
    stats: dict,
    naive_budget: int = 1_000_000_000,
    heavy_tail_p90: int = 2,
) -> dict:
    """Pick naive / prefix / capped from the probed df histogram.

    The decision tree, each edge pinned to a measurement
    (BENCH_SCALE rounds 4/7/14):

    1. **Heavy tail** (``p90_df <= heavy_tail_p90``): at least 90% of
       distinct shingles are near-unique — the prefix filter's
       candidate-scarcity premise holds, hot boilerplate lands in
       suffixes and never enters the index. → **prefix** (exact).
       Measured: skewnl 20k docs, prefix 6.0 s vs naive 315.7 s (52x,
       identical pairs); scale-safe because the df² head vanishes
       from the index regardless of how hot it is.
    2. Near-uniform df, collision volume affordable
       (``naive_volume <= naive_budget``): → **naive** (exact).
       Collision counting is one map-side-combined groupBy; prefix
       verification volume EXCEEDS it here (measured: iid-Zipf sf1,
       naive 22 s vs prefix 189 s; skew1 48.5 s vs 317.7 s).
    3. Near-uniform df past the budget: no exact plan fits — →
       **capped** (concession: C/J slightly underestimated for pairs
       touching capped shingles), cap = the LARGEST candidate whose
       capped volume fits the budget (most semantics retained), floor
       10. Measured: iid sf10, naive/prefix both DNF, capped 23.5 s.

    ``naive_budget`` is the shingle-self-join row count the cluster
    tolerates (default 1e9 ≈ tens of seconds on 32 local threads —
    raise proportionally with executor count). Returns
    ``{"strategy", "cap", "reason"}``.
    """
    if stats["p90_df"] <= heavy_tail_p90:
        return {
            "strategy": "prefix",
            "cap": None,
            "reason": (
                f"heavy-tailed df (p90={stats['p90_df']} <= "
                f"{heavy_tail_p90}, max={stats['max_df']}): prefix "
                "filtering's candidate-scarcity premise holds; exact"
            ),
        }
    if stats["naive_volume"] <= naive_budget:
        return {
            "strategy": "naive",
            "cap": None,
            "reason": (
                f"near-uniform df (p90={stats['p90_df']}) within "
                f"collision budget ({stats['naive_volume']} <= "
                f"{naive_budget}); exact"
            ),
        }
    fitting = [
        c
        for c in _CAP_CANDIDATES
        if stats["capped_volume"][c] <= naive_budget
    ]
    cap = max(fitting) if fitting else min(_CAP_CANDIDATES)
    return {
        "strategy": "capped",
        "cap": cap,
        "reason": (
            f"near-uniform df (p90={stats['p90_df']}) past collision "
            f"budget ({stats['naive_volume']} > {naive_budget}): no "
            f"exact plan fits; cap={cap} "
            + (
                "(largest candidate within budget)"
                if fitting
                else "(floor — even the tightest cap exceeds the "
                "budget; consider MinHash-LSH)"
            )
        ),
    }


def _minhash_sql(num_hashes: int, hash_family: str) -> list[str]:
    """Per-permutation hash expressions over the ``shingle`` column.

    ``xxhash64`` (default for stored indexes written before round 13):
    seed-i xxhash64 — JVM-native but engine-specific (rows-only at the
    driver oracle). ``md5``: ONE digest per shingle, then the classic
    2-universal family ``h_i = (a + (i+1)·b) mod 2^32`` over its two
    32-bit big-endian halves — standard minwise-hashing practice
    (Broder et al.; approximate min-wise independence from a universal
    family), CHEAPER than 64 xxhash64 calls, and every value rebuilt
    bit-for-bit by any engine with md5 (the ``corpus_cms_counts``
    trick, VERDICT r12 ask #4) — which is what gives the MinHash
    family hash-match DuckDB oracles instead of rows-only checks.

    Returned as SQL STRINGS (round 16): py4j round-trips dominate plan-construction time on this runtime
    (~0.5-1 ms per Column call; the 64-hash DSL build alone cost
    seconds per query invocation), so the hot constructors assemble ONE
    SQL string per expression — or one per whole aggregate — and parse
    it JVM-side. The parsed trees are the same operators the DSL built
    (verified by the bit-identical signature tests + the DuckDB
    oracle hash match)."""
    if hash_family == "xxhash64":
        return [f"xxhash64(shingle, {i})" for i in range(num_hashes)]
    if hash_family != "md5":
        raise ValueError(f"unknown hash_family {hash_family!r}")
    digest = "md5(concat(shingle, '|mh'))"
    a = f"cast(conv(substring({digest}, 1, 8), 16, 10) as bigint)"
    b = f"cast(conv(substring({digest}, 9, 8), 16, 10) as bigint)"
    # mod 2^32 as a bitmask: a and b are 32-bit non-negative (conv of 8
    # hex chars), so a + 65·b < 2^38 and `x & (2^32-1)` is bit-identical
    # to pmod(x, 2^32) — but one AND instead of pmod's two modulos.
    # Round-15 A/B (sf0.1, median of 5):
    # signature build 0.488 s → 0.408 s, full LSH query 0.860 → 0.665 s;
    # signatures asserted bit-identical across all docs before timing.
    # (codegen subexpression elimination evaluates the shared digest
    # once per row — same as the round-14 note in minhash_signatures.)
    return [
        f"(({a} + {i + 1} * {b}) & {2 ** 32 - 1})"
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures over word n-grams.

    Hash family per ``_minhash_sql``: engine-fast ``xxhash64`` seeds
    (default) or cross-engine-deterministic ``md5`` slices. min per
    permutation approximates the permutation min. One explode + one
    groupBy; signature size is num_hashes longs per doc regardless of
    doc length.

    Plan shape (round 14): the shingle stream is NOT deduplicated —
    min() is multiset-invariant, so the set and multiset signatures
    are bit-identical (pinned by test), and the per-partition
    distinct() hash-aggregate over (id, shingle) STRINGS that the
    Jaccard operators genuinely need is pure overhead here (measured
    ~25% of the signature build at sf0.1). Note for the curious: the
    inline conv(substring(md5)) pair in the 64 min() expressions is
    already evaluated once per row by codegen subexpression
    elimination — an explicit a/b projection behind a barrier was
    MEASURED SLOWER (1.06 -> 1.58 s, round-14 A/B), so don't "fix" it.
    """
    toks_df = widen(
        df.select(
            F.col(id_col).alias("id"),
            text_tokens(text_col).alias("__toks"),
        ),
        "id",
    )
    sh = toks_df.select(
        "id",
        F.explode(_grams_from_tokens(F.col("__toks"), n)).alias("shingle"),
    )
    # ONE parsed expression for the whole signature (round 16, see
    # _minhash_sql): array(min(h_0), ..., min(h_{k-1})) — the analyzer
    # rewrites it into the same num_hashes-aggregate HashAggregate +
    # array projection the per-column DSL build produced, at one py4j
    # call instead of hundreds.
    sig = "array(" + ", ".join(
        f"min({s})" for s in _minhash_sql(num_hashes, hash_family)
    ) + ") as sig"
    return sh.groupBy("id").agg(F.expr(sig))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    scope: CacheScope | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-estimate filter.

    LSH: split the signature into ``bands`` bands of r = num_hashes/bands
    rows; docs colliding on any band's hash become candidates (prob of a
    pair with Jaccard J colliding = 1-(1-J^r)^b, the usual S-curve around
    (1/b)^(1/r)). Candidates are then scored by full-signature agreement
    (the unbiased MinHash estimate of J) and filtered at ``threshold``.

    Plan shape: signatures (1 shuffle) → explode bands → groupBy band
    bucket (1 shuffle) → within-bucket pairs → distinct → score. Only
    bucket-mates ever meet, so cost tracks true-duplicate density, not n^2.

    The signature table is persisted: it is consumed three times (band
    explode + both sides of the verification join), and without
    materialization each consumer re-derives the whole
    scan→shingle→64-hash aggregation (column pruning makes the copies
    canonically different, so exchange reuse never fires — measured 3
    scans and ~2x wall clock). num_hashes longs per doc is the cheap
    thing to store; recomputing it per use is the expensive thing —
    exactly why production LSH persists its signature table (see
    similarity.build_srp_index for the same pattern as stored columns).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    scope, created = scoped(scope)
    sigs = scope.persist(
        minhash_signatures(df, id_col, text_col, n, num_hashes, hash_family)
    )

    banded = sigs.select("id", _banded_expr(bands, r).alias("bb")).select(
        "id", "bb.band", "bb.bucket"
    )

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda m: m,
        )
    )
    out = (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", agree.cast("double") / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "est_jaccard")
    )
    return attach(out, scope, created)


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, simhash bigint): sign of per-bit sums of token hashes.

    Classic SimHash (Charikar): hash each token (with multiplicity) to
    ``bits`` bits; bit i of the fingerprint is 1 iff the count of tokens
    with bit i set exceeds half the token count. Near-identical docs land
    within small Hamming distance. Implemented as one explode + one
    groupBy with ``bits`` conditional-sum aggregates — no UDF.

    ``hash_family='md5'`` swaps the engine-specific xxhash64 token hash
    for the first 15 hex chars (60 bits) of ``md5(tok || '|sh')`` —
    rebuilt bit-for-bit by any engine with md5, which gives the driver
    queries a hash-match DuckDB oracle (VERDICT r12 ask #4). Callers
    must pass ``bits <= 60`` with the md5 family (60 bits is what a
    signed BIGINT reconstructs portably from hex without sign games).
    """
    if hash_family == "md5":
        if bits > 60:
            raise ValueError("md5 hash_family supports at most 60 bits")
        token_hash = (
            "cast(conv(substring(md5(concat(tok, '|sh')), 1, 15), 16, 10)"
            " as bigint)"
        )
    elif hash_family == "xxhash64":
        token_hash = "xxhash64(tok)"
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    toks = (
        widen(df.select(id_col, text_col), id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode(text_tokens(text_col)).alias("tok"),
        )
        .withColumn("h", F.expr(token_hash))
    )
    # per-bit sums + the majority-vote fingerprint as TWO parsed
    # expressions (round 16): the per-bit DSL build paid ~7 py4j calls
    # per bit per query invocation — construction, not execution, was
    # the measured cost. Same aggregates, same XOR-of-shifted-votes
    # values.
    bit_sums = "array(" + ", ".join(
        f"sum((shiftright(h, {i}) & 1))" for i in range(bits)
    ) + ") as __bs"
    agg = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tok"), F.expr(bit_sums)
    )
    fingerprint = " ^ ".join(
        f"shiftleft(cast((__bs[{i}] * 2 > n_tok) as bigint), {i})"
        for i in range(bits)
    )
    return agg.select("id", F.expr(f"({fingerprint}) as simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    max_hamming: int = 3,
    bands: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs with Hamming(simhash) <= max_hamming.

    Banding: two fingerprints within Hamming distance d < bands must agree
    exactly on at least one of ``bands`` contiguous bit-blocks (pigeonhole)
    — so an equi-join per block finds all such pairs without n^2.
    Requires max_hamming < bands for completeness. Pigeonhole
    completeness also means the OUTPUT equals the brute-force all-pairs
    Hamming filter — which is exactly what the md5-family DuckDB oracle
    computes (the banding is a pruning strategy, not a semantic change,
    same contract as the prefix-filtered Jaccard twin).
    """
    fp = simhash(df, id_col, text_col, bits, hash_family)
    return hamming_band_pairs(fp, "id", "simhash", bits, max_hamming, bands)


def hamming_band_pairs(
    fp: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """All pairs with Hamming(hash) <= max_hamming from an
    (id, 64-bit-hash) frame — the bit-prefix banding shared by SimHash
    text dedup and perceptual image dedup (operators/imagehash.py).

    Pigeonhole completeness: two hashes within Hamming distance
    d < bands must agree exactly on at least one of ``bands``
    contiguous bit-blocks, so ``bands`` equi-joins on block values find
    every such pair with no n² comparison. Requires
    ``max_hamming < bands``."""
    if max_hamming >= bands:
        raise ValueError("completeness requires max_hamming < bands")
    block = bits // bands
    mask = (1 << block) - 1
    banded = fp.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("__fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col(hash_col), i * block)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "__fp", "bb.band", "bb.key")
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))
    hamming = F.bit_count(xor)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a pair-edge list by min-label
    propagation: (node, component) where component = smallest node id
    reachable through the edges. The step a dedup pipeline needs after
    ANY pairwise candidate generator (Jaccard / MinHash / SimHash /
    embedding pairs): transitive closure of "is a duplicate of" so each
    cluster keeps one representative.

    Distributed shape: edges are symmetrized once; each iteration is one
    equi-join (neighbor label candidates) + one pointer-jumping join
    (label-of-my-label, the classic shortcut that collapses chains
    logarithmically) + one min-aggregate — shuffles over label-sized rows
    (two longs), never the documents. Near-dup clusters are shallow
    (stars/cliques), so 2-4 rounds in practice; pointer jumping bounds
    pathological chains at O(log diameter) and ``max_iter`` is the hard
    stop. Each round the labels are checkpointed (reliable checkpoint
    when the session has a checkpoint dir, ``localCheckpoint`` otherwise)
    — persist alone is NOT enough for a fixpoint loop: it caches data but
    leaves the logical plan growing exponentially round over round, which
    blows up plan compilation long before any executor does real work
    (cf. large-star/small-star in the public connected-components
    literature, which uses the same per-round materialization).

    ``nodes`` (optional) adds isolated nodes: they come out as their own
    singleton components.
    """
    spark = edges.sparkSession
    reliable = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()

    def _pin(df: DataFrame) -> DataFrame:
        # Truncate lineage so the plan stays flat across iterations.
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(
            eager=True
        )

    a, b = F.col(src).alias("a"), F.col(dst).alias("b")
    # Pin the symmetrized edge list BEFORE the loop: ``edges`` is
    # usually the OUTPUT OF AN EXPENSIVE PAIR GENERATOR (the inverted-
    # index Jaccard join here costs ~15 s at sf1), and the loop body
    # references it every round — unpinned, each iteration re-runs the
    # whole generator (measured 238 s vs ~30 s for the full query).
    bidir = _pin(
        edges.select(a, b)
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = bidir.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    if nodes is not None:
        labels = (
            nodes.select(F.col(node_col).alias("node"))
            .distinct()
            .join(labels.select("node"), "node", "left_anti")
            .select("node", F.col("node").alias("component"))
            .unionByName(labels)
        )
    labels = _pin(labels)

    for _ in range(max_iter):
        cand = bidir.join(
            labels, bidir["a"] == labels["node"], "inner"
        ).select(
            F.col("b").alias("node"), "component", F.lit(0).alias("__old")
        )
        # Pointer jumping: adopt my component's own component, so a chain
        # of length d resolves in O(log d) rounds instead of O(d).
        jump = (
            labels.alias("l1")
            .join(
                labels.select(
                    F.col("node").alias("jnode"),
                    F.col("component").alias("jcomp"),
                ),
                F.col("l1.component") == F.col("jnode"),
                "inner",
            )
            .select(
                F.col("l1.node").alias("node"),
                F.col("jcomp").alias("component"),
                F.lit(0).alias("__old"),
            )
        )
        # The previous round's component rides the union as __old
        # (round 16): convergence is then a filter+count over THIS
        # round's pinned aggregate — the old per-round join of new
        # labels against old labels (a full extra join + its AQE stage
        # jobs) is gone. Every node has exactly one old row, so
        # min(when(__old, component)) is its previous component and
        # the changed-set is identical to the join formulation's.
        new_labels = _pin(
            labels.select("node", "component", F.lit(1).alias("__old"))
            .unionByName(cand)
            .unionByName(jump)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(
                    F.when(F.col("__old") == 1, F.col("component"))
                ).alias("__oldc"),
            )
        )
        changed = new_labels.filter(
            F.col("component") != F.col("__oldc")
        ).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    return labels


def dedup_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(doc_id, component, is_keeper) for every document: transitive
    near-dup clusters from a candidate pair list, keeper = the smallest
    id in each cluster. Filter ``is_keeper`` to materialize the deduped
    corpus."""
    comp = connected_components(
        pairs, src=src, dst=dst, nodes=df.select(id_col), node_col=id_col
    )
    return comp.select(
        F.col("node").alias(id_col),
        "component",
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


def corpus_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, text_hash, sig) — the stored dedup index for a corpus.

    Write this to parquet once per corpus; ``incremental_dedup`` then
    checks NEW batches against it without ever re-shingling the corpus.
    At 100 TB the index is num_hashes longs + one 64-char hash per doc
    (~0.5 KB/doc independent of document size) — the thing you keep hot
    while the corpus itself stays cold."""
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes, hash_family)
    hashes = df.select(
        F.col(id_col).alias("id"),
        F.sha2(normalize_text(text_col), 256).alias("text_hash"),
    )
    # LEFT join: a doc too short to produce any n-token shingle has no
    # signature row, but it must still keep its text_hash entry —
    # otherwise an exact duplicate of a short corpus doc comes back
    # is_new from incremental_dedup and short dups accumulate forever.
    # Such docs carry sig = NULL; the LSH probe side filters them out.
    return hashes.join(sigs, "id", "left")


def _band_buckets(
    sigs: DataFrame,
    num_hashes: int,
    bands: int,
    carry_sig: bool = False,
) -> DataFrame:
    """(id, band, bucket[, sig]) from a stored signature column — pure
    column arithmetic, no re-shingling.

    ``carry_sig=True`` keeps the signature array on every exploded row.
    That is how a STREAMING caller gets the signature to the verify step
    without joining the bucket frame back to the signature frame on id —
    a stream-stream self-join whose state would grow without bound in a
    continuous query. The sig is row-local, so carrying it is a wider
    shuffle row (num_hashes longs × bands), not extra state."""
    r = num_hashes // bands
    cols = ["id", "bb.band", "bb.bucket"] + (["sig"] if carry_sig else [])
    return sigs.select(
        "id", "sig", _banded_expr(bands, r).alias("bb")
    ).select(*cols)


def _banded_expr(bands: int, r: int):
    """The band-explode generator as ONE parsed expression (round 16,
    same py4j-construction-cost rationale as ``_minhash_sql``):
    explode(array(struct(band, xxhash64(band slots)), ...)) — identical
    tree to the per-band DSL build.

    The bucket is always ``xxhash64``, whatever the signature's hash
    family (round 14): it is internal grouping plumbing that never
    appears in any output, and ANY function injective up to hash
    collisions yields the SAME candidate set as grouping on the band's
    raw slot values. The DuckDB oracle twins therefore join candidates
    on the raw comma-joined slot key, while Spark shuffles an 8-byte
    key. The round-13 md5 bucket paid one interpreted digest per
    exploded band element: the banded stage measured 0.57 s md5 vs
    0.33 s xxhash64 at sf0.1."""
    entries = ", ".join(
        "struct({b} as band, xxhash64({vals}) as bucket)".format(
            b=band,
            vals=", ".join(f"sig[{band * r + j}]" for j in range(r)),
        )
        for band in range(bands)
    )
    return F.expr(f"explode(array({entries}))")


def incremental_dedup(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    scope: CacheScope | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Dedup a NEW batch against a stored ``corpus_index`` — the
    production shape: the corpus is never reprocessed, only the batch is
    shingled/hashed, and the corpus side of every join is the compact
    index.

    Returns the batch with three added columns:
    - ``exact_dup_of``: smallest corpus id with identical normalized
      text (sha256 join), else null;
    - ``near_dup_of``: smallest corpus id whose MinHash signature agrees
      on >= ``threshold`` of positions (LSH band join on the STORED
      signatures for candidates, full-signature agreement to verify),
      else null; exact dups are also near dups by construction;
    - ``is_new``: neither, i.e. safe to append to the corpus (append its
      ``corpus_index`` rows to keep the index current).

    Plan: batch-side sha2 + signatures (batch-sized), broadcast-or-
    shuffle joins against the index keyed on text_hash / band buckets.
    Cost tracks the BATCH size and candidate density — corpus size only
    enters through the index join, which at 100 TB is the point.

    ``index`` must be MATERIALIZED (a stored parquet table, or
    persisted by the caller): it is consumed three times here (exact
    hash join, band buckets, signature verify), so passing a live
    ``corpus_index`` plan re-runs the corpus MinHash pipeline three
    times (measured 27 s vs single-digit at sf1).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    scope, created = scoped(scope)

    batch_hash = new_df.select(
        F.col(id_col).alias("id"),
        F.sha2(normalize_text(text_col), 256).alias("text_hash"),
    )
    exact = (
        batch_hash.join(
            index.select(F.col("text_hash"), F.col("id").alias("corpus_id")),
            "text_hash",
        )
        .groupBy("id")
        .agg(F.min("corpus_id").alias("exact_dup_of"))
    )

    batch_sigs = scope.persist(
        minhash_signatures(new_df, id_col, text_col, n, num_hashes, hash_family)
    )
    nb = _band_buckets(batch_sigs, num_hashes, bands).select(
        F.col("id").alias("new_id"), "band", "bucket"
    )
    cb = _band_buckets(
        # sig is NULL for corpus docs too short to shingle (see
        # corpus_index): they can never be near-dup candidates, and
        # hashing their null positions would pile every one of them
        # into a single constant bucket per band — a useless hot key.
        index.select("id", "sig").where(F.col("sig").isNotNull()),
        num_hashes,
        bands,
    ).select(F.col("id").alias("corpus_id"), "band", "bucket")
    cand = nb.join(cb, ["band", "bucket"]).select("new_id", "corpus_id").distinct()

    agree = F.size(
        F.filter(F.zip_with("sig", "sig_c", lambda x, y: x == y), lambda m: m)
    )
    near = (
        cand.join(batch_sigs.select(F.col("id").alias("new_id"), "sig"), "new_id")
        .join(
            index.select(
                F.col("id").alias("corpus_id"), F.col("sig").alias("sig_c")
            ),
            "corpus_id",
        )
        .withColumn("agree_frac", agree / F.lit(num_hashes))
        .filter(F.col("agree_frac") >= F.lit(threshold))
        .groupBy("new_id")
        .agg(F.min("corpus_id").alias("near_dup_of"))
        .withColumnRenamed("new_id", "id")
    )

    out = (
        new_df.join(exact, new_df[id_col] == exact.id, "left")
        .drop("id")
        .join(near, new_df[id_col] == near.id, "left")
        .drop("id")
        .withColumn(
            "is_new",
            F.col("exact_dup_of").isNull() & F.col("near_dup_of").isNull(),
        )
    )
    return attach(out, scope, created)


def minhash_signatures_rowlocal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig) — identical output to ``minhash_signatures`` (same
    ``hash_family`` contract), computed entirely per-row:
    ``sig[i] = min(h_i(shingle))`` over the document's own
    distinct-shingle ARRAY, no explode and no groupBy.

    ``hash_family`` MUST match the family the probed ``corpus_index``
    was built with — a family mismatch silently produces zero
    signature matches (the same keyed-store contract as BM25's stored
    postings). Round 13: the md5 family is supported here so streaming
    probes work against md5-built (oracle-able) indexes; pinned equal
    to the exploded form per family in tests.

    This is the STREAMING-SAFE form: Structured Streaming forbids
    unwatermarked aggregations in append mode, and a signature is a
    per-document property that never needed cross-row state in the
    first place. The exploded+groupBy form remains the batch default
    (column-pruned scans + partial aggregation beat 64 interpreted
    array_min lambdas on large corpora); equality of the two is
    asserted in tests. Same empty-doc contract as the exploded form:
    documents with no shingles produce no signature row.
    """
    src = df if df.isStreaming else widen(df.select(id_col, text_col), id_col)
    grams = src.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_ngrams(text_col, n)).alias("__g"),
    )
    if not df.isStreaming:
        # Same projection barrier as _doc_shingles: without it Catalyst
        # inlines the gram expression into every one of the 64 lambdas.
        grams = barrier(grams)

    if hash_family == "md5":
        # one digest per shingle element, then the 2-universal family —
        # same values as _minhash_sql's md5 branch
        def hash_with_seed(i: int):
            def h(s):
                digest = F.md5(F.concat(s, F.lit("|mh")))
                a = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
                b = F.conv(F.substring(digest, 9, 8), 16, 10).cast("long")
                # same bitmask-for-pmod identity as _minhash_sql
                # (round 15): non-negative 32-bit a/b, so the AND is
                # bit-identical and cheaper than pmod's two modulos.
                return (a + F.lit(i + 1) * b).bitwiseAND(F.lit(2 ** 32 - 1))

            return h
    elif hash_family == "xxhash64":
        def hash_with_seed(i: int):
            # NOTE: a `lambda s, i=i:` default-arg closure would be WRONG
            # here — F.transform dispatches on lambda arity, so a 2-arg
            # lambda gets (element, array_index) and the seed default is
            # silently shadowed by the index. A factory keeps arity 1.
            return lambda s: F.xxhash64(s, F.lit(i))
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")

    return grams.filter(F.size("__g") > 0).select(
        "id",
        F.array(
            *[
                F.array_min(F.transform("__g", hash_with_seed(i)))
                for i in range(num_hashes)
            ]
        ).alias("sig"),
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact duplicate-substring coverage: fixed-``k`` token windows that
    recur anywhere in the corpus (Lee et al. 2022's ExactSubstr dedup,
    in the hashed fixed-length form used by public code pipelines —
    suffix arrays find variable-length repeats; hashing every k-token
    window finds all repeats of length >= k at data-proportional cost).

    Plan: one tokenize pass -> row-local k-gram window hashes (16-hex
    md5 prefix, no shuffle) -> posexplode to (id, pos, h) -> the
    recurring hashes via groupBy(h) HAVING count>=2 -> join back. Both
    branches shuffle the SAME (id, pos, h) stream by ``h``, so AQE
    reuses one exchange for the aggregate and the join probe. Per-doc
    duplicated-token coverage then merges overlapping [pos, pos+k)
    intervals with a single running-max window — no interval explode.

    Returns one row per document that contains at least one duplicated
    window: (id_col, n_dup_windows, dup_tokens) where ``dup_tokens`` is
    the count of token positions covered by >=1 duplicated window.

    At 100 TB: windows are ~(8B id, 4B pos, 16B hash) rows — the text
    itself never shuffles; everything downstream of the explode is
    fixed-width. No quadratic pair materialization anywhere (recurring
    hashes join back to positions, they are never self-joined).
    """
    grams = _span_windows(df, text_col, id_col, k)
    dup_h = grams.groupBy("h").count().filter(F.col("count") >= 2).select("h")
    dw = grams.join(dup_h, "h").select("id", "pos")
    return _span_coverage(dw, k).withColumnRenamed("id", id_col)


def _span_windows(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, pos, h) for every k-token window — one tokenize pass,
    row-local gram hashing (16-hex md5 prefix), no shuffle."""
    if k < 1:
        raise ValueError(f"window size k must be >= 1, got {k}")
    n = F.size(F.col("__toks"))
    src = widen(df.select(id_col, text_col), id_col)
    base = barrier(
        src.select(F.col(id_col).alias("id"), text_tokens(text_col).alias("__toks"))
    ).filter(n >= k)
    return base.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.substring(
                    F.md5(F.array_join(F.slice("__toks", i + 1, k), " ")), 1, 16
                ),
            )
        ).alias("pos", "h"),
    )


def _span_coverage(dw: DataFrame, k: int) -> DataFrame:
    """Merge overlapping [pos, pos+k) intervals per id with a single
    running-max window — (id, n_dup_windows, dup_tokens)."""
    prev = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0),
        F.col("pos")
        + k
        - F.greatest(
            F.col("pos"), F.coalesce(F.max(F.col("pos") + k).over(prev), F.lit(0))
        ),
    )
    return (
        dw.withColumn("__c", contrib)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum("__c").alias("dup_tokens"),
        )
    )


def build_span_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Distinct k-token window hashes of a corpus — the stored side of
    incremental ExactSubstr dedup. 16 bytes per distinct window;
    DISTINCT hashes suffice (a batch window is duplicated as soon as
    the hash exists anywhere in the corpus, its corpus multiplicity is
    irrelevant), so the index never grows with corpus repetition."""
    return _span_windows(df, text_col, id_col, k).select("h").distinct()


def build_span_doc_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Distinct (window hash, doc id) pairs of a corpus — the
    id-carrying variant of ``build_span_index``, the stored side of
    the suffix family's incremental composition
    (``suffix.suffix_spans_incremental``): probing a batch's window
    hashes against it names exactly the corpus documents any batch
    document can share a >= k-token repeat with. 24 bytes per distinct
    (window, doc) pair; bounded by the corpus's distinct windows times
    their document frequency, not by repetition within a document."""
    return (
        _span_windows(df, text_col, id_col, k)
        .select(F.col("id").alias(id_col), "h")
        .distinct()
    )


def incremental_duplicate_spans(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """``duplicate_spans`` of (corpus + batch) restricted to batch
    docs, WITHOUT re-shingling the corpus: a batch window at (id, pos)
    is duplicated iff its hash is in the stored ``build_span_index``
    output (>=1 corpus occurrence makes the total >=2) OR it recurs
    within the batch itself. Exact — the equivalence to the full-corpus
    recompute is pinned by tests/test_dedup_similarity.py.

    Scale shape: the corpus enters through its hash index alone
    (left-semi join, broadcastable when small; hash-partitioned
    otherwise); only the batch tokenizes. Same incremental contract as
    ``minhash_index_probe`` (the stored-index MinHash leg).
    """
    bw = _span_windows(batch, text_col, id_col, k)
    hit_idx = bw.join(index.select("h"), "h", "left_semi")
    batch_dup_h = bw.groupBy("h").count().filter(F.col("count") >= 2).select("h")
    hit_batch = bw.join(batch_dup_h, "h")
    dw = (
        hit_idx.select("id", "pos")
        .unionByName(hit_batch.select("id", "pos"))
        .distinct()
    )
    return _span_coverage(dw, k).withColumnRenamed("id", id_col)


def duplicate_span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al. 2022): cut every duplicated
    k-token window occurrence except the corpus-wide first one, and
    reassemble the surviving text.

    Canonical rule (deterministic, integer-only): for each recurring
    window hash the instance with the smallest (doc_id, pos) is kept;
    intervals [pos, pos+k) of every OTHER instance are removed. A token
    survives iff no non-canonical instance covers it — the published
    cut-all-but-first semantics at fixed k, exactly reproducible in SQL
    (row_number over (doc_id, pos) per hash).

    Plan: window stream as in ``duplicate_spans``; non-canonical
    instances via one row_number window over ``h``; per-doc removal
    intervals merged (one running-max window) and collected to a
    sorted array; the token side then reassembles ROW-LOCALLY — the
    keep intervals are the complement of the sorted cut array (two
    boundary zips), and ``clean_text`` is the concat of one
    ``slice(__toks, s, e-s)`` per keep interval. O(tokens +
    intervals) per document: tokens are never posexploded, no
    per-token interval scan (the previous ``F.exists`` filter was
    O(tokens × merged_intervals) per doc — quadratic for a long
    heavily-duplicated doc where merged intervals ~ tokens/k, ADVICE
    r6), and the final token-row groupBy shuffle is gone. Shuffles:
    windows by h (rank), intervals by doc, one doc-keyed join — all
    fixed-width rows, never full documents.

    The corpus is deliberately SCANNED TWICE (hash-window branch +
    token-reassembly branch) rather than carrying token arrays through
    the hash shuffle: a parquet re-scan with column pruning is cheap
    and parallel, while threading document-sized arrays through the
    ``h``-keyed exchange would put the corpus's heaviest bytes on the
    wire — the same scan-vs-shuffle call the paragraph-dedup plan
    makes.

    Returns (id_col, n_tokens, n_removed, clean_text) for EVERY doc
    with >= k tokens (docs with nothing removed come out intact).
    """
    grams = _span_windows(df, text_col, id_col, k)
    byh = Window.partitionBy("h").orderBy("id", "pos")
    cnt = Window.partitionBy("h")
    inst = grams.select(
        "id",
        "pos",
        F.row_number().over(byh).alias("__rn"),
        F.count(F.lit(1)).over(cnt).alias("__n"),
    )
    cut = inst.filter((F.col("__n") >= 2) & (F.col("__rn") >= 2)).select(
        "id", "pos"
    )
    # merge overlapping [pos, pos+k) removal windows into disjoint
    # intervals BEFORE collecting, so the per-doc array the token filter
    # scans holds merged spans, not raw window starts
    prevw = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runw = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seg = cut.withColumn(
        "__new",
        (
            F.col("pos")
            >= F.coalesce(F.max(F.col("pos") + k).over(prevw), F.lit(-1))
        ).cast("int"),
    ).withColumn("__seg", F.sum("__new").over(runw))
    ivals = (
        seg.groupBy("id", "__seg")
        .agg(
            F.min("pos").alias("__s"),
            (F.max("pos") + k).alias("__e"),
        )
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__s"), F.col("__e")))
            ).alias("__cuts")
        )
    )
    return _reassemble_after_cuts(df, ivals, text_col, id_col, k)


def _reassemble_after_cuts(
    df: DataFrame,
    ivals: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int,
) -> DataFrame:
    """Shared removal tail (fixed-k ``duplicate_span_removal`` and the
    variable-length ``suffix.suffix_span_removal``): given per-doc
    MERGED disjoint cut intervals — (id, __cuts: array<struct<__s,
    __e>>, sorted) — re-tokenize the docs (scan-vs-shuffle call
    documented in the fixed-k docstring), take the complement keep
    intervals row-locally, and reassemble. Docs with fewer than
    ``min_tokens`` tokens are excluded (they can hold no cut)."""
    n = F.size(F.col("__toks"))
    # tokenize below the conditional exchange carrying __toks (same
    # shape and rationale as _doc_shingles): HashPartitioning(id)
    # satisfies the doc-keyed join's distribution, and the exchange is
    # the projection barrier against lambda re-inlining
    toks = widen(
        df.select(
            F.col(id_col).alias("id"), text_tokens(text_col).alias("__toks")
        ),
        "id",
    ).filter(n >= min_tokens)
    joined = toks.join(ivals, "id", "left")
    # assembled as SQL strings, parsed once (round 16, py4j
    # plan-construction cost — see _minhash_sql); same tree as the old
    # per-lambda DSL build. keep intervals = complement of the sorted
    # disjoint cut intervals within [0, n): starts are 0 + each cut
    # end, ends are each cut start + n; empty ones drop out
    cuts = (
        "coalesce(__cuts, cast(array() as array<struct<__s:int,__e:int>>))"
    )
    keep_s = f"concat(array(0), transform({cuts}, c -> c.__e))"
    keep_e = f"concat(transform({cuts}, c -> c.__s), array(size(__toks)))"
    keeps = (
        f"filter(zip_with({keep_s}, {keep_e}, "
        "(s, e) -> named_struct('s', s, 'e', e)), p -> p.e > p.s)"
    )
    clean = (
        f"concat_ws(' ', flatten(transform({keeps}, "
        "p -> slice(__toks, p.s + 1, p.e - p.s))))"
    )
    n_removed = f"aggregate({cuts}, 0, (acc, c) -> acc + c.__e - c.__s)"
    return joined.selectExpr(
        f"id as {id_col}",
        "cast(size(__toks) as bigint) as n_tokens",
        f"cast({n_removed} as bigint) as n_removed",
        f"{clean} as clean_text",
    )
