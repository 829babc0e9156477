"""Variable-length ExactSubstr: a DISTRIBUTED suffix array,
DataFrame-native — packed-prefix sort with a block-rank tail.

Closes the one documented approximation in the ExactSubstr family
(``dedup.duplicate_spans`` hashes FIXED-k windows — finds all repeats of
length >= k, but reports k-resolution coverage): this module computes,
for every token position in the corpus, the TRUE length of the longest
substring starting there that also occurs anywhere else (Lee et al.
2022's suffix-array semantics), with no Python in the per-row path and
no text ever riding a shuffle after tokenization. Exactness
qualification: documents within ``base`` tokens (the no-tail path) are
exact unconditionally; the block-rank TAIL carries prefix-group
identity on a two-seed 128-bit xxhash64 surrogate after the wide sort
key is dropped (step 2 below), so tail-mode results are exact up to
128-bit hash collisions — the same bar as the fixed-k family's 64-bit
md5-prefix windows, expected false-equal pairs ~3e-25 at 10M groups.

Method — standard published building blocks, re-expressed as DataFrame
ops and specialized to the token-corpus case:

1. **Packed prefix key** (``suffix_ranks``): dense-rank the token
   vocabulary (m values; the rank join back is a BROADCAST — the
   positions table never shuffles for it), then pack R0 = ⌊63 /
   log2(m+1)⌋ shifted ranks per long (base-(m+1) positional encoding ==
   lexicographic R0-tuple order, end-of-document sentinel 0 first) and
   carry L such longs as one array column ``xs`` — each position's
   first ``base = R0·L`` tokens in <= 256 bytes, built by ONE per-doc
   window pass (Horner over R0 leads, then L-1 leads of the packed
   value). Sorting by ``xs`` (arrays compare lexicographically) IS the
   suffix order for every document shorter than ``base`` — a 31-token
   vocabulary packs 12 ranks/long, so ``L = 16`` covers 192-token
   documents with zero rank-refinement rounds.
2. **Block-rank tail** (only when max_dl > base): rank the packed
   prefix — ``s2`` = the row number of each distinct ``xs``'s FIRST
   row in sorted order (one range sort via ``ids.sequential_id``, NO
   single-partition window and no window at all on the wide frame;
   the 256-byte array is dropped right after the sort and group
   identity rides a two-seed 128-bit xxhash64 surrogate, the same
   exactness bar as the fixed-k family's 64-bit md5-prefix windows).
   ``s2`` is order- and equality-preserving for the first ``base``
   tokens, so ONE more per-doc window pass assembles ``atop`` = the
   array ``[s2(p), s2(p+base), s2(p+2·base), …]`` (−1 past the
   document end): lexicographic ``atop`` order IS the full suffix
   order (Manber & Myers' rank-pair argument, widened to
   ``_BLK_CAP``-ary in one round), and the number of leading equal
   elements of two ``atop`` arrays certifies their LCP in multiples
   of ``base`` as a pure expression. Documents longer than
   ``base·_BLK_CAP`` recurse: rank ``atop`` the same way (a NARROW
   sort — ≤ _BLK_CAP longs) and build a coarser array over the new
   rank, multiplying coverage by ``_BLK_CAP`` per round —
   O(log_BLK_CAP(max_len/base)) global sorts, each narrower than the
   first.
3. **Suffix-array adjacency**: order positions by ``atop`` (ties —
   equal complete suffixes — break on (id, pos)) via
   ``sequential_id``; adjacent pairs come from ``lead()`` INSIDE the
   checkpoint-pinned sort partitions (both sides' carried columns for
   free — no self-join), with the <= #partitions boundary pairs
   stitched by a broadcast join on successor arithmetic. In tail mode
   a pair row carries only ``x0`` (the first ``_X0_LONGS`` packed
   longs, resolving short sub-base LCPs) and ``atop``; the 256-byte
   ``xs`` never rides a pair row.
4. **LCP of adjacent suffixes**: for documents within ``base`` this is
   a PURE EXPRESSION on the pair row — component run over the two
   carried ``xs`` arrays, then the first differing base-(m+1) digit of
   the mismatching component (integer DIV/compare chain; no join, no
   walk). Equal whole arrays ⟹ equal complete suffixes ⟹ lcp = full
   remaining length (tier 1; ADVICE r10's undercount class). With a
   tail: equal ``atop`` arrays are tier 1; otherwise the leading-run
   over the carried arrays certifies ``run·base`` tokens, the pair
   descends the (usually empty) list of finer block arrays at the
   moving cursor ``pos + lcp`` — each scale is ONE count-guarded
   BROADCAST fetch per side plus a leading-run expression, aligned by
   construction with the block that failed above it — and finishes
   with one ``xs`` fetch for the sub-base residual (skipped entirely
   when the suffixes already differ inside the carried ``x0`` mini
   prefix, the common case). A final ``least(lcp, remaining)`` clamp
   repairs the one overcount the shared end-of-document sentinel
   allows.
5. **Longest repeat per position** = max(LCP with SA-predecessor, LCP
   with SA-successor) — the textbook neighbor property.

Scale notes: the wide ``xs`` array is materialized once and sorted
once; every other shuffle moves fixed-width NARROW rows, O(N) each.
The common case is tokenize → one window pass → one range sort → one
pair pass — the same pass count as the fixed-k scheme plus the sort,
which is the honest cost of EXACT variable-length semantics. The tail
adds one narrow sort + one window pass per factor-of-``_BLK_CAP`` of
document length beyond ``base`` (one round covers 4096 tokens at the
default caps; two cover 131k).
``dedup.duplicate_spans`` (one shuffle, fixed k) remains the
data-proportional default and this module the exact-semantics option —
the same default/exact split as approx_distinct vs count_distinct. The
equivalence theorem tested in tests/test_dedup_similarity.py (coverage
at ``min_len=k`` equals the fixed-k scheme's coverage exactly) is what
lets the driver query share the fixed-k DuckDB oracle.

Incremental maintenance: REBUILD-ONLY, by design. A suffix array's
ranks are global — appending one document can reorder the rank of
every existing suffix that shares a prefix with it, so an append path
would be merge-based SA construction (research-grade; e.g. dynamic
extended suffix arrays), not a bounded-state fold like the fixed-k
``dedup.corpus_index``/``incremental_dedup`` pair. The measured bound
that makes rebuild-only acceptable: the full variable-length pass
costs ~2x the fixed-k oracle at sf1/sf10 (BENCH_SCALE), i.e. a
per-refresh rebuild is ~5x the cost of one fixed-k full pass — fine
for daily/weekly corpus refreshes, wrong for per-batch calls. The
supported incremental COMPOSITION for per-batch calls is IMPLEMENTED
as ``suffix_spans_incremental``/``suffix_removal_incremental``
(round 12): probe the batch's min_len-windows against the fixed-k
stored ``dedup.build_span_doc_index`` (O(batch)), pull only the
COLLIDING corpus documents, and run the exact pass on that closure —
EXACT for the batch rows, because collisions at ``k = min_len`` name
every document a reportable (>= min_len) repeat can involve (a
shared >= min_len repeat implies a shared k-window), so the closure
contains the batch positions' entire suffix-array runs. Per-batch
cost tracks |batch| + actual duplication, never |corpus|.

Reference for parity: the reference repo has no dedup at all; this is
SURVEY.md §2B north-star surface (the training-data-pipeline layer).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from dwh_with_dask_spark.operators.caching import CacheScope
from dwh_with_dask_spark.operators.dedup import text_tokens
from dwh_with_dask_spark.operators.ids import sequential_id
from dwh_with_dask_spark.operators.partitioning import barrier, widen


# Optional phase-timing hook: point at a list and every eagerly
# materialized phase appends (label, seconds) — the measured
# decomposition behind BENCH_SCALE's suffix rows. Lazy phases (the
# pair expressions, the final left join) fold into the first
# downstream action as usual. Module-level and mutable by design:
# a single-threaded bench-only contract — two concurrent suffix
# builds in one process would interleave entries. Production callers
# leave it None (the default), where it costs nothing.
TIMINGS: list[tuple[str, float]] | None = None

# storage level for the corpus-sized checkpointed frames: SERIALIZED +
# lz4 (spark.rdd.compress, set by session.get_spark) — rank/array rows
# compress 2-4x, which keeps a 10M-position build memory-resident on
# an 8g heap where deserialized blocks thrashed the block manager
# (measured: the pair pass alone swung 4x with eviction churn).
# Tiny frames (filtered pairs, walk) keep the default level.
_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK  # serialized (DESER is the default)


def _mark(label: str, t0: float) -> float:
    now = time.perf_counter()
    if TIMINGS is not None:
        TIMINGS.append((label, now - t0))
    return now


# broadcast the dense-rank key table below this row count (16 bytes/row
# of key + rank: ~32 MB of hash table at the cap — one copy per JVM)
_KEYS_BROADCAST_MAX = 2_000_000
# build the token dense rank ON THE DRIVER below this vocabulary size
# (round 16): one grouped aggregate returns the distinct tokens AND
# max_dl together, the rank is a sorted index over the collected
# vocabulary, and the join back is a broadcast of a driver-built frame
# — replacing the distributed distinct→range-sort→checkpoint→
# stats-collect chain (3 jobs + a shuffle) plus the separate max_dl
# job with ONE job. Same bounded-driver-state class as bpe.py's
# driver_vocab_budget; past the budget the distributed path is
# unchanged.
_KEYS_DRIVER_MAX = 200_000
# broadcast walk probes below this row count (pair key + cursor,
# ~56 bytes/row); above it the walk falls back to a shuffle join
_PROBE_BROADCAST_MAX = 400_000
# max packed longs per position: caps the xs column at 256 bytes/row;
# documents longer than R0 * L tokens take the block-rank tail
_XS_CAP = 32
# max token ranks packed per long (16 already needs a <16-value
# vocabulary); the data-driven bound B^R0 < 2^63 is the real limiter —
# R0 degrades to 1 (xs = raw ranks) only past ~3e9 distinct tokens
_R0_CAP = 16
# packed longs carried through the TAIL rounds and the SA sort as the
# pair's MINI prefix ``x0`` (2 longs = 2·R0 tokens): adjacent pairs
# whose suffixes first differ inside this window — the vast majority
# at realistic vocabulary (expected adjacent-suffix LCP ≈ log_m N
# tokens) — resolve their sub-base LCP from the carried longs alone;
# the remainder fetch the full packed prefix through the walk's
# count-guarded broadcast-probe residual. Keeps the tail's sort/pair
# frames at ~80 B/row where carrying the full 256-byte ``xs`` made
# the round-11 stress leg's pairing cost 54.6 s of 128 s.
_X0_LONGS = 2
# max elements per block-rank array in the tail: each tail round
# multiplies the covered length by this factor (one round covers
# base·32 = 4096 tokens at the default caps), at 8 bytes/element on
# the SA sort and pair rows. 32 matches _XS_CAP's 256-byte ceiling.
_BLK_CAP = 32


@dataclass
class _Tail:
    """Tail metadata ``suffix_ranks`` hands ``_sa_pairs``: the carried
    top-level block array ``atop`` has ``nb`` elements, each an
    order/equality-preserving rank of ``unit`` tokens; ``descent``
    lists the intermediate rounds' arrays coarse → fine as (column,
    tokens per ELEMENT, frame holding (id, pos, column)) — empty for
    documents within ``unit·_BLK_CAP`` tokens (the common case)."""

    unit: int
    nb: int
    descent: list[tuple[str, int, DataFrame]] = field(default_factory=list)


def _dense_rank_distributed(
    df: DataFrame, key_cols: list[str], out: str
) -> tuple[DataFrame, int]:
    """Dense rank of ``key_cols`` over the whole frame WITHOUT a global
    window: distinct keys → range-sorted ``sequential_id`` (JVM stamp +
    broadcast offsets) → join back. Rank values are 0-based, contiguous
    over distinct keys, and deterministic (the key order is total).
    Returns (ranked frame, number of distinct keys) — the count comes
    free from ``sequential_id``'s own per-partition stats (no separate
    count job), and when it is small the join back is a broadcast (the
    token-vocabulary case: the N-row positions table never shuffles)."""
    keys, n, _bounds = sequential_id(
        df.select(*key_cols).distinct(),
        order_by=[F.col(c).asc() for c in key_cols],
        name=out,
        start=0,
    )
    if n <= _KEYS_BROADCAST_MAX:
        keys = F.broadcast(keys)
    return df.join(keys, key_cols), n


def suffix_ranks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, _Tail | None, int, int, int, DataFrame]:
    """(positions, tail, R0, B, L, xs_src): ``positions`` = one row per
    token position, eagerly checkpointed — without a tail
    (``tail is None``) it carries (id, pos, dl, xs); in tail mode it
    runs NARROW as (id, pos, dl, x0, atop) where ``atop`` is the
    top-level BLOCK-RANK array (``tail.nb`` elements, each an order-
    and equality-preserving rank of ``tail.unit`` tokens, −1 past the
    document end — lexicographic ``atop`` order IS the full suffix
    order and a leading-run over two arrays certifies LCP in
    multiples of ``tail.unit``) and ``x0`` the first
    ``min(_X0_LONGS, L)`` packed longs (the pair mini prefix).
    ``xs_src`` is the (id, pos, xs) packed-prefix frame the walk's
    residual probes read; without a tail it is just a projection of
    ``positions``. ``xs`` is the PACKED PREFIX: an array of L longs,
    element i encoding the R0 shifted token ranks at
    ``[pos + i·R0, pos + (i+1)·R0)`` in base ``B = m+1`` (sentinel 0
    past the document end), so array comparison == suffix order out to
    ``base = R0·L`` tokens. L adapts to the corpus:
    ``ceil(max_dl / R0)`` capped at ``_XS_CAP``. Suffixes are
    per-document (repeats never span documents); zero-token documents
    contribute no positions."""
    t = time.perf_counter()
    src = widen(df.select(id_col, text_col), id_col)
    base_df = barrier(
        src.select(
            F.col(id_col).alias("id"), text_tokens(text_col).alias("__toks")
        )
    ).filter(F.size("__toks") >= 1)
    ex = base_df.select(
        "id",
        F.size("__toks").alias("dl"),
        F.posexplode("__toks").alias("pos", "__tok"),
    )
    # materialize the exploded positions ONCE: the vocabulary distinct,
    # the max_dl aggregate and the packing window all re-scan this
    # frame — without the checkpoint each re-runs tokenize+explode
    ex = ex.localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    # ONE job probes the vocabulary and max_dl together; small vocabs
    # (the token-corpus common case) rank driver-side (see
    # _KEYS_DRIVER_MAX), big vocabs fall back to the distributed rank.
    vocab_rows = (
        ex.groupBy("__tok")
        .agg(F.max("dl").alias("__mdl"))
        .limit(_KEYS_DRIVER_MAX + 1)
        .collect()
    )
    if len(vocab_rows) <= _KEYS_DRIVER_MAX:
        m = len(vocab_rows)
        max_dl = max(r["__mdl"] for r in vocab_rows) if vocab_rows else 1
        # sorted index == the distributed path's 0-based ascending dense
        # rank (Python str order == Spark UTF8 ascending for valid
        # UTF-8: both are code-point order)
        keys = ex.sparkSession.createDataFrame(
            [
                (t, i)
                for i, t in enumerate(
                    sorted(r["__tok"] for r in vocab_rows)
                )
            ],
            "__tok string, __r0 long",
        )
        ranked = ex.join(F.broadcast(keys), "__tok")
    else:
        ranked, m = _dense_rank_distributed(ex, ["__tok"], "__r0")
        max_dl = ex.agg(F.max("dl")).first()[0] or 1

    # R0 = ranks packed per long: the largest R <= 16 with B^R < 2^63
    # (exact Python-int check; R == 1 only once B^2 >= 2^63, i.e. past
    # ~3e9 distinct tokens — matching the _R0_CAP constant note)
    B = int(m) + 1
    R0 = 1
    while R0 < _R0_CAP and B ** (R0 + 1) < 2 ** 63:
        R0 += 1
    Lfull = max(-(-max_dl // R0), 1)
    if Lfull <= _XS_CAP:
        L = Lfull  # the packed prefix covers every document: no tail
    else:
        # tail mode: balance the packed-prefix width (L longs, ridden
        # by the one wide sort and the xs_src residual scans) against
        # the atop width (ceil(max_dl / (R0·L)) block-rank elements,
        # ridden by the SA sort and EVERY pair row): L ≈ sqrt(Lfull)
        # equalizes the two, instead of maxing the prefix out at
        # _XS_CAP and paying 256-byte sort keys for a 7-element atop.
        L = min(_XS_CAP, max(_X0_LONGS, math.isqrt(Lfull - 1) + 1))
    base = R0 * L
    t = _mark(f"tokenize+vocab (m={m}, R0={R0}, L={L})", t)

    # ONE per-doc window pass builds the whole packed prefix: Horner
    # over R0 shifted-rank leads -> s1 (the first packed long), then
    # L-1 leads of s1 itself (same window spec — no second sort).
    # Shifting every component (+1, sentinel 0) keeps base-B encoding
    # == lexicographic tuple order with past-end sorting first; a real
    # s1 is >= B^(R0-1) >= 1, so 0 is unambiguous for missing leads.
    # Expressions are assembled as SQL STRINGS and parsed JVM-side
    # (round 16): py4j round-trips cost ~0.5-1 ms each on this runtime,
    # and the per-digit DSL build alone was ~100 calls per query
    # invocation (see dedup._minhash_sql for the same rationale).
    # Identical trees: coalesce coerces the int literals to long
    # exactly as the DSL's cast chain did.
    _W = "partition by id order by pos"
    digits = [
        f"(coalesce(lead(__r0, {i}) over ({_W}), -1) + 1)"
        for i in range(R0)
    ]
    s1 = digits[0]
    for d in digits[1:]:
        s1 = f"({s1} * {B} + {d})"
    packed = ranked.withColumn("__s1", F.expr(s1))
    xs = F.expr(
        "array(__s1, "
        + ", ".join(
            f"coalesce(lead(__s1, {i * R0}) over ({_W}), 0)"
            for i in range(1, L)
        )
        + ")"
        if L > 1
        else "array(__s1)"
    )
    # NOTE (round 16): leaving ``pos`` lazy in no-tail mode was
    # considered (it has one logical consumer there — the SA sort), but
    # orderBy's RangePartitioner runs a SAMPLING pass over its child,
    # so an unmaterialized ``pos`` would re-run the packing window
    # twice more. The checkpoint stays: sample and sort read memory.
    pos = (
        packed.withColumn("xs", xs)
        .select("id", "pos", "dl", "xs")
        .localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    )
    t = _mark(f"packed prefix xs (base={base})", t)
    if max_dl <= base:
        return pos, None, R0, B, L, pos.select("id", "pos", "xs")

    # BLOCK-RANK TAIL for documents longer than the packed prefix.
    # Each round: rank the current key with a MIN-ROW-NUMBER rank (the
    # row number of the key group's first row in sorted order — order-
    # and equality-preserving like a dense rank, but computable with
    # ONE sort and no window on the key-width frame), then assemble an
    # array of that rank at block offsets 0, cov, 2·cov, … in ONE
    # per-doc window pass. Lexicographic order of the array == suffix
    # order out to its coverage; leading-run equality of two arrays
    # certifies LCP in multiples of cov as a pure expression. The
    # first round's key is the wide ``xs`` (the ONLY time the 256-byte
    # arrays are sorted or shuffled: sequential_id drops them right
    # after the sort via ``keep`` and group identity rides a two-seed
    # 128-bit xxhash64 surrogate — the same exactness bar as the
    # fixed-k family's 64-bit md5-prefix windows; expected false-equal
    # pairs at 10M groups ~1e14/2^128 ≈ 3e-25); later rounds (needed
    # only past base·_BLK_CAP = 4096 tokens) sort ≤ _BLK_CAP-long
    # arrays. Intermediate rounds' arrays are kept (as projections of
    # the round's own checkpoint — no extra storage) for the pair
    # walk's descent fetches.
    base_frame = pos
    x0w = min(_X0_LONGS, L)
    pos = pos.withColumn("x0", F.slice("xs", 1, x0w))
    descent: list[tuple[str, int, DataFrame]] = []
    # current KEY column (sorted this round; its rank covers kcov
    # tokens): starts as the wide xs (coverage base), becomes an array
    # of the previous round's rank for every later round
    keyc, kcov, si = "xs", base, 0
    while True:
        si += 1
        uname = f"u{si}"
        seq, _n, _bounds = sequential_id(
            pos.withColumn("__h1", F.xxhash64(keyc)).withColumn(
                "__h2", F.xxhash64(F.lit(1), keyc)
            ),
            order_by=[F.col(keyc).asc()],
            name="__rn",
            start=0,
            checkpoint_level=_CKPT_LEVEL,
            # the wide xs is dropped right after its one sort; an
            # intermediate round's array column rides the round's own
            # checkpoint (the walk's descent fetches read it)
            keep=(
                ["id", "pos", "dl", "x0", "__h1", "__h2"]
                if si == 1
                else ["id", "pos", "dl", "x0", keyc, "__h1", "__h2"]
            ),
        )
        if si > 1:
            # descent metadata, coarse -> fine: (array column, tokens
            # covered by each ELEMENT, frame to fetch it from)
            descent.insert(
                0,
                (keyc, kcov // _BLK_CAP, seq.select("id", "pos", keyc)),
            )
        rank_c = F.min("__rn").over(Window.partitionBy("__h1", "__h2"))
        if si == 1:
            n_pos = int(_n)
        if n_pos < 2 ** 31:
            # min-rn values are row numbers < n_pos: INT when it fits
            # halves every block-rank array's bytes on the SA sort and
            # the pair rows (−1 sentinel coerces with the elements)
            rank_c = rank_c.cast("int")
        ranked = seq.withColumn(uname, rank_c)
        nb_total = -(-max_dl // kcov)
        if nb_total <= _BLK_CAP:
            # top round: fuse the rank with the atop assembly — one
            # checkpoint, two window stages (hash-min, then per-doc
            # leads) in a single job; the rank column itself never
            # materializes on its own
            nb = nb_total
            atop = F.expr(
                f"array({uname}, "
                + ", ".join(
                    f"coalesce(lead({uname}, {i * kcov}) over ({_W}), -1)"
                    for i in range(1, nb)
                )
                + ")"
                if nb > 1
                else f"array({uname})"
            )
            pos = (
                ranked.withColumn("atop", atop)
                .select("id", "pos", "dl", "x0", "atop")
                .localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
            )
            unit = kcov
            t = _mark(f"tail block rank + atop nb={nb} unit={kcov}", t)
            break
        # intermediate round: a full-width array of the new rank is the
        # next round's key (coverage multiplies by _BLK_CAP)
        arr = F.expr(
            f"array({uname}, "
            + ", ".join(
                f"coalesce(lead({uname}, {i * kcov}) over ({_W}), -1)"
                for i in range(1, _BLK_CAP)
            )
            + ")"
        )
        keyc = f"a{si}"
        pos = (
            ranked.withColumn(keyc, arr)
            .select("id", "pos", "dl", "x0", keyc)
            .localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
        )
        t = _mark(f"tail block rank {uname} unit={kcov}", t)
        kcov *= _BLK_CAP
    tail = _Tail(unit=unit, nb=nb, descent=descent)
    # the packed prefix stays on its own checkpointed frame: the SA
    # sort and the pair rows stay NARROW (atop + x0 stand in for xs);
    # only the walk's count-guarded broadcast-probe residual ever
    # reads the wide frame again
    return pos, tail, R0, B, L, base_frame.select("id", "pos", "xs")


def longest_repeats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_rep: int | None = None,
) -> DataFrame:
    """(id, pos, dl, rep): for every token position, the EXACT length of
    the longest substring starting there that occurs at least once more
    anywhere in the corpus (0 when the suffix shares no prefix with any
    other). The suffix-array semantics the fixed-k family approximates.
    Exact unconditionally on the no-tail path (every document within
    ``base`` tokens); exact up to a two-seed 128-bit xxhash64
    group-identity surrogate in tail mode (see the module docstring —
    the same qualification bar as the fixed-k family's 64-bit windows).

    ``min_rep`` (optional) pushes a consumer threshold into the pair
    pass: positions whose rep would be < min_rep are OMITTED from the
    result entirely (instead of reported with their small rep), and
    the exploded max-aggregate below runs on the duplicate-sized
    surviving pair set instead of the corpus-sized full one. Exact for
    any consumer that filters rep >= min_rep (both span operators do).
    """
    sa, pairs, n_sa = _sa_pairs(df, text_col, id_col, min_rep=min_rep)
    # rep = max(LCP with predecessor, LCP with successor). Each pair
    # contributes its lcp to BOTH members, and the pair row already
    # carries both members' (id, pos, dl) — so explode to two
    # identity-keyed rows and max-aggregate: NO join back to the sa
    # frame at all (and never an ordered global window). With >= 2
    # positions every position sits in at least one adjacent pair, so
    # the aggregate covers the whole corpus; the one-position corpus
    # (no pairs) is the lone exception, caught below via the count the
    # sa build already produced.
    rep = (
        pairs.selectExpr(
            "explode(array("
            "named_struct('id', ida, 'pos', posa, 'dl', dla), "
            "named_struct('id', idb, 'pos', posb, 'dl', dlb))) as m",
            "lcp",
        )
        .groupBy("m.id", "m.pos", "m.dl")
        .agg(F.max("lcp").alias("rep"))
    )
    if n_sa == 1:
        rep = sa.select(
            "id", "pos", "dl", F.lit(0).cast("long").alias("rep")
        )
    if min_rep is not None:
        # walk stragglers may finalize below the pushed threshold —
        # enforce the OMITTED contract here (cheap: post-aggregate).
        # Applied AFTER the one-position-corpus override so the
        # override's rep=0 row honors the omitted-below-threshold
        # contract too (ADVICE r12).
        rep = rep.filter(F.col("rep") >= min_rep)
    return rep


def suffix_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 8,
) -> DataFrame:
    """Variable-length ExactSubstr coverage: per document, the token
    positions covered by SOME duplicated substring of length >=
    ``min_len`` — computed from TRUE longest-repeat lengths, not fixed
    windows. Output (id_col, n_dup_windows, dup_tokens) is
    column-compatible with ``dedup.duplicate_spans(k=min_len)`` and —
    by the coverage-equivalence theorem — value-IDENTICAL to it:
    a position's k-window is duplicated iff its longest repeat is
    >= k, and the union of [p, p + rep(p)) over rep >= k equals the
    union of the duplicated k-windows (each [p, p+rep) is exactly the
    chain of k-windows starting at p..p+rep-k). What the variable-
    length path ADDS is ``longest_repeats``' exact per-position rep —
    the quantity the fixed-k scheme cannot report — at
    O(log max_len)-shuffle cost instead of one."""
    rep = longest_repeats(
        df, text_col=text_col, id_col=id_col, min_rep=min_len
    )
    spans = rep.filter(F.col("rep") >= min_len)
    # one parsed expression (round 16, py4j construction cost — see
    # dedup._minhash_sql); identical tree to the old DSL build
    contrib = F.expr(
        "greatest(cast(0 as bigint), (pos + rep) - greatest(pos, "
        "coalesce(max(pos + rep) over (partition by id order by pos "
        "rows between unbounded preceding and 1 preceding), 0)))"
    )
    out = (
        spans.withColumn("__c", contrib)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum("__c").alias("dup_tokens"),
        )
        .withColumnRenamed("id", id_col)
    )
    return out


def _xs_run(xa: str, xb: str, L: int, R0: int, B: int) -> Column:
    """Common-prefix TOKEN count of two packed-prefix arrays — an LCP
    below ``base`` as ONE expression, no join: the component run (first
    differing array element) gives lcp DIV R0; the first differing
    base-B digit of that component gives lcp MOD R0. Digit comparison
    never divides: leading digits through place p are equal iff
    ``da − pmod(da, p) == db − pmod(db, p)`` — pure long arithmetic
    (double division would round above 2^53; packed values reach
    2^62). Sentinel digits (0) compare equal on both sides, so a run
    through shared past-end padding can only overcount past a document
    end — the caller's ``least(lcp, remaining)`` clamp repairs it
    exactly. Returns ``L·R0`` (= base) when the arrays are fully equal
    (the caller maps that to full-equality semantics); NULL in (cursor
    row absent) ⟹ NULL out — enforced by the explicit isNotNull guard
    below (without it a NULL array would fall through every NULL-valued
    when-condition into the otherwise() branches and yield base, and
    the walk's ``coalesce(_xs_run(...), 0)`` would be dead code).

    Round 16: ``xa``/``xb`` are COLUMN NAMES and the whole expression
    is assembled as one SQL string parsed JVM-side (py4j round-trips
    dominated plan construction; see dedup._minhash_sql). The textual
    re-expansion of shared subterms mirrors exactly the tree the DSL
    build produced — Column reuse in Python also duplicated the
    Catalyst subtree per reference."""
    z = f"zip_with({xa}, {xb}, (x, y) -> x = y)"
    fpos = f"array_position({z}, false)"
    n = f"(case when {fpos} > 0 then {fpos} - 1 else {L} end)"
    da, db = f"get({xa}, cast({n} as int))", f"get({xb}, cast({n} as int))"
    branches = []
    for i in range(R0):
        p = B ** (R0 - 1 - i)
        branches.append(
            f"when ({da} - pmod({da}, {p})) != ({db} - pmod({db}, {p})) "
            f"then {i}"
        )
    run = "(case " + " ".join(branches) + f" else {R0} end)"
    out = (
        f"(case when {n} < {L} then {n} * {R0} + {run} "
        f"else {L * R0} end)"
    )
    return F.expr(
        f"case when {xa} is not null and {xb} is not null then {out} end"
    )


def _blk_run(aa: str, ab: str) -> Column:
    """Leading equal-element count of two equal-length block-rank
    arrays — the pair's LCP in BLOCKS as one expression. Shared −1
    past-end sentinels compare equal, so a run through shared padding
    can only overcount past a document end — repaired exactly by the
    caller's ``least(lcp, remaining)`` clamp (and full-array equality
    is tier-1'd to equal complete suffixes before the run is used).
    NULL in (cursor row absent) ⟹ NULL out. (A when-chain of flat
    element compares was tried for codegen's sake and measured 2x
    WORSE on the pair pass — the 14-branch chain duplicated per
    reference dwarfed the higher-order-function overhead; the caller
    instead guarantees single evaluation by deriving every dependent
    flag from ONE aliased run column.) Round 16: name-string args +
    one parsed SQL expression, same tree (see ``_xs_run``)."""
    z = f"zip_with({aa}, {ab}, (x, y) -> x = y)"
    fpos = f"array_position({z}, false)"
    n = f"(case when {fpos} > 0 then {fpos} - 1 else size({aa}) end)"
    return F.expr(
        f"case when {aa} is not null and {ab} is not null "
        f"then cast({n} as bigint) end"
    )


def _lead_eq(
    xa: str, xb: str, tokens: int, R0: int, B: int, L: int
) -> Column:
    """``pre-clamp run(xa, xb) >= tokens`` as FLAT long arithmetic —
    the codegen-able threshold GATE the min_rep pushdown evaluates on
    every adjacent pair BEFORE the interpreted ``_xs_run`` expression
    runs (round 13: at sf1 only ~11k of 2.7M pairs survive the
    threshold, so gating first removes ~99.6% of the pair pass's
    higher-order-function cost). Exactly equivalent to the run
    comparison it guards: the run counts leading equal base-B DIGITS
    (sentinel padding compares equal, same as ``_xs_run``'s pre-clamp
    semantics), and run >= t ⟺ the first t digits are equal ⟺ the
    first ``t div R0`` packed longs are equal AND the leading
    ``t mod R0`` digits of the next long are equal — component
    equality plus ONE truncated-digit compare, no higher-order
    functions, no branches. The callers keep their exact
    ``lcp >= min_rep`` filter after the full run computation, so the
    gate is a pure necessary-condition prefilter (it admits the
    padded-overcount pairs the pre-clamp filter also admits).
    Round 16: name-string args + one parsed SQL expression, same tree
    (see ``_xs_run``)."""
    t = min(tokens, L * R0)
    conds: list[str] = []
    q, r = divmod(t, R0)
    for i in range(q):
        conds.append(f"(get({xa}, {i}) = get({xb}, {i}))")
    if r:
        p = B ** (R0 - r)
        da, db = f"get({xa}, {q})", f"get({xb}, {q})"
        conds.append(
            f"(({da} - pmod({da}, {p})) = ({db} - pmod({db}, {p})))"
        )
    if not conds:
        return F.lit(True)
    return F.expr(" and ".join(conds))


def _cursor_lookup(
    act: DataFrame,
    tbl: DataFrame,
    val_col: str,
    out: str,
    side: str,
    n_act: int,
) -> DataFrame:
    """Fetch ``tbl``'s ``val_col`` at the walk cursor
    ``(id_<side>, pos_<side> + lcp)`` for every pair in ``act``,
    as ``out`` (NULL when the cursor is past the document end).

    Small probe sets (the usual case — only lcp >= base pairs walk) go
    broadcast: an INNER join streams the N-row rank table against the
    broadcast probe hash (no shuffle, no sort of the big side), and
    the hits (<= n_act rows) broadcast-left-join back onto the pairs
    by their unique successor key (idb, posb). Past the guard the
    lookup falls back to the expression-keyed shuffle join — same
    semantics, data-proportional cost."""
    id_c, pos_c = f"id{side}", f"pos{side}"
    cursor = F.col(pos_c) + F.col("lcp")
    if n_act <= _PROBE_BROADCAST_MAX:
        probes = act.select(
            "idb", "posb",
            F.col(id_c).alias("__pid"), cursor.alias("__ppos"),
        )
        hits = (
            tbl.join(
                F.broadcast(probes),
                (F.col("id") == F.col("__pid"))
                & (F.col("pos") == F.col("__ppos")),
                "inner",
            )
            .select("idb", "posb", F.col(val_col).alias(out))
        )
        return act.join(F.broadcast(hits), ["idb", "posb"], "left")
    return (
        act.join(
            tbl.select(
                F.col("id").alias("__rid"), F.col("pos").alias("__rpos"),
                F.col(val_col).alias(out),
            ),
            (F.col(id_c) == F.col("__rid")) & (F.col("__rpos") == cursor),
            "left",
        )
        .drop("__rid", "__rpos")
    )


def _cursor_lookup_both(
    act: DataFrame,
    tbl: DataFrame,
    val_col: str,
    out_a: str,
    out_b: str,
    n_act: int,
) -> DataFrame:
    """Fetch ``tbl``'s ``val_col`` at BOTH sides' walk cursors with ONE
    scan of ``tbl``: the two probe sets union into a single broadcast
    (side-tagged), the inner join streams the table once, and a tiny
    group-by pivots the hits back into per-pair (out_a, out_b) columns.
    Past the broadcast guard it falls back to the two expression-keyed
    shuffle joins of ``_cursor_lookup``."""
    # the unioned probe set is 2 rows per pair — guard on 2·n_act so
    # the broadcast never exceeds the size _PROBE_BROADCAST_MAX's
    # comment budgets (ADVICE r12)
    if 2 * n_act > _PROBE_BROADCAST_MAX:
        act = _cursor_lookup(act, tbl, val_col, out_a, "a", n_act)
        return _cursor_lookup(act, tbl, val_col, out_b, "b", n_act)
    probes = act.select(
        "idb", "posb",
        F.col("ida").alias("__pid"),
        (F.col("posa") + F.col("lcp")).alias("__ppos"),
        F.lit(0).alias("__side"),
    ).unionByName(
        act.select(
            "idb", "posb",
            F.col("idb").alias("__pid"),
            (F.col("posb") + F.col("lcp")).alias("__ppos"),
            F.lit(1).alias("__side"),
        )
    )
    hits = (
        tbl.join(
            F.broadcast(probes),
            (F.col("id") == F.col("__pid"))
            & (F.col("pos") == F.col("__ppos")),
            "inner",
        )
        .groupBy("idb", "posb")
        .agg(
            F.first(
                F.when(F.col("__side") == 0, F.col(val_col)),
                ignorenulls=True,
            ).alias(out_a),
            F.first(
                F.when(F.col("__side") == 1, F.col(val_col)),
                ignorenulls=True,
            ).alias(out_b),
        )
    )
    return act.join(F.broadcast(hits), ["idb", "posb"], "left")


def _sa_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_rep: int | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """(sa, pairs, n_sa): ``sa`` = every position with its suffix-array
    index ``__sa`` (order: top-level key, ties — equal complete
    suffixes — on (id, pos)); ``pairs`` = one row per ADJACENT sa pair
    (ida, posa, dla, idb, posb, dlb, __i, lcp) where ``__i`` is the
    successor's sa index and ``lcp`` the pair's exact LCP; ``n_sa`` =
    the number of positions (free from ``sequential_id``; it drives
    ``longest_repeats``' one-position-corpus guard). The shared core of
    ``longest_repeats`` and ``suffix_span_removal``.

    ``min_rep`` (optional) is the consumers' threshold pushdown: pairs
    resolved by the carried tiers with lcp < min_rep are dropped
    BEFORE the pair frame is materialized (a pair below the threshold
    can only produce reps below it, and a missing predecessor pair
    reads as lcp_prev NULL — the same run-boundary decision as
    lcp_prev < min_len in the removal). Walk pairs are kept regardless
    (their lcp finalizes later; stragglers that finalize below the
    threshold are harmless — every consumer thresholds again). At
    realistic duplication rates this shrinks the materialized pair
    frame and the downstream exploded aggregate from corpus-sized to
    duplicate-sized.

    Common case (every document within ``base = R0·L`` tokens): the
    adjacent pair's LCP is ``_xs_run`` over the two CARRIED packed
    arrays — one expression, zero joins — with the full-equality case
    (run == base ⟹ equal complete suffixes, since base >= max_dl)
    mapped to the full remaining length. Equal complete suffixes MUST
    short-circuit to full length: a bounded walk cannot reach it and
    the end clamp only lowers — exact duplicate documents were
    undercounted before this tier existed (ADVICE r10, high).

    With a block-rank tail (documents longer than base), three tiers,
    cheapest first:

    1. fully equal ``atop`` arrays ⟹ equal complete suffixes ⟹ lcp =
       remaining (the arrays cover >= max_dl tokens and encode the
       end-of-document alignment through the packed sentinel and the
       −1 past-end blocks).
    2. offset-0, carried: the leading-run over the two carried
       ``atop`` arrays certifies ``run·unit`` tokens as one
       expression; run == 0 pairs whose suffixes first differ inside
       the carried ``x0`` mini prefix read their LCP off it exactly.
       Nearly every pair resolves here — on random text the expected
       adjacent LCP is ~log_m N tokens, well inside ``x0``.
    3. join walk: descend the (usually empty) list of finer block
       arrays at the moving cursor ``pos + lcp`` — each scale is one
       count-guarded broadcast fetch per side plus a leading-run
       expression, and the cursor stays aligned with the block that
       failed one scale above by construction — then one ``xs`` fetch
       for the sub-base residual. Coverage is exact and tight: a
       failed block at any scale bounds that scale's residual below
       one block, and the runs telescope down to the packed prefix.

    Driver syncs are metadata-sized: per-partition (min, max) __sa
    bounds for the boundary stitch (one row per partition, both
    paths), plus — tail only — a single ``count()`` of the
    checkpointed walk frame (an in-memory scan, sizing the
    broadcast-probe guard for every lookup).

    The final ``least(lcp, remaining)`` clamp repairs the one
    overcount the shared end-of-document sentinel allows (padded
    matches past a document end)."""
    pos, tail, R0, B, L, xs_src = suffix_ranks(
        df, text_col=text_col, id_col=id_col
    )
    t = time.perf_counter()
    has_tail = tail is not None
    x0w = min(_X0_LONGS, L)
    mini = x0w * R0
    base = R0 * L
    top = "atop" if has_tail else "xs"
    pair_carry = ["x0", "atop"] if has_tail else ["xs"]
    sa, n_sa, bounds = sequential_id(
        pos,
        order_by=[F.col(top).asc(), F.col("id").asc(), F.col("pos").asc()],
        name="__sa",
        start=0,
        checkpoint_level=_CKPT_LEVEL,
    )
    t = _mark("sa order+seq_id", t)

    # ADJACENT pairs via lead() within the checkpointed sort partitions
    # — no self-join: sequential_id's checkpoint pins rows to their
    # range-sorted partitions, so within a re-stamped partition id the
    # rows are contiguous in __sa and lead() IS the SA successor. One
    # __pid exchange (32-ish keys, each partition moves wholesale)
    # replaces the round-11 a⋈b shuffle join. Partition-BOUNDARY pairs
    # (the successor lives in the next non-empty partition) are
    # stitched explicitly: per-partition min/max __sa (one tiny agg,
    # one row per partition) pick out the boundary rows by isin filter
    # on the checkpointed frame, and the <=#partitions first-rows
    # broadcast-join to the last-rows on successor arithmetic.
    sa2 = sa.withColumn("__pid", F.spark_partition_id())
    # partition bounds in __sa space come FREE from sequential_id's own
    # per-partition stats — no full-scan groupBy(__pid).agg(min,max)
    # collect job: partition pid holds exactly the contiguous __sa
    # range the offsets prefix-sum assigned.
    last_sas = [hi for _, hi in bounds if hi < n_sa - 1]
    first_sas = [lo for lo, _ in bounds if lo > 0]
    # The lead window clusters by __pid — P distinct keys into P hash
    # buckets is the guide-§2.5 balls-in-bins skew (max load 3-4 keys,
    # the pair pass ran at ~1/3 parallelism). A RANGE repartition on
    # __pid lands exactly one key per partition and its
    # RangePartitioning satisfies the window's ClusteredDistribution,
    # so this replaces (not adds to) the hash exchange; the sampling
    # pass reads the checkpoint. lasts/firsts stay on the unshuffled
    # scan.
    sa2w = sa2.repartitionByRange(max(len(bounds), 1), "__pid")
    # selects are SQL strings — ONE py4j round-trip per selectExpr
    # instead of ~6 per column (round 16; see dedup._minhash_sql)
    _WL = "over (partition by __pid order by __sa)"
    a_side = [
        "id as ida", "pos as posa", "dl as dla",
        *[f"{c} as __a_{c}" for c in pair_carry],
    ]
    pj = sa2w.selectExpr(
        *a_side,
        "__sa as __i",
        f"lead(id) {_WL} as idb",
        f"lead(pos) {_WL} as posb",
        f"lead(dl) {_WL} as dlb",
        *[f"lead({c}) {_WL} as __b_{c}" for c in pair_carry],
    ).filter(F.col("idb").isNotNull())
    if last_sas:
        lasts = sa2.filter(F.col("__sa").isin(last_sas)).selectExpr(
            *a_side, "__sa as __i"
        )
        firsts = sa2.filter(F.col("__sa").isin(first_sas)).selectExpr(
            "__sa - 1 as __i",
            "id as idb", "pos as posb", "dl as dlb",
            *[f"{c} as __b_{c}" for c in pair_carry],
        )
        pj = pj.unionByName(lasts.join(F.broadcast(firsts), "__i"))
    rem = F.least(
        F.col("dla") - F.col("posa"), F.col("dlb") - F.col("posb")
    )
    keep = ["ida", "posa", "dla", "idb", "posb", "dlb", "__i"]

    if not has_tail:
        # packed-prefix-only: the LCP is one expression on the pair
        # row. The interpreted higher-order run is aliased ONCE and
        # the full-equality branch derives from the column (the
        # optimizer declines to collapse projections that would
        # duplicate a non-cheap expression, so this is a real 2x on
        # the per-pair cost, the no-tail hot path).
        run0 = _xs_run("__a_xs", "__b_xs", L, R0, B)
        if min_rep is not None and min_rep > 0:
            # threshold GATE before the interpreted run: drop pairs
            # whose pre-clamp run cannot reach min_rep with flat long
            # compares (codegen), so _xs_run below evaluates on the
            # duplicate-sized survivor set only. Exact: gate pass ⟺
            # pre-clamp run >= min_rep, and the post-run filter below
            # re-applies the same threshold on the final lcp.
            pj = pj.filter(
                _lead_eq("__a_xs", "__b_xs", min_rep, R0, B, L)
            )
        pairs = (
            pj.select(*keep, run0.alias("__r0p"))
            .select(
                *keep,
                F.when(F.col("__r0p") >= base, rem)
                .otherwise(F.col("__r0p"))
                .alias("lcp"),
            )
        )
        if min_rep is not None:
            pairs = pairs.filter(F.col("lcp") >= min_rep)
    else:
        # tier 2: leading-run over the two carried atop arrays — the
        # LCP in multiples of tail.unit as one expression; fully equal
        # arrays (run == nb) are tier 1 (equal complete suffixes ⟹
        # lcp = remaining: a bounded descent cannot reach it and the
        # end clamp only lowers — ADVICE r10's undercount class).
        # Sub-base pairs (run == 0): the x0 mini-prefix run gives the
        # LCP exactly whenever the suffixes first differ inside it
        # (< mini tokens, the common case); a full x0 run says only
        # "equal through x0" — those pairs join the walk at lcp = 0
        # and read their whole sub-base run from the residual fetch.
        # runt (the interpreted higher-order run) is aliased ONCE as
        # __cert and every dependent flag derives from the column —
        # full equality iff the certified length reaches the arrays'
        # whole coverage (run == nb ⟺ cert == nb·unit), so the run is
        # evaluated exactly once per pair row.
        runt = _blk_run("__a_atop", "__b_atop")
        run01 = _xs_run("__a_x0", "__b_x0", x0w, R0, B)
        if min_rep is not None and min_rep > 0:
            # threshold GATE (flat compares, codegen) before the
            # interpreted tier expressions. A pair is DROPPED by the
            # __w | lcp >= min_rep filter below iff cert == 0 AND
            # r01 < mini AND min(r01, rem) < min_rep; cert == 0 ⟺ the
            # atop first elements differ, and (r01 >= mini OR
            # r01 >= min_rep) ⟺ the x0 leading min(min_rep, mini)
            # digits are equal (_lead_eq clamps internally). So
            # KEEP ⟺ atop[0] equality OR the x0 digit gate — a pure
            # necessary-and-sufficient prefilter for the exact filter
            # below, which stays.
            pj = pj.filter(
                (
                    F.get(F.col("__a_atop"), 0)
                    == F.get(F.col("__b_atop"), 0)
                )
                | _lead_eq("__a_x0", "__b_x0", min_rep, R0, B, x0w)
            )
        pairs = (
            pj.select(
                *keep,
                (runt * F.lit(tail.unit)).alias("__cert"),
                run01.alias("__r01"),
            )
            .withColumn(
                "__eqf", F.col("__cert") == F.lit(tail.nb * tail.unit)
            )
            .withColumn(
                "lcp",
                F.when(F.col("__eqf"), rem)
                .when(
                    (F.col("__cert") == 0) & (F.col("__r01") < mini),
                    F.least(F.col("__r01"), rem),
                )
                .otherwise(F.col("__cert"))
                .cast("long"),
            )
            .withColumn(
                "__w",
                (~F.col("__eqf"))
                & ((F.col("__cert") > 0) | (F.col("__r01") >= mini)),
            )
            .drop("__r01", "__cert")
        )
        # threshold pushdown: tier-resolved pairs below min_rep can
        # never produce a rep >= min_rep — drop them BEFORE the
        # materialization (walk pairs stay: their lcp finalizes below)
        if min_rep is not None:
            pairs = pairs.filter(
                F.col("__w") | (F.col("lcp") >= min_rep)
            )
        # materialize the tier frame ONCE (narrow: x0 and atop are
        # already collapsed into lcp/__w): both the walk and the done
        # branch read it, and without the checkpoint the done branch
        # would re-run the adjacency window
        pairs = pairs.localCheckpoint(eager=True)
        # pairs fully resolved by the carried tiers never enter the walk
        done = pairs.filter(~F.col("__w")).drop("__eqf", "__w")
        walk = pairs.filter(F.col("__w")).drop("__eqf", "__w")
        walk = walk.localCheckpoint(eager=True)
        t = _mark("pair tiers (carried)", t)
        n_walk = walk.count()
        # descent: one fetch pair + leading-run per finer scale, at the
        # moving cursor pos + lcp — which stays aligned with the block
        # that failed one scale above by construction, so each scale's
        # run is exact and the residuals telescope down to the packed
        # prefix. Empty for corpora within unit·_BLK_CAP tokens.
        for name, ucov, frm in tail.descent:
            walk = _cursor_lookup_both(walk, frm, name, "__ba", "__bb", n_walk)
            walk = walk.withColumn(
                "lcp",
                F.col("lcp")
                + F.coalesce(
                    _blk_run("__ba", "__bb"), F.lit(0)
                )
                * F.lit(ucov),
            ).drop("__ba", "__bb")
            walk = walk.localCheckpoint(eager=True)
            t = _mark(f"lcp descent {name} unit={ucov}", t)
        # final sub-base residual: one xs fetch at the walk's end cursor
        # (a full-run fetch means both cursors sit in shared past-end
        # padding or an end-reaching match — the clamp finishes it)
        walk = _cursor_lookup_both(walk, xs_src, "xs", "__xca", "__xcb", n_walk)
        walk = walk.withColumn(
            "lcp",
            F.col("lcp")
            + F.coalesce(
                _xs_run("__xca", "__xcb", L, R0, B), F.lit(0)
            ),
        ).drop("__xca", "__xcb")
        t = _mark("lcp residual xs fetch", t)
        pairs = done.unionByName(walk)

    pairs = pairs.withColumn(
        "lcp",
        F.least(
            F.col("lcp"),
            F.col("dla") - F.col("posa"),
            F.col("dlb") - F.col("posb"),
        ),
    )
    return sa, pairs, n_sa


def _running_sum_by_order(
    frame: DataFrame,
    order_col: str,
    flag_col: str,
    out: str,
    scope: CacheScope,
) -> DataFrame:
    """Global inclusive running sum of ``flag_col`` in ``order_col``
    order WITHOUT a single-partition window — the ``sequential_id``
    pattern generalized to sums: range-repartition + in-partition sort,
    per-partition flag totals collected (one row per partition),
    prefix-summed on the driver, broadcast back as offsets, and the
    in-partition running sum is an ordinary per-partition window. The
    persist pins the partition assignment across the two jobs (same
    contract as ``ids.sequential_id``)."""
    p = frame.repartitionByRange(
        max(frame.sparkSession.sparkContext.defaultParallelism, 2), order_col
    ).sortWithinPartitions(order_col)
    stamped = scope.persist(p.withColumn("__pid", F.spark_partition_id()))
    totals = (
        stamped.groupBy("__pid")
        .agg(F.coalesce(F.sum(flag_col), F.lit(0)).alias("__t"))
        .collect()
    )
    running, offs = 0, []
    for r in sorted(totals, key=lambda r: r["__pid"]):
        offs.append((r["__pid"], running))
        running += r["__t"]
    offsets = frame.sparkSession.createDataFrame(
        offs, "__pid int, __off long"
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # same §2.5 fix as the pair window: P distinct __pid keys into P
    # hash buckets is skewed; a range repartition on __pid is balanced
    # and satisfies the window's clustering, replacing the exchange
    return (
        stamped.join(F.broadcast(offsets), "__pid")
        .repartitionByRange(max(len(offs), 1), "__pid")
        .withColumn(out, (F.sum(flag_col).over(w) + F.col("__off")).cast("long"))
        .drop("__pid", "__off")
    )


def suffix_span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 8,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Variable-length ExactSubstr REMOVAL (Lee et al. 2022): cut every
    duplicated substring occurrence of length >= ``min_len`` except a
    canonical first copy, using TRUE repeat extents from the suffix
    array — where the fixed-k ``dedup.duplicate_span_removal`` cuts
    k-window unions, this cuts each occurrence's exact shared length.

    Rule (deterministic, published-semantics):

    1. SA positions whose longest repeat is >= ``min_len`` form RUNS —
       maximal SA-consecutive blocks chained by adjacent LCP >=
       ``min_len``. By the range-minimum property of LCP, every two
       members of a run share a >= ``min_len`` prefix pairwise.
    2. The run's canonical instance is its smallest (doc_id, pos) —
       the corpus-wide first occurrence, the fixed-k scheme's rule.
    3. Every OTHER member p cuts ``[pos_p, pos_p + shared_p)`` where
       ``shared_p`` = the exact LCP between p and the canonical (the
       running min of adjacent LCPs along the SA between them) — so
       every cut token provably survives inside the canonical's kept
       span (keep-one holds span-exactly, not just window-exactly),
       up to cuts made by OTHER runs overlapping the canonical (the
       same caveat the fixed-k removal documents).

    Run segmentation uses a distributed prefix-sum (no global window);
    per-run windows are run-sized. Re-assembly shares
    ``dedup._reassemble_after_cuts``. Returns (id_col, n_tokens,
    n_removed, clean_text) for every doc with >= ``min_len`` tokens.

    Full DuckDB oracle on the driver path (plans/llm.py:
    dedup_suffix_removal — run == equal-min_len-prefix group, cut ==
    pairwise LCP to the canonical by the RMQ identity); the
    brute-force twin + hand fixtures in tests/test_dedup_similarity.py
    cover non-default min_len and the block-rank tail path."""
    from dwh_with_dask_spark.operators.dedup import _reassemble_after_cuts

    scope = scope or CacheScope()
    _, pairs, _ = _sa_pairs(df, text_col, id_col, min_rep=min_len)
    # Per-row (rep, lcp_prev) from ONE exploded aggregate — no sa
    # self-joins: each adjacent pair carries both members' identities,
    # contributes its lcp to both members' rep, and IS the successor
    # member's lcp_prev (role flag). Rows in no pair (the one-position
    # corpus) have no repeats and produce no members — removal then
    # returns every document uncut, which is correct.
    rep = (
        pairs.selectExpr(
            "explode(array("
            "named_struct('id', ida, 'pos', posa, 'dl', dla, "
            "'__sa', __i, '__isb', 0, 'lcp', lcp), "
            "named_struct('id', idb, 'pos', posb, 'dl', dlb, "
            "'__sa', __i + 1, '__isb', 1, 'lcp', lcp))) as m"
        )
        .select("m.*")
        .groupBy("id", "pos", "dl", "__sa")
        .agg(
            F.max("lcp").alias("rep"),
            F.expr("max(case when __isb = 1 then lcp end) as lcp_prev"),
        )
    )
    members = rep.filter(F.col("rep") >= min_len)
    # Materialize the duplicate-sized member set ONCE (round 16): the
    # run-segmentation below range-repartitions it, and the
    # RangePartitioner's sampling pass plus the persist each re-ran the
    # whole pair pass + exploded aggregate from scratch (measured in
    # the round-16 job timeline: the 1.3 s pair-pass job executed
    # twice, and planning the un-truncated members plan cost ~1.3 s of
    # driver gap three times over). The checkpoint also truncates the
    # lineage, so every downstream plan (sampling, totals, final save)
    # starts from a flat scan.
    members = members.withColumn(
        "__new",
        F.expr(
            f"cast(lcp_prev is null or lcp_prev < {min_len} as int)"
        ),
    ).localCheckpoint(eager=True)
    members = _running_sum_by_order(
        members,
        "__sa",
        "__new",
        "__run",
        scope,
    )
    # adjacent-lcp toward the successor, computed per run BEFORE any
    # filtering so the backward running min sees the canonical's edge
    members = members.withColumn(
        "lcp_next",
        F.expr("lead(lcp_prev) over (partition by __run order by __sa)"),
    )
    # materialize once (round 16): both the canon broadcast build and
    # the cut pass below consume this frame — unmaterialized, each
    # re-ran the prefix-sum + lcp_next window subtree (visible as
    # repeated broadcast-build jobs in the round-16 job timeline)
    members = members.localCheckpoint(eager=True)
    canon = members.groupBy("__run").agg(
        F.expr("min_by(__sa, struct(id, pos)) as __csa")
    )
    m = members.join(F.broadcast(canon), "__run")
    # Both directions in ONE pass over ``m`` (round 16): the old
    # after/before formulation filtered ``m`` twice and unioned two
    # window subtrees — the whole members→canon-join subtree executed
    # twice and the union forced an extra exchange. A min over a
    # case-when that NULLs the other side's rows is value-identical to
    # the min over the filtered frame (min ignores nulls, and the
    # preceding-rows set restricted to non-null contributors is exactly
    # the filtered branch's preceding set), so one asc + one desc
    # window over the SAME partitioning replaces filter+window+union.
    _WF = (
        "over (partition by __run order by __sa "
        "rows between unbounded preceding and current row)"
    )
    _WB = (
        "over (partition by __run order by __sa desc "
        "rows between unbounded preceding and current row)"
    )
    cut = F.expr(
        "case "
        f"when __sa > __csa then min(case when __sa > __csa then lcp_prev "
        f"end) {_WF} "
        f"when __sa < __csa then min(case when __sa < __csa then lcp_next "
        f"end) {_WB} "
        "end"
    )
    cuts = (
        m.withColumn("__cut", cut)
        .filter(F.col("__sa") != F.col("__csa"))
        .selectExpr("id", "pos", "pos + __cut as __end")
    )
    # merge overlapping variable-length intervals per doc
    seg = cuts.withColumn(
        "__new",
        F.expr(
            "cast(pos >= coalesce(max(__end) over (partition by id "
            "order by pos rows between unbounded preceding and "
            "1 preceding), -1) as int)"
        ),
    ).withColumn(
        "__seg",
        F.expr(
            "sum(__new) over (partition by id order by pos "
            "rows between unbounded preceding and current row)"
        ),
    )
    ivals = (
        seg.groupBy("id", "__seg")
        .agg(
            F.expr("cast(min(pos) as int) as __s"),
            F.expr("cast(max(__end) as int) as __e"),
        )
        .groupBy("id")
        .agg(
            F.expr(
                "sort_array(collect_list(struct(__s, __e))) as __cuts"
            )
        )
    )
    return _reassemble_after_cuts(df, ivals, text_col, id_col, min_len)


def _colliding_closure(
    batch: DataFrame,
    corpus: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int,
) -> DataFrame:
    """batch ∪ {corpus docs sharing a >= min_len-token window with the
    batch}, by probing the batch's window hashes against the stored
    ``dedup.build_span_doc_index`` (id-carrying). The probe is
    O(batch windows); the corpus enters only through the index join
    and one left-semi filter (predicate-pushdown friendly)."""
    from dwh_with_dask_spark.operators.dedup import _span_windows

    bw = _span_windows(batch, text_col, id_col, min_len)
    hit_ids = (
        index.join(bw.select("h").distinct(), "h")
        .select(id_col)
        .distinct()
    )
    subset = corpus.select(id_col, text_col).join(
        hit_ids, id_col, "left_semi"
    )
    full = subset.unionByName(batch.select(id_col, text_col))
    # Materialize the closure ONCE (round 16): downstream it is read by
    # the suffix pass's tokenize checkpoint AND (removal) the
    # reassemble join, and even ``widen``'s partition probe (df.rdd)
    # forces the semi-join's broadcast future — so the un-materialized
    # plan re-ran the whole index-probe pipeline three times per call
    # (measured in the round-16 job timeline: three identical
    # broadcast-build job patterns). The closure is |batch| + actual
    # collisions — the size this operator's contract already bounds.
    return full.localCheckpoint(eager=True)


def suffix_spans_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 8,
) -> DataFrame:
    """``suffix_duplicate_spans`` of (corpus ∪ batch), restricted to
    batch documents, WITHOUT running the suffix pass over the corpus —
    the incremental composition the module docstring scopes: probe the
    batch against the fixed-k stored index (``index`` =
    ``dedup.build_span_doc_index(corpus, k=min_len)``), pull only the
    COLLIDING corpus documents, and run the exact pass on that closure.

    EXACT, by the collision-closure theorem: any pair of positions
    sharing >= min_len tokens shares a min_len-token window, so every
    document that can contribute a reportable repeat to a batch
    document collides with it at k = min_len — the closure contains
    the batch documents' entire suffix-array runs, and the min_rep
    pushdown discards exactly the sub-threshold reps whose partners
    the closure may lack. Per-batch cost tracks |batch| + |colliding
    subset| (the actual duplication), never |corpus|. Equality with
    the full-corpus pass is pinned by tests and the driver query's
    full-corpus SQL oracle (plans/llm.py: dedup_suffix_incremental).

    ``batch`` and ``corpus`` must be id-disjoint (the same contract as
    ``dedup.incremental_duplicate_spans``); ``index`` must be built at
    k = min_len."""
    full = _colliding_closure(batch, corpus, index, text_col, id_col, min_len)
    out = suffix_duplicate_spans(
        full, text_col=text_col, id_col=id_col, min_len=min_len
    )
    return out.join(
        F.broadcast(batch.select(id_col)), id_col, "left_semi"
    )


def suffix_removal_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 8,
) -> DataFrame:
    """``suffix_span_removal`` of (corpus ∪ batch) restricted to batch
    documents, via the same collision closure as
    ``suffix_spans_incremental`` — exact for the batch rows because a
    batch position's ENTIRE suffix-array run (all members pairwise
    share >= min_len tokens, hence a min_len window with the batch
    member) is inside the closure, so run segmentation, the
    corpus-wide-first canonical and every LCP-to-canonical cut extent
    are identical to the full pass. Batch docs with no collisions come
    back uncut (they are in the closure by construction)."""
    full = _colliding_closure(batch, corpus, index, text_col, id_col, min_len)
    out = suffix_span_removal(
        full, text_col=text_col, id_col=id_col, min_len=min_len
    )
    return out.join(
        F.broadcast(batch.select(id_col)), id_col, "left_semi"
    )
