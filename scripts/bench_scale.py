"""Scale bench: headline queries at .localdata/sf1 (10x sf0.1), Spark vs
the DuckDB oracle, plus the boilerplate-skew corpus for the shingle cap.

The round-2 verdict's finding: at sf0.1 Spark's fixed per-query overhead
(~0.15-0.5 s of job scheduling + noop commit) dominates, so the
2x-of-baseline gate is undecidable there. This script reruns the same
headline set at 10x the data (generated by scripts/gen_scale_data.py,
deterministic), where marginal cost dominates, and writes the
side-by-side table to BENCH_SCALE.md (committed evidence).

Protocol per query, matching bench.py/BASELINE.md: one warmup then
median of N=3; Spark materializes via the noop sink (plan execution, not
collect); DuckDB executes the registered oracle SQL to fetchall()
(default threads = all cores, same machine).

Usage: python scripts/bench_scale.py [--runs 3] [--out BENCH_SCALE.md]
"""

from __future__ import annotations

import argparse
import os
import platform
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import HEADLINE, anchor_sec, jvm_gc, loadavg, materialize
from dwh_with_dask_spark.session import get_spark
from tests.conftest import make_duck

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.path.join(REPO, ".localdata", "sf1")
SKEW_DIR = os.path.join(REPO, ".localdata", "skew")
SKEWNL_DIR = os.path.join(REPO, ".localdata", "skewnl")
SF10_DIR = os.path.join(REPO, ".localdata", "sf10")


SLOW_CUTOFF_SEC = 60.0  # one timed run is honest enough past this


def _run_once(spark, fn, sf_dir: str) -> float:
    """One timed materialization; clears the session cache afterwards
    (e.g. incremental dedup's persisted batch signatures) so repeated
    trials neither accumulate nor reuse cached tables."""
    t0 = time.perf_counter()
    materialize(fn(spark, sf_dir))
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()
    return dt


def time_spark(spark, fn, sf_dir: str, runs: int) -> list[float]:
    warm = _run_once(spark, fn, sf_dir)  # warmup
    jvm_gc(spark)
    if warm > SLOW_CUTOFF_SEC:
        runs = 1
    out = [_run_once(spark, fn, sf_dir) for _ in range(runs)]
    jvm_gc(spark)
    return out


def time_duck(duck, sql: str, runs: int) -> list[float]:
    t0 = time.perf_counter()
    duck.sql(sql).fetchall()  # warmup
    warm = time.perf_counter() - t0
    if warm > SLOW_CUTOFF_SEC:
        return [warm]  # don't re-run minutes-long oracles; warm-cache single run
    out = []
    for _ in range(runs):
        t0 = time.perf_counter()
        duck.sql(sql).fetchall()
        out.append(time.perf_counter() - t0)
    return out


def med(xs: list[float]) -> float:
    return round(statistics.median(xs), 3)


def spread_note(
    samples: dict[str, list[float]], load0, load1, anchor0=None, anchor1=None
) -> str:
    """Bench-hygiene footer (VERDICT r5 ask #2 + r8 ask #1): host load
    before/after, the CPU-bound calibration anchor before/after (see
    bench.anchor_sec — divide medians by it to compare across rounds),
    and the worst per-query median-absolute-deviation, so cross-round
    deltas are adjudicable from the artifact alone."""
    worst = max(
        ((statistics.median([abs(x - statistics.median(v)) for x in v]), k)
         for k, v in samples.items() if len(v) > 1),
        default=(0.0, "n/a"),
    )
    anchor = ""
    if anchor0 is not None:
        a1 = f" after {anchor1['anchor_sec']:.3f} s" if anchor1 else ""
        anchor = (
            f"calibration anchor (bench.anchor_sec) before "
            f"{anchor0['anchor_sec']:.3f} s{a1}; "
        )
    return (
        f"\nloadavg(1m,5m,15m) before {load0} after {load1}; {anchor}"
        f"worst per-query MAD {worst[0]:.3f} s ({worst[1]}).\n"
    )


SAMPLES: dict[str, list[float]] = {}


def timed_spark(spark, name, fn, sf_dir, runs) -> float:
    xs = time_spark(spark, fn, sf_dir, runs)
    SAMPLES[name] = xs
    return med(xs)


TPCH_EXTRA = [
    "q4_order_priority",
    "q9_profit_by_nation_year",
    "q10_returned_items",
    "q12_shipping_lag",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_count",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q21_waiting_supplier",
    "q22_idle_rich_customers",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SCALE.md"))
    ap.add_argument(
        "--set",
        dest="which",
        choices=[
            "headline", "tpch", "round4", "round5", "round6", "round7",
            "round8", "round9", "round10", "round11", "round12", "round13",
            "round14", "sf10", "warehouse",
        ],
        default="headline",
        help="headline = full report (rewrites --out); tpch = bench the "
        "adapted TPC-H set and append a section to --out; round4 = bench "
        "the round-4 dedup/pipeline additions (sf1 + skew) and append; "
        "round5 = bench the round-5 warehouse/curation/analytics "
        "additions at sf1 and append; sf10 = marginal-cost spot-bench "
        "of representative queries at .localdata/sf10 and append; "
        "warehouse = versioned-table/compaction maintenance ops at sf1",
    )
    ap.add_argument(
        "--names",
        default=None,
        help="comma-separated subset filter for --set sf10 (bench only "
        "these names instead of the default list)",
    )
    args = ap.parse_args()

    load0 = loadavg()
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    spark = get_spark(app_name="bench_scale")
    duck = make_duck(SF1_DIR)
    # Calibration anchor (VERDICT r8 ask #1): measured at session start
    # and re-measured at each section write so every appended section
    # carries the host-condition yardstick its numbers were taken under.
    anchor0 = anchor_sec(spark)

    def footer() -> str:
        return spread_note(SAMPLES, load0, loadavg(), anchor0, anchor_sec(spark))

    if args.which == "sf10":
        # VERDICT r5 ask #3: the 100x-scale argument rests on measured
        # marginal cost per 10x of data. Five representative queries at
        # sf10 (60M lineitem / 10M events / 500k fresh documents),
        # growth factor = sf10 time / sf1 time per engine.
        names = [
            "q1_pricing_summary",
            "q3_shipping_priority",
            "hypertable_rollup_events",
            "dedup_ngram_jaccard_capped",
            "corpus_heavy_hitters",
            "dedup_duplicate_spans",
            "pagerank_customer_supplier",
            "entity_resolution_parts",
            "dedup_tfidf_cosine_capped",
        ]
        if args.names:
            names = [n.strip() for n in args.names.split(",") if n.strip()]
        duck10 = make_duck(SF10_DIR)
        # entity-resolution's clique-closure recursive CTE needs the
        # same fail-fast caps the round-7 sf1 set uses
        duck.sql("SET memory_limit='24GiB'")
        duck.sql("SET max_temp_directory_size='16GiB'")
        duck10.sql("SET memory_limit='24GiB'")
        # fail fast instead of thrashing 77 GB of disk when an oracle's
        # spill is unbounded at this scale (observed: pagerank's
        # unrolled-CTE chain)
        duck10.sql("SET max_temp_directory_size='16GiB'")
        rows = []
        for name in names:
            s1 = timed_spark(spark, name + "@sf1", queries[name], SF1_DIR, args.runs)
            s10 = timed_spark(spark, name + "@sf10", queries[name], SF10_DIR, args.runs)
            # oracle death at scale is a datapoint, not a harness
            # failure (pagerank's unrolled-CTE oracle spills >77 GB at
            # sf10 / trips the 16 GiB temp cap) — keep whichever scale
            # DID finish
            try:
                d1 = med(time_duck(duck, oracles[name], args.runs))
            except Exception as exc:
                d1 = None
                d1txt = f"DNF ({type(exc).__name__})"
            try:
                d10 = med(time_duck(duck10, oracles[name], args.runs))
            except Exception as exc:
                d10 = None
                d10txt = f"DNF ({type(exc).__name__})"
            dtxt = (
                f"{d1:.3f}" if d1 is not None else d1txt,
                f"{d10:.3f}" if d10 is not None else d10txt,
                f"{d10 / d1:.2f}x" if d1 and d10 else "—",
                f"{s10 / d10:.2f}x" if d10 else "—",
            )
            rows.append((name, f"{s1:.3f}", f"{s10:.3f}", f"{s10 / s1:.2f}x")
                        + dtxt)
            print(f"sf10 {name}: spark {s1}->{s10} duck {d1}->{d10}", flush=True)
        member_note = ""
        if "versioned_member_prune_orders" in names:
            # ask r9 #6: membership pruning's value claim is SCAN
            # AVOIDANCE at scale — show pruned-vs-full files/bytes at
            # sf10 (pruning happens before file listing)
            from dwh_with_dask_spark.plans.warehouse import (
                _versioned_member_orders_table,
            )
            from dwh_with_dask_spark.versioned import read_version

            vt = _versioned_member_orders_table(spark, SF10_DIR)
            full_files = read_version(spark, vt).inputFiles()
            pruned_files = read_version(
                spark, vt, prune_eq={"o_orderpriority": "2-HIGH"}
            ).inputFiles()

            def _bytes(files):
                import urllib.parse

                return sum(
                    os.path.getsize(urllib.parse.unquote(
                        f[len("file:"):] if f.startswith("file:") else f
                    ))
                    for f in files
                )

            member_note = (
                "\nKey-membership skipping at sf10 "
                "(versioned_member_prune_orders\ntable): full read lists "
                f"{len(full_files)} files / {_bytes(full_files):,} bytes; "
                f"the '2-HIGH'\npoint probe lists {len(pruned_files)} "
                f"files / {_bytes(pruned_files):,} bytes — dirs are\n"
                "dropped from the manifest BEFORE file listing.\n"
            )
        with open(args.out, "a") as f:
            f.write(
                "\n## sf10 marginal-cost spot-bench (appended by --set sf10)\n\n"
                "10x sf1 (60M lineitem / 10M events / 500k fresh docs,\n"
                "`gen_scale_data.py --replicas 100`). Growth = time(sf10) /\n"
                "time(sf1) within one engine — the marginal-cost-per-10x\n"
                "number the 100 TB extrapolation rests on.\n\n"
                "| query | spark sf1 | spark sf10 | spark growth "
                "| duck sf1 | duck sf10 | duck growth | sf10 ratio |\n"
                "| --- | --- | --- | --- | --- | --- | --- | --- |\n"
            )
            for r in rows:
                f.write("| " + " | ".join(r) + " |\n")
            if member_note:
                f.write(member_note)
            f.write(footer())
        print(f"appended sf10 section to {args.out}")
        spark.stop()
        return

    if args.which == "round14":
        # Round-14 evidence (VERDICT r13 asks #3 and #4):
        # A) the COMPOSED corpus_prepare_pipeline_v3 at sf1 (phase
        #    decomposition) + an sf10 spot row, values canon-equal to
        #    the DuckDB oracle at both scales — the components scale
        #    (round-13 rows), this proves the composition does;
        # B) lineitem/orders stored BUCKETED on orderkey: the q3-shaped
        #    join with NO Exchange on the fact side, timed against the
        #    shuffled plan at sf1 and sf10 — the storage-layout answer
        #    to q3's data-proportional shuffle growth.
        from pyspark.sql import functions as F

        from dwh_with_dask_spark.catalog import load_table as _lt
        from dwh_with_dask_spark.operators import suffix as SX
        from dwh_with_dask_spark.plans.relational import q3_shape
        from dwh_with_dask_spark.sinks import write_bucketed_table
        from tests.test_driver_contract import canon

        duck.sql("SET memory_limit='24GiB'")
        duck.sql("SET max_temp_directory_size='16GiB'")
        duck10 = make_duck(SF10_DIR)
        duck10.sql("SET memory_limit='24GiB'")
        duck10.sql("SET max_temp_directory_size='16GiB'")

        # ---- Leg A: composed pipeline ----------------------------------
        name = "corpus_prepare_pipeline_v3"
        fn = queries[name]

        SX.TIMINGS = []
        t0 = time.perf_counter()
        materialize(fn(spark, SF1_DIR))
        v3_total = time.perf_counter() - t0
        spark.catalog.clearCache()
        phases = list(SX.TIMINGS)
        SX.TIMINGS = None

        s1 = timed_spark(spark, name + "@sf1", fn, SF1_DIR, args.runs)
        s10 = timed_spark(spark, name + "@sf10", fn, SF10_DIR, args.runs)

        def _canon_eq(sf_dir, con) -> str:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
            spark.catalog.clearCache()
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
            ok = (
                sorted(scols) == sorted(dcols)
                and canon(srows, scols) == canon(drows, dcols)
            )
            return f"EQUAL ({len(srows)} rows)" if ok else "MISMATCH"

        try:
            d1 = med(time_duck(duck, oracles[name], args.runs))
            d1_txt, r1_txt = f"{d1:.3f}", f"{s1 / d1:.2f}x"
            eq1 = _canon_eq(SF1_DIR, duck)
        except Exception as exc:
            d1_txt, r1_txt, eq1 = f"DNF ({type(exc).__name__})", "—", "—"
        try:
            d10 = med(time_duck(duck10, oracles[name], args.runs))
            d10_txt, r10_txt = f"{d10:.3f}", f"{s10 / d10:.2f}x"
            eq10 = _canon_eq(SF10_DIR, duck10)
        except Exception as exc:
            d10_txt, r10_txt, eq10 = f"DNF ({type(exc).__name__})", "—", "—"
        print(
            f"v3 sf1 spark={s1} duck={d1_txt} {eq1}; "
            f"sf10 spark={s10} duck={d10_txt} {eq10}",
            flush=True,
        )

        # ---- Leg B: bucketed q3 ----------------------------------------
        # Both variants run with size-based broadcast DISABLED so each
        # is the sort-merge join a 100 TB fact table is always in; the
        # customer dim is broadcast EXPLICITLY in both. The variants
        # differ ONLY in storage layout.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        brows = []
        try:
            for sf_dir, tag in ((SF1_DIR, "sf1"), (SF10_DIR, "sf10")):
                li = _lt(spark, sf_dir, "lineitem")
                o = _lt(spark, sf_dir, "orders")
                c = _lt(spark, sf_dir, "customer")
                tw0 = time.perf_counter()
                write_bucketed_table(
                    li.repartition(32, "l_orderkey"),
                    f"r14_li_{tag}", ["l_orderkey"], num_buckets=32,
                )
                write_bucketed_table(
                    o.repartition(32, "o_orderkey"),
                    f"r14_o_{tag}", ["o_orderkey"], num_buckets=32,
                )
                t_write = round(time.perf_counter() - tw0, 3)

                def plain_fn(s, d, li=li, o=o, c=c):
                    return q3_shape(li, o, F.broadcast(c))

                def buck_fn(s, d, tag=tag, c=c):
                    return q3_shape(
                        spark.table(f"r14_li_{tag}"),
                        spark.table(f"r14_o_{tag}"),
                        F.broadcast(c),
                    )

                sp = timed_spark(spark, f"q3_shuffled@{tag}", plain_fn, sf_dir, args.runs)
                sb = timed_spark(spark, f"q3_bucketed@{tag}", buck_fn, sf_dir, args.runs)

                dfb = buck_fn(None, None)
                rows_b = [tuple(r) for r in dfb.collect()]
                plan_b = dfb._jdf.queryExecution().executedPlan().toString()
                dfp = plain_fn(None, None)
                rows_p = [tuple(r) for r in dfp.collect()]
                plan_p = dfp._jdf.queryExecution().executedPlan().toString()
                n_ex_b = plan_b.count("Exchange hashpartitioning")
                n_ex_p = plan_p.count("Exchange hashpartitioning")
                same = rows_b == rows_p
                brows.append(
                    (tag, f"{sp:.3f}", f"{sb:.3f}", f"{sb / sp:.2f}x",
                     f"{t_write:.1f}", n_ex_p, n_ex_b,
                     "same" if same else "DIFFER")
                )
                print(
                    f"q3 {tag}: shuffled {sp}s ({n_ex_p} exchanges) vs "
                    f"bucketed {sb}s ({n_ex_b} exchanges), write {t_write}s,"
                    f" results {'same' if same else 'DIFFER'}",
                    flush=True,
                )
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            for tag in ("sf1", "sf10"):
                spark.sql(f"DROP TABLE IF EXISTS r14_li_{tag}")
                spark.sql(f"DROP TABLE IF EXISTS r14_o_{tag}")

        with open(args.out, "a") as f:
            f.write(
                "\n## Round-14: composed-pipeline scale leg + bucketed q3 "
                "(appended by --set round14)\n\n"
                "### corpus_prepare_pipeline_v3 at scale\n\n"
                "The composed flagship (suffix-array span removal -> "
                "10-token floor ->\nexact dedup of cleaned text -> 90/5/5 "
                "hash split) as ONE plan; 'values'\nis canon-equality "
                "(sorted columns+rows, the driver's comparison) against\n"
                "the full composed DuckDB oracle at that scale.\n\n"
                "| scale | spark s | duckdb s | ratio | values |\n"
                "| --- | --- | --- | --- | --- |\n"
                f"| sf1 | {s1:.3f} | {d1_txt} | {r1_txt} | {eq1} |\n"
                f"| sf10 | {s10:.3f} | {d10_txt} | {r10_txt} | {eq10} |\n"
                f"\nPhase decomposition (one instrumented sf1 run, total "
                f"{v3_total:.2f} s —\neager suffix phases; the floor/dedup/"
                "split tail folds into the final\nlazy action):\n\n"
                "| phase | seconds |\n| --- | --- |\n"
            )
            for lbl, sec in phases:
                f.write(f"| {lbl} | {sec:.2f} |\n")
            f.write(
                f"| (pairs + removal + floor/dedup/split, lazy) | "
                f"{v3_total - sum(sec for _, sec in phases):.2f} |\n"
            )
            f.write(
                "\n### Bucketed-storage q3 (fact join without the "
                "shuffle)\n\n"
                "lineitem+orders written ONCE bucketed on orderkey (32 "
                "buckets,\nsinks.write_bucketed_table); the q3-shaped "
                "join+aggregate then reads\nco-located buckets: the "
                "executed plan has NO 'Exchange hashpartitioning'\n"
                "anywhere on the fact side (join AND the l_orderkey "
                "aggregate inherit\nthe bucket partitioning; asserted by "
                "tests/test_plans.py::\ntest_q3_bucketed_fact_join_no_"
                "exchange). Both variants: size-based\nbroadcast off, "
                "customer broadcast explicitly — identical join "
                "strategies,\nonly the storage layout differs. 'write s' "
                "is the one-time bucketed\nwrite this amortizes over "
                "every subsequent orderkey join.\n\n"
                "| scale | shuffled s | bucketed s | bucketed/shuffled | "
                "write s | exchanges shuffled | exchanges bucketed | "
                "results |\n"
                "| --- | --- | --- | --- | --- | --- | --- | --- |\n"
            )
            for r in brows:
                f.write("| " + " | ".join(str(x) for x in r) + " |\n")
            f.write(footer())
        print(f"appended round-14 section to {args.out}")
        spark.stop()
        return

    if args.which == "round13":
        # Round-13: the ExactSubstr family re-measured with the
        # threshold GATE (suffix.py round 13: _lead_eq evaluates the
        # min_rep pushdown as flat codegen'd long compares BEFORE the
        # interpreted _xs_run/_blk_run per-pair expressions — at sf1
        # only ~11k of 2.7M adjacent pairs survive, so the pair pass
        # stops paying the higher-order-function cost for the corpus).
        from dwh_with_dask_spark.operators import suffix as SX

        names = [
            "dedup_duplicate_spans",
            "dedup_suffix_spans",
            "dedup_span_removal",
            "dedup_suffix_removal",
        ]
        rows = []
        for name in names:
            s = timed_spark(spark, name, queries[name], SF1_DIR, args.runs)
            try:
                d = med(time_duck(duck, oracles[name], args.runs))
                d_txt, ratio = f"{d:.3f}", f"{s / d:.2f}x"
            except Exception as exc:
                d_txt, ratio = f"DNF ({type(exc).__name__})", "—"
            rows.append((name, f"{s:.3f}", d_txt, ratio))
            print(f"sf1 {name}: spark={s}s duck={d_txt} ({ratio})", flush=True)

        SX.TIMINGS = []
        t0 = time.perf_counter()
        from dwh_with_dask_spark.catalog import load_table as _lt

        SX.suffix_duplicate_spans(
            _lt(spark, SF1_DIR, "documents"), min_len=8
        ).count()
        sx_total = time.perf_counter() - t0
        phases = list(SX.TIMINGS)
        SX.TIMINGS = None

        comparable = [r for r in rows if r[3] not in ("no oracle", "—")]
        total_s = sum(float(r[1]) for r in comparable)
        total_d = sum(float(r[2]) for r in comparable)
        with open(args.out, "a") as f:
            f.write(
                "\n## Round-13 ExactSubstr re-measure at sf1 (appended by "
                "--set round13)\n"
                "\nSuffix rows with the round-13 threshold GATE: the "
                "min_rep pushdown is\nevaluated as flat codegen'd "
                "leading-digit compares (_lead_eq) BEFORE the\n"
                "interpreted per-pair run expressions, so only the "
                "duplicate-sized survivor\nset (~11k of 2.7M adjacent "
                "pairs at sf1) pays the higher-order-function\ncost — "
                "the round-12 decomposition's 17.4 s lazy phase was "
                "almost entirely\nthis.\n\n"
                "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
            )
            for name, s, d, ratio in rows:
                f.write(f"| {name} | {s} | {d} | {ratio} |\n")
            if comparable:
                f.write(
                    f"| **total (oracle-comparable)** | **{total_s:.2f}** | "
                    f"**{total_d:.2f}** | **{total_s / total_d:.2f}x** |\n"
                )
            f.write(
                "\nSuffix flagship phase decomposition (one instrumented "
                f"run, total\n{sx_total:.2f} s):\n\n"
                "| phase | seconds |\n| --- | --- |\n"
            )
            for lbl, sec in phases:
                f.write(f"| {lbl} | {sec:.2f} |\n")
            f.write(
                f"| (pairs + rep agg + spans agg, lazy) | "
                f"{sx_total - sum(sec for _, sec in phases):.2f} |\n"
            )
            f.write(footer())
        print(f"appended round-13 section to {args.out}")
        spark.stop()
        return

    if args.which == "round12":
        # Round-12: the ExactSubstr family re-measured on the BLOCK-RANK
        # tail (suffix.py round 12: one wide sort -> min-row-number rank
        # s2, one window pass -> atop block-rank array, adjacent-pair
        # LCP = leading-run expression; serialized+lz4 checkpoint
        # storage keeps the build memory-resident at the default 8g).
        from dwh_with_dask_spark.operators import suffix as SX

        names = [
            "dedup_duplicate_spans",
            "dedup_suffix_spans",
            "dedup_span_removal",
            "dedup_suffix_removal",
        ]
        rows = []
        for name in names:
            s = timed_spark(spark, name, queries[name], SF1_DIR, args.runs)
            try:
                d = med(time_duck(duck, oracles[name], args.runs))
                d_txt, ratio = f"{d:.3f}", f"{s / d:.2f}x"
            except Exception as exc:
                d_txt, ratio = f"DNF ({type(exc).__name__})", "—"
            rows.append((name, f"{s:.3f}", d_txt, ratio))
            print(f"sf1 {name}: spark={s}s duck={d_txt} ({ratio})", flush=True)

        SX.TIMINGS = []
        t0 = time.perf_counter()
        from dwh_with_dask_spark.catalog import load_table as _lt

        SX.suffix_duplicate_spans(
            _lt(spark, SF1_DIR, "documents"), min_len=8
        ).count()
        sx_total = time.perf_counter() - t0
        phases = list(SX.TIMINGS)
        SX.TIMINGS = None

        comparable = [r for r in rows if r[3] not in ("no oracle", "—")]
        total_s = sum(float(r[1]) for r in comparable)
        total_d = sum(float(r[2]) for r in comparable)
        with open(args.out, "a") as f:
            f.write(
                "\n## Round-12 ExactSubstr re-measure at sf1 (appended by "
                "--set round12)\n"
                "\nSuffix rows on the BLOCK-RANK tail (round 12): ONE wide "
                "sort of the\npacked prefix -> min-row-number rank s2, ONE "
                "window pass -> atop (the\narray of s2 at block offsets; "
                "lexicographic atop order IS the suffix\norder and "
                "leading-run equality certifies LCP in blocks as an "
                "expression);\nthe prefix-doubling composite/densify "
                "rounds are GONE. Checkpoints of\nthe corpus-sized frames "
                "are serialized+lz4 (2-4x smaller), and the\nconsumer "
                "min_len threshold pushes into the pair pass.\n\n"
                "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
            )
            for name, s, d, ratio in rows:
                f.write(f"| {name} | {s} | {d} | {ratio} |\n")
            if comparable:
                f.write(
                    f"| **total (oracle-comparable)** | **{total_s:.2f}** | "
                    f"**{total_d:.2f}** | **{total_s / total_d:.2f}x** |\n"
                )
            f.write(
                "\nSuffix flagship phase decomposition (one instrumented "
                f"run, total\n{sx_total:.2f} s):\n\n"
                "| phase | seconds |\n| --- | --- |\n"
            )
            for lbl, sec in phases:
                f.write(f"| {lbl} | {sec:.2f} |\n")
            f.write(
                f"| (pairs + rep agg + spans agg, lazy) | "
                f"{sx_total - sum(sec for _, sec in phases):.2f} |\n"
            )
            f.write(footer())
        print(f"appended round-12 section to {args.out}")
        spark.stop()
        return

    if args.which == "round11":
        # Round-11: the suffix array re-measured on the packed-prefix
        # design (plus its phase decomposition — the floor evidence the
        # r10 verdict asked for), the removal row now against its FULL
        # DuckDB oracle, the new correction/constraint/binned-KS
        # queries, and the BM25 segment-count compaction curve.
        from dwh_with_dask_spark.operators import suffix as SX

        names = [
            "dedup_duplicate_spans",
            "dedup_suffix_spans",
            "dedup_span_removal",
            "dedup_suffix_removal",
            "ks_drift_orders_price",
            "ks_binned_orders_price",
            "by_multi_metric_readout",
            "holm_multi_metric_readout",
            "versioned_check_orders",
        ]
        rows = []
        for name in names:
            s = timed_spark(spark, name, queries[name], SF1_DIR, args.runs)
            if name in oracles:
                try:
                    d = med(time_duck(duck, oracles[name], args.runs))
                    d_txt, ratio = f"{d:.3f}", f"{s / d:.2f}x"
                except Exception as exc:
                    d_txt, ratio = f"DNF ({type(exc).__name__})", "—"
            else:
                d_txt, ratio = "—", "no oracle"
            rows.append((name, f"{s:.3f}", d_txt, ratio))
            print(f"sf1 {name}: spark={s}s duck={d_txt} ({ratio})", flush=True)

        # phase decomposition of the suffix flagship (one instrumented
        # run; the TIMINGS hook marks each eagerly materialized phase)
        SX.TIMINGS = []
        t0 = time.perf_counter()
        from dwh_with_dask_spark.catalog import load_table as _lt

        SX.suffix_duplicate_spans(
            _lt(spark, SF1_DIR, "documents"), min_len=8
        ).count()
        sx_total = time.perf_counter() - t0
        phases = list(SX.TIMINGS)
        SX.TIMINGS = None

        # BM25 probe latency vs segment count + compaction
        from scripts.exp_bm25_segments import run_curve

        curve = run_curve(spark)

        comparable = [r for r in rows if r[3] not in ("no oracle", "—")]
        total_s = sum(float(r[1]) for r in comparable)
        total_d = sum(float(r[2]) for r in comparable)
        with open(args.out, "a") as f:
            f.write(
                "\n## Round-11 additions at sf1 (appended by --set round11)\n"
                "\nSuffix rows re-measured on the PACKED-PREFIX design "
                "(suffix.py round\n11: one window pass packs R0 token "
                "ranks/long, L longs/position; the\nsort over that array "
                "IS the suffix order for docs within R0*L tokens\nand "
                "adjacent-pair LCP is one expression — prefix doubling "
                "survives\nonly for longer docs). dedup_suffix_removal now "
                "reads against its FULL\nDuckDB oracle (run = equal-8-"
                "prefix group; cut = pairwise LCP with the\ncanonical by "
                "the RMQ identity) — a quadratic-ish oracle, honest at\n"
                "sf1 but not a growth-leg candidate.\n\n"
                "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
            )
            for name, s, d, ratio in rows:
                f.write(f"| {name} | {s} | {d} | {ratio} |\n")
            if comparable:
                f.write(
                    f"| **total (oracle-comparable)** | **{total_s:.2f}** | "
                    f"**{total_d:.2f}** | **{total_s / total_d:.2f}x** |\n"
                )
            f.write(
                "\nSuffix flagship phase decomposition (one instrumented "
                f"run, total\n{sx_total:.2f} s — the floor evidence: every "
                "phase is one materialization\nof the N-position frame; "
                "the LCP itself is expression-only):\n\n"
                "| phase | seconds |\n| --- | --- |\n"
            )
            for lbl, sec in phases:
                f.write(f"| {lbl} | {sec:.2f} |\n")
            f.write(
                f"| (pairs + rep agg + spans agg, lazy) | "
                f"{sx_total - sum(sec for _, sec in phases):.2f} |\n"
            )
            f.write(
                "\nBM25 probe latency vs segment count (VERDICT r10 ask #6"
                " — same\ncorpus, same buckets, identical answers asserted;"
                " curve measured by\nscripts/exp_bm25_segments.run_curve):\n\n"
                "| segments | build s | probe median s |\n| --- | --- | --- |\n"
            )
            for n_segs, (build_s, med_s) in sorted(curve["results"].items()):
                f.write(f"| {n_segs} | {build_s:.2f} | {med_s:.3f} |\n")
            f.write(
                f"| 64 -> compacted | {curve['compact_s']:.2f} (compact) | "
                f"{curve['probe_after_compact']:.3f} |\n"
                "\nPolicy (documented in compact_bm25_index): flat through "
                "~8 segments,\ndegrades past a few dozen (directory "
                "listing + sidecars, not postings);\ncompaction costs ~2 "
                "probes and is O(index bytes) — compact at ~16-32\n"
                "segments or when probe latency matters.\n"
            )
            f.write(footer())
        print(f"appended round-11 section to {args.out}")
        spark.stop()
        return

    if args.which == "round10":
        # Round-10 additions: the re-measured CUPED row (units frame now
        # persisted across the theta/report passes — the r9 perf-weak
        # fix), the BH multi-metric readout, the re-baselined PSI row
        # (textbook epsilon), the v2 BM25 probe (raw postings, scored at
        # probe time), plus two operator-level refresh stories: BM25
        # index refresh vs rebuild and IVF-PQ append vs retrain.
        import shutil

        from pyspark.sql import functions as F

        from dwh_with_dask_spark.operators import curation as C
        from dwh_with_dask_spark.operators import similarity as S
        from dwh_with_dask_spark.plans.relational import load_table

        names = [
            "cuped_ab_test_customer_spend",
            "bh_multi_metric_readout",
            "msprt_purchase_events",
            "srm_check_events_users",
            "versioned_member_prune_orders",
            "drift_orders_price_psi",
            "ks_drift_orders_price",
            "text_bm25_search",
            "text_bm25_search_indexed",
            "embedding_ivfpq_rerank_indexed",
            "dedup_duplicate_spans",
            "dedup_suffix_spans",
            "dedup_suffix_removal",
        ]
        rows = []
        for name in names:
            s = timed_spark(spark, name, queries[name], SF1_DIR, args.runs)
            if name in oracles:
                try:
                    d = med(time_duck(duck, oracles[name], args.runs))
                    d_txt, ratio = f"{d:.3f}", f"{s / d:.2f}x"
                except Exception as exc:
                    d_txt, ratio = f"DNF ({type(exc).__name__})", "—"
            else:
                d_txt, ratio = "—", "no oracle"
            rows.append((name, f"{s:.3f}", d_txt, ratio))
            print(f"sf1 {name}: spark={s}s duck={d_txt} ({ratio})", flush=True)

        # BM25 refresh vs rebuild at sf1: base = 99% of documents,
        # batch = the held-out 1% MATERIALIZED as its own table first —
        # a daily append arrives as a new table, not as a filter that
        # would re-scan the whole corpus's bytes inside the timing.
        docs = load_table(spark, SF1_DIR, "documents")
        scratch = os.path.join(REPO, ".localdata", "bench_r10")
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
        base_pq = os.path.join(scratch, "docs_base.parquet")
        batch_pq = os.path.join(scratch, "docs_batch.parquet")
        docs.filter(F.col("doc_id") % 100 != 0).write.parquet(base_pq)
        docs.filter(F.col("doc_id") % 100 == 0).write.parquet(batch_pq)
        base = spark.read.parquet(base_pq)
        batch = spark.read.parquet(batch_pq)
        p_inc = os.path.join(scratch, "bm25_inc")
        # full rebuild FIRST: it doubles as the section's tokenize/write
        # warmup so the base-build row isn't inflated by first-job costs
        t0 = time.perf_counter()
        C.build_bm25_index(docs, os.path.join(scratch, "bm25_full"),
                           n_buckets=64)
        t_rebuild = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        C.build_bm25_index(base, p_inc, n_buckets=64)
        t_base = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        C.refresh_bm25_index(batch, p_inc)
        t_refresh = round(time.perf_counter() - t0, 3)

        # The scaling half of the O(batch) claim: at sf10 the rebuild
        # grows with the corpus while the refresh stays batch-sized.
        # Single runs (honest, labeled) — the sf1 rows above carry the
        # repeat protocol.
        bm25_sf10 = None
        if os.path.isdir(SF10_DIR):
            docs10 = load_table(spark, SF10_DIR, "documents")
            base10_pq = os.path.join(scratch, "docs10_base.parquet")
            batch10_pq = os.path.join(scratch, "docs10_batch.parquet")
            docs10.filter(F.col("doc_id") % 100 != 0).write.parquet(base10_pq)
            docs10.filter(F.col("doc_id") % 100 == 0).write.parquet(batch10_pq)
            p10 = os.path.join(scratch, "bm25_inc10")
            t0 = time.perf_counter()
            C.build_bm25_index(
                spark.read.parquet(base10_pq), p10, n_buckets=64
            )
            t_base10 = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            C.refresh_bm25_index(spark.read.parquet(batch10_pq), p10)
            t_refresh10 = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            C.build_bm25_index(
                docs10, os.path.join(scratch, "bm25_full10"), n_buckets=64
            )
            t_rebuild10 = round(time.perf_counter() - t0, 3)
            bm25_sf10 = (t_base10, t_refresh10, t_rebuild10)
            print(f"bm25 sf10 base {t_base10}s, refresh {t_refresh10}s, "
                  f"rebuild {t_rebuild10}s", flush=True)
        print(f"bm25 base build {t_base}s, refresh {t_refresh}s, "
              f"full rebuild {t_rebuild}s", flush=True)

        # IVF-PQ append vs retrain at sf1 embeddings (same 99/1 split)
        emb = load_table(spark, SF1_DIR, "embeddings")
        ebase = emb.filter(F.col("vec_id") % 100 != 0)
        ebatch = emb.filter(F.col("vec_id") % 100 == 0)
        p_ivf = os.path.join(scratch, "ivfpq_inc")
        t0 = time.perf_counter()
        idx, cents, books = S.build_ivfpq_index(ebase, nlist=16, m=16, ksub=64)
        S.save_ivfpq_index(idx, cents, books, p_ivf)
        t_ebase = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        report = S.append_ivfpq_index(ebatch, p_ivf)
        t_append = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        idx2, c2, b2 = S.build_ivfpq_index(emb, nlist=16, m=16, ksub=64)
        S.save_ivfpq_index(idx2, c2, b2,
                           os.path.join(scratch, "ivfpq_full"))
        t_retrain = round(time.perf_counter() - t0, 3)
        print(f"ivfpq base {t_ebase}s, append {t_append}s (drift "
              f"{report['drift_ratio']}), retrain {t_retrain}s", flush=True)
        shutil.rmtree(scratch, ignore_errors=True)

        comparable = [r for r in rows if r[3] not in ("no oracle", "—")]
        total_s = sum(float(r[1]) for r in comparable)
        total_d = sum(float(r[2]) for r in comparable)
        with open(args.out, "a") as f:
            f.write(
                "\n## Round-10 additions at sf1 (appended by --set round10)\n\n"
                "cuped re-measured with the shared units persist; PSI "
                "re-baselined\nunder the textbook epsilon; BM25 probe on "
                "the v2 raw-postings layout\n(scored at probe time).\n\n"
                "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
            )
            for name, s, d, ratio in rows:
                f.write(f"| {name} | {s} | {d} | {ratio} |\n")
            if comparable:
                f.write(
                    f"| **total (oracle-comparable)** | **{total_s:.2f}** | "
                    f"**{total_d:.2f}** | **{total_s / total_d:.2f}x** |\n"
                )
            f.write(
                "\nSuffix-array rows read against an oracle that computes "
                "the FIXED-k8\nAPPROXIMATION (the coverage-equivalence "
                "theorem makes the answers equal,\nnot the work): "
                "dedup_duplicate_spans (its row above) is the\n"
                "data-proportional default; dedup_suffix_spans pays "
                "O(log max_len)\nshuffle rounds for EXACT variable-length "
                "repeat extents — the honest\ncost of true suffix-array "
                "semantics, priced next to its approximation\non the same "
                "line.\n"
                "Exclude it for an apples-to-apples section total.\n"
            )
            f.write(
                "\nStored-index refresh vs rebuild at sf1 (VERDICT r9 asks "
                "#4/#5 —\nthe O(batch) story; batch = 1% of the corpus):\n\n"
                "| index | base build s | refresh/append s | full rebuild s "
                "| refresh/rebuild |\n| --- | --- | --- | --- | --- |\n"
                f"| BM25 (refresh_bm25_index) | {t_base:.3f} | "
                f"{t_refresh:.3f} | {t_rebuild:.3f} | "
                f"{t_refresh / t_rebuild:.2f}x |\n"
                f"| IVF-PQ (append_ivfpq_index) | {t_ebase:.3f} | "
                f"{t_append:.3f} | {t_retrain:.3f} | "
                f"{t_append / t_retrain:.2f}x |\n"
                + (
                    "\nBM25 at sf10 (10x corpus, single runs): base build "
                    f"{bm25_sf10[0]:.3f} s, refresh {bm25_sf10[1]:.3f} s, "
                    f"full rebuild {bm25_sf10[2]:.3f} s — refresh/rebuild "
                    f"{bm25_sf10[1] / bm25_sf10[2]:.2f}x and flat-vs-sf1 "
                    f"{bm25_sf10[1] / t_refresh:.2f}x while the rebuild "
                    f"grows {bm25_sf10[2] / t_rebuild:.2f}x — the refresh "
                    "scales with the BATCH, the rebuild with the corpus.\n"
                    if bm25_sf10 else ""
                )
                + f"\nIVF-PQ append drift report: mean_assign_dist "
                f"{report['mean_assign_dist']:.4f} vs base "
                f"{report['base_mean_assign_dist']:.4f} (drift_ratio "
                f"{report['drift_ratio']:.3f} — same distribution, no "
                "re-train trigger; the ratio is the metric a drifting "
                "corpus would move).\n"
            )
            f.write(footer())
        print(f"appended round-10 section to {args.out}")
        spark.stop()
        return

    if args.which == "round9":
        # Round-9 additions: stored-index probes (BM25, IVF-PQ rerank)
        # side-by-side with their rebuild-per-query rows, clustering
        # coefficient, manifest data skipping (with the skipped-vs-
        # scanned file counts), the audio marginal-cost leg, and the
        # unguarded-triangle re-measurement through the operator's
        # min_count parameter.
        import datetime as _dt

        from dwh_with_dask_spark.plans.analytics import (
            _part_cooccurrence_pairs,
        )
        from dwh_with_dask_spark.plans.llm import audio_dedup_clips
        from dwh_with_dask_spark.plans.warehouse import (
            _versioned_orders_table,
        )
        from dwh_with_dask_spark.versioned import manifest_dirs, read_version

        names = [
            "text_bm25_search",
            "text_bm25_search_indexed",
            "embedding_ivfpq_rerank_topk",
            "embedding_ivfpq_rerank_indexed",
            "clustering_coeff_parts",
            "triangle_count_part_graph",
            "link_prediction_parts",
            "versioned_prune_orders",
        ]
        rows = []
        for name in names:
            s = timed_spark(spark, name, queries[name], SF1_DIR, args.runs)
            if name in oracles:
                try:
                    d = med(time_duck(duck, oracles[name], args.runs))
                    d_txt, ratio = f"{d:.3f}", f"{s / d:.2f}x"
                except Exception as exc:
                    d_txt, ratio = f"DNF ({type(exc).__name__})", "—"
            else:
                d_txt, ratio = "—", "no oracle"
            rows.append((name, f"{s:.3f}", d_txt, ratio))
            print(f"sf1 {name}: spark={s}s duck={d_txt} ({ratio})", flush=True)

        # audio marginal cost: 30 vs 300 synthesized clips (10x)
        audio = {}
        for n_clips in (30, 300):
            key = f"audio_dedup_{n_clips}clips"
            audio[n_clips] = timed_spark(
                spark, key,
                lambda sp, d, n=n_clips: audio_dedup_clips(sp, d, n_clips=n),
                SF1_DIR, args.runs,
            )
            print(f"sf1 {key}: {audio[n_clips]}s", flush=True)

        # data-skipping file counts at sf1: dirs listed with vs without
        # the manifest prune (pruning happens before file listing)
        vt = _versioned_orders_table(spark, SF1_DIR)
        prune = {"o_orderdate": (_dt.date(2000, 1, 1), None)}
        n_all = len(read_version(spark, vt).inputFiles())
        n_pruned = len(read_version(spark, vt, prune=prune).inputFiles())
        d_all, d_pruned = len(manifest_dirs(vt)), len(manifest_dirs(vt, prune=prune))

        # the unguarded co-occurrence graph through the operator's
        # min_count parameter (one timed run, no warmup: this is the
        # measured pathology the guard exists for, not a tuned row)
        from dwh_with_dask_spark.operators.graph import triangle_count

        t0 = time.perf_counter()
        materialize(
            triangle_count(
                _part_cooccurrence_pairs(spark, SF1_DIR),
                per_node=True, min_count=1,
            )
            .orderBy("node").limit(50)
        )
        unguarded = round(time.perf_counter() - t0, 3)
        print(f"sf1 triangle unguarded (min_count=1): {unguarded}s", flush=True)

        comparable = [r for r in rows if r[3] not in ("no oracle", "—")]
        total_s = sum(float(r[1]) for r in comparable)
        total_d = sum(float(r[2]) for r in comparable)
        with open(args.out, "a") as f:
            f.write(
                "\n## Round-9 additions at sf1 (appended by --set round9)\n\n"
                "Stored-index probes next to their rebuild-per-query "
                "rows;\nboth probe queries build once into the content-keyed "
                "cache, so\nthese medians measure the PROBE (the warmup run "
                "pays any build).\n\n"
                "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
            )
            for name, s, d, ratio in rows:
                f.write(f"| {name} | {s} | {d} | {ratio} |\n")
            if comparable:
                f.write(
                    f"| **total (oracle-comparable)** | **{total_s:.2f}** | "
                    f"**{total_d:.2f}** | **{total_s / total_d:.2f}x** |\n"
                )
            f.write(
                "\nAudio marginal cost (VERDICT r8 ask #8) — same synth "
                "pipeline,\n10x the clips:\n\n"
                "| clips | spark s | growth |\n| --- | --- | --- |\n"
                f"| 30 | {audio[30]:.3f} | — |\n"
                f"| 300 | {audio[300]:.3f} | "
                f"{audio[300] / audio[30]:.2f}x/10x |\n"
                "\nManifest data skipping at sf1 (versioned_prune_orders "
                "table):\nfull read lists "
                f"{n_all} files across {d_all} dirs; the 2000+ prune lists "
                f"{n_pruned}\nfiles across {d_pruned} dir(s) — directories "
                "are dropped from the manifest\nBEFORE file listing.\n"
                "\nUnguarded wedge explosion re-measured through the "
                "operator's\nparameter (min_count=1, single run): "
                f"{unguarded} s vs the guarded driver\nrow above — the "
                "density guard IS the scale story for co-occurrence\n"
                "graphs.\n"
            )
            f.write(footer())
        print(f"appended round-9 section to {args.out}")
        spark.stop()
        return

    if args.which == "round8":
        # Round-8 additions: general MERGE INTO, point-in-time SCD2
        # join, the audio near-dup family (fixed workload size by
        # design — 30 synthesized clips — so its row measures the
        # family's fixed cost, not a scaling claim), and the IVF-PQ
        # rerank driver query.
        names = [
            "merge_into_orders",
            "pit_join_user_events",
            "text_bm25_search",
            "triangle_count_part_graph",
            "multimodal_audio_dedup",
            "embedding_ivfpq_rerank_topk",
        ]
        rows = []
        for name in names:
            s = timed_spark(spark, name, queries[name], SF1_DIR, args.runs)
            if name in oracles:
                try:
                    d = med(time_duck(duck, oracles[name], args.runs))
                    d_txt, ratio = f"{d:.3f}", f"{s / d:.2f}x"
                except Exception as exc:
                    d_txt, ratio = f"DNF ({type(exc).__name__})", "—"
            else:
                d_txt, ratio = "—", "no oracle"
            rows.append((name, f"{s:.3f}", d_txt, ratio))
            print(f"sf1 {name}: spark={s}s duck={d_txt} ({ratio})", flush=True)
        comparable = [r for r in rows if r[3] not in ("no oracle", "—")]
        total_s = sum(float(r[1]) for r in comparable)
        total_d = sum(float(r[2]) for r in comparable)
        with open(args.out, "a") as f:
            f.write(
                "\n## Round-8 additions at sf1 (appended by --set round8)\n\n"
                "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
            )
            for name, s, d, ratio in rows:
                f.write(f"| {name} | {s} | {d} | {ratio} |\n")
            if comparable:
                f.write(
                    f"| **total (oracle-comparable)** | **{total_s:.2f}** | "
                    f"**{total_d:.2f}** | **{total_s / total_d:.2f}x** |\n"
                )
            f.write(footer())
        print(f"appended round-8 section to {args.out}")
        spark.stop()
        return

    if args.which == "warehouse":
        # VERDICT r7 ask #5: the versioned-table layer and compact_table
        # have correctness tests but no bench rows. Measure the
        # maintenance ops at sf1 orders (1.5M rows): commit latency vs a
        # plain parquet write (the atomic-pointer overhead), append
        # commit cost (the O(batch) claim — batch = 1/30th of the
        # table), read overhead of the manifest indirection vs a plain
        # read, vacuum with orphans present, and compaction throughput
        # over a 40-fragment table.
        import shutil

        from pyspark.sql import functions as F

        from dwh_with_dask_spark.catalog import load_table
        from dwh_with_dask_spark.sinks import compact_table
        from dwh_with_dask_spark.versioned import (
            read_version,
            vacuum,
            versioned_commit,
        )

        scratch = os.path.join(REPO, ".localdata", "__wh_bench")
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
        orders = load_table(spark, SF1_DIR, "orders")
        batch = orders.filter("o_orderkey % 30 = 0")

        def bench_op(name, setup, op):
            xs = []
            for i in range(args.runs + 1):  # first is warmup
                ctx = setup(i)
                jvm_gc(spark)
                t0 = time.perf_counter()
                op(ctx)
                dt = time.perf_counter() - t0
                if i > 0:
                    xs.append(dt)
            SAMPLES[name] = xs
            m = med(xs)
            print(f"warehouse {name}: {m}s {[round(x,3) for x in xs]}",
                  flush=True)
            return m

        def fresh(i, tag):
            p = os.path.join(scratch, f"{tag}_{i}")
            shutil.rmtree(p, ignore_errors=True)
            return p

        r = {}
        r["plain_write"] = bench_op(
            "plain_write",
            lambda i: fresh(i, "pw"),
            lambda p: orders.write.parquet(p),
        )
        r["versioned_commit"] = bench_op(
            "versioned_commit",
            lambda i: fresh(i, "vc"),
            lambda p: versioned_commit(orders, p),
        )
        # append target: one base commit, appends accumulate on it
        vt_app = os.path.join(scratch, "vt_app")
        versioned_commit(orders, vt_app)
        r["versioned_append_batch"] = bench_op(
            "versioned_append_batch",
            lambda i: vt_app,
            lambda p: versioned_commit(batch, p, mode="append"),
        )
        plain = os.path.join(scratch, "plain_read")
        orders.write.parquet(plain)
        vt = os.path.join(scratch, "vt_read")
        versioned_commit(orders, vt)
        def agg(df):
            materialize(
                df.groupBy("o_orderstatus").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("o_totalprice").alias("s"),
                )
            )

        r["plain_read_agg"] = bench_op(
            "plain_read_agg",
            lambda i: None,
            lambda _: agg(spark.read.parquet(plain)),
        )
        r["versioned_read_agg"] = bench_op(
            "versioned_read_agg",
            lambda i: None,
            lambda _: agg(read_version(spark, vt)),
        )

        def orphan_setup(i):
            # 3 orphan data dirs + 3 uncommitted manifests per run
            for j in range(3):
                d = os.path.join(vt_app, "data", f"v9{i}{j}")
                shutil.rmtree(d, ignore_errors=True)
                batch.limit(1000).write.parquet(d)
                with open(
                    os.path.join(vt_app, "_manifests", f"v9{i}{j}.json"), "w"
                ) as fh:
                    fh.write('{"version": 999, "mode": "overwrite", "dirs": []}')
            return vt_app

        r["vacuum_with_orphans"] = bench_op(
            "vacuum_with_orphans", orphan_setup, lambda p: vacuum(p)
        )

        frag_src = os.path.join(scratch, "frag_src")
        for i in range(10):  # full sf1 orders as 40 appended fragments
            orders.filter(F.col("o_orderkey") % 10 == i).repartition(
                4
            ).write.mode("append").parquet(frag_src)
        frag_bytes = sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _d, fns in os.walk(frag_src)
            for fn in fns
            if fn.endswith(".parquet")
        )

        def frag_setup(i):
            p = os.path.join(scratch, f"frag_{i}")
            shutil.rmtree(p, ignore_errors=True)
            shutil.copytree(frag_src, p)
            return p

        r["compact_40_frags"] = bench_op(
            "compact_40_frags",
            frag_setup,
            lambda p: compact_table(spark, p, target_file_mb=128),
        )
        r["compact_sorted"] = bench_op(
            "compact_sorted",
            frag_setup,
            lambda p: compact_table(
                spark, p, target_file_mb=128, order_by=["o_orderdate"]
            ),
        )

        with open(args.out, "a") as f:
            f.write(
                "\n## Warehouse maintenance ops at sf1 (appended by --set warehouse)\n\n"
                "sf1 orders (1.5M rows); batch = 1/30th (50k rows); "
                "fragmented table = 40 parquet files, "
                f"{frag_bytes / 1e6:.1f} MB total. Medians of "
                f"{args.runs} runs after warmup.\n\n"
                "| op | median s | note |\n| --- | --- | --- |\n"
                f"| plain parquet write (full table) | {r['plain_write']} | baseline |\n"
                f"| versioned_commit overwrite (full table) | {r['versioned_commit']} | "
                f"{(r['versioned_commit'] - r['plain_write']):+.3f}s vs plain: manifest + atomic pointer overhead is noise-level |\n"
                f"| versioned_commit append (1/30 batch) | {r['versioned_append_batch']} | "
                "O(batch): prior version dirs referenced, never rewritten |\n"
                f"| plain read + agg | {r['plain_read_agg']} | baseline |\n"
                f"| read_version + agg | {r['versioned_read_agg']} | "
                "manifest indirection overhead |\n"
                f"| vacuum (6 orphans present) | {r['vacuum_with_orphans']} | "
                "never touches reachable dirs |\n"
                f"| compact_table 40 frags -> 1 | {r['compact_40_frags']} | "
                f"{frag_bytes / 1e6 / max(r['compact_40_frags'], 1e-9):.0f} MB/s |\n"
                f"| compact_table + range-sort clustering | {r['compact_sorted']} | "
                "doubles as min/max-skipping layout |\n"
            )
            f.write(footer())
        shutil.rmtree(scratch, ignore_errors=True)
        print(f"appended warehouse section to {args.out}")
        spark.stop()
        return

    if args.which == "tpch":
        rows = []
        for name in TPCH_EXTRA:
            s = timed_spark(spark, name, queries[name], SF1_DIR, args.runs)
            d = med(time_duck(duck, oracles[name], args.runs))
            rows.append((name, f"{s:.3f}", f"{d:.3f}", f"{s / d:.2f}x"))
            print(f"{name}: spark={s}s duck={d}s", flush=True)
        total_s = sum(float(r[1]) for r in rows)
        total_d = sum(float(r[2]) for r in rows)
        with open(args.out, "a") as f:
            f.write(
                "\n## TPC-H adapted set at sf1 (appended by --set tpch)\n\n"
                "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
            )
            for name, s, d, ratio in rows:
                f.write(f"| {name} | {s} | {d} | {ratio} |\n")
            f.write(
                f"| **total** | **{total_s:.2f}** | **{total_d:.2f}** | "
                f"**{total_s / total_d:.2f}x** |\n"
            )
            f.write(footer())
        print(f"appended TPC-H section to {args.out}")
        spark.stop()
        return

    if args.which == "round7":
        # Round-7 additions: snapshot-diff CDC, incremental agg merge,
        # KMV sketch, entity resolution, TF-IDF pairs (capped scale
        # path; the uncapped exact form is a disguised cartesian on
        # this shared-vocab corpus and is deliberately NOT run at sf1),
        # the rewritten linear span removal, and the fixed Jaccard pair.
        # Memory cap on the oracle connection: the entity-resolution
        # oracle's clique-closure recursive CTE is O(sum comp_size^2)
        # — at sf1 (200k records over 64 names) it climbed past 99 GB
        # RSS before being killed; with the cap it DNFs fast and the
        # DNF is the datapoint (the Spark plan star-reduces the same
        # cliques and runs in ~14 s).
        duck.sql("SET memory_limit='24GiB'")
        duck.sql("SET max_temp_directory_size='16GiB'")
        names = [
            "snapshot_diff_orders",
            "incremental_agg_orders",
            "kmv_distinct_parts",
            "entity_resolution_parts",
            "dedup_tfidf_cosine_capped",
            "dedup_span_removal",
            "dedup_ngram_jaccard",
            "dedup_ngram_jaccard_capped",
            "approx_distinct_parts",
        ]
        rows = []
        for name in names:
            s = timed_spark(spark, name, queries[name], SF1_DIR, args.runs)
            if name in oracles:
                try:
                    d = med(time_duck(duck, oracles[name], args.runs))
                    d_txt, ratio = f"{d:.3f}", f"{s / d:.2f}x"
                except Exception as exc:
                    d_txt, ratio = f"DNF ({type(exc).__name__})", "—"
            else:
                d_txt, ratio = "—", "no oracle"
            rows.append((name, f"{s:.3f}", d_txt, ratio))
            print(f"sf1 {name}: spark={s}s duck={d_txt} ({ratio})", flush=True)
        comparable = [r for r in rows if r[3] not in ("no oracle", "—")]
        total_s = sum(float(r[1]) for r in comparable)
        total_d = sum(float(r[2]) for r in comparable)
        with open(args.out, "a") as f:
            f.write(
                "\n## Round-7 additions at sf1 (appended by --set round7)\n\n"
                "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
            )
            for name, s, d, ratio in rows:
                f.write(f"| {name} | {s} | {d} | {ratio} |\n")
            f.write(
                f"| **total (oracle-comparable)** | **{total_s:.2f}** | "
                f"**{total_d:.2f}** | **{total_s / total_d:.2f}x** |\n"
            )
            f.write(footer())
        print(f"appended round-7 section to {args.out}")
        spark.stop()
        return

    if args.which == "round6":
        # Round-6 additions: local TPC-H (partsupp), perceptual image
        # dedup, ExactSubstr duplicate spans, C4 rules, PageRank, the
        # logistic-regression probe.
        from dwh_with_dask_spark.plans.tpch_extra import (
            LOCAL_ORACLES,
            LOCAL_QUERIES,
        )

        q6 = dict(queries)
        q6.update(LOCAL_QUERIES)
        o6 = dict(oracles)
        o6.update(LOCAL_ORACLES)
        names = [
            "q2_min_cost_supplier",
            "q11_important_stock",
            "q20_potential_promotion",
            "multimodal_phash_dedup",
            "dedup_duplicate_spans",
            "dedup_incremental_spans",
            "dedup_span_removal",
            "corpus_prepare_pipeline_v2",
            "corpus_c4_rules",
            "text_readability_docs",
            "pagerank_customer_supplier",
            "embedding_logreg_probe",
            "quality_classifier_scores",
            "embedding_pq_topk",
            "embedding_ivfpq_topk",
            "source_chars_geomean",
            "market_basket_part_pairs",
        ]
        rows = []
        for name in names:
            s = timed_spark(spark, name, q6[name], SF1_DIR, args.runs)
            if name in o6:
                d = med(time_duck(duck, o6[name], args.runs))
                d_txt, ratio = f"{d:.3f}", f"{s / d:.2f}x"
            else:
                d_txt, ratio = "—", "no oracle"
            rows.append((name, f"{s:.3f}", d_txt, ratio))
            print(f"sf1 {name}: spark={s}s duck={d_txt} ({ratio})", flush=True)
        total_s = sum(float(r[1]) for r in rows if r[3] != "no oracle")
        total_d = sum(float(r[2]) for r in rows if r[3] != "no oracle")
        with open(args.out, "a") as f:
            f.write(
                "\n## Round-6 additions at sf1 (appended by --set round6)\n\n"
                "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
            )
            for name, s, d, ratio in rows:
                f.write(f"| {name} | {s} | {d} | {ratio} |\n")
            f.write(
                f"| **total (oracle-comparable)** | **{total_s:.2f}** | "
                f"**{total_d:.2f}** | **{total_s / total_d:.2f}x** |\n"
            )
            f.write(footer())
        print(f"appended round-6 section to {args.out}")
        spark.stop()
        return

    if args.which == "round5":
        # Round-5 additions: warehouse maintenance (SCD2, Z-order),
        # curation sketches/decontamination/OOV, paragraph dedup,
        # repetition rules, skew-safe sampling, SemDeDup (rows-only),
        # and the analytics layer (gap fill, funnel, fuzzy join,
        # profiling, winsorize, bigram LM).
        names = [
            "scd2_user_event_history",
            "scd2_merge_customers",
            "zorder_orders_bucket",
            "corpus_heavy_hitters",
            "corpus_cms_counts",
            "corpus_oov_rate",
            "corpus_bloom_decontaminate",
            "dedup_paragraphs",
            "text_repetition_profile",
            "corpus_sample_stratified_prefiltered",
            "semantic_dedup_keepers",
            "timeseries_gap_fill_locf",
            "timeseries_interpolate_linear",
            "funnel_view_click_purchase",
            "funnel_within_12h",
            "fuzzy_join_part_names",
            "profile_orders_columns",
            "winsorized_order_prices",
            "text_bigram_logprob",
            "timeseries_rolling_zscore",
            "cohort_retention_weekly",
            "session_path_counts",
            "mad_outlier_orders",
            "quantile_sketch_prices",
            "asof_join_tolerance_30d",
            "bpe_vocab_merges",
            "bpe_encode_tokens",
            "corpus_sample_temperature",
            "dq_orders_suite",
            "event_transition_matrix",
            "timeseries_rolling_median",
            "embedding_pca_project",
            "embedding_ridge_probe",
            "corpus_mixture_by_source",
            "rolling_7d_distinct_users",
        ]
        rows = []
        for name in names:
            s = timed_spark(spark, name, queries[name], SF1_DIR, args.runs)
            if name in oracles:
                d = med(time_duck(duck, oracles[name], args.runs))
                d_txt, ratio = f"{d:.3f}", f"{s / d:.2f}x"
            else:
                d_txt, ratio = "—", "no oracle"
            rows.append((name, f"{s:.3f}", d_txt, ratio))
            print(f"sf1 {name}: spark={s}s duck={d_txt} ({ratio})", flush=True)
        total_s = sum(float(r[1]) for r in rows if r[3] != "no oracle")
        total_d = sum(float(r[2]) for r in rows if r[3] != "no oracle")
        with open(args.out, "a") as f:
            f.write(
                "\n## Round-5 additions at sf1 (appended by --set round5)\n\n"
                "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
            )
            for name, s, d, ratio in rows:
                f.write(f"| {name} | {s} | {d} | {ratio} |\n")
            f.write(
                f"| **total (oracle-comparable)** | **{total_s:.2f}** | "
                f"**{total_d:.2f}** | **{total_s / total_d:.2f}x** |\n"
            )
            f.write(footer())
        print(f"appended round-5 section to {args.out}")
        spark.stop()
        return

    if args.which == "round4":
        import duckdb

        # sf1 leg: connected components, incremental dedup (no SQL
        # oracle — MinHash index probe), composed curation pipeline.
        sf1_rows = []
        for name in (
            "dedup_connected_groups",
            "dedup_incremental_batch",
            "corpus_prepare_pipeline",
        ):
            s = timed_spark(spark, name, queries[name], SF1_DIR, args.runs)
            if name in oracles:
                d = med(time_duck(duck, oracles[name], args.runs))
                d_txt, ratio = f"{d:.3f}", f"{s / d:.2f}x"
            else:
                d_txt, ratio = "—", "no oracle"
            sf1_rows.append((name, f"{s:.3f}", d_txt, ratio))
            print(f"sf1 {name}: spark={s}s duck={d_txt} ({ratio})", flush=True)

        # skew leg: the prefix filter's WINNING regime (boilerplate-heavy
        # corpus) side-by-side with the naive inverted-index join it
        # prunes, on identical semantics (bit-identical output).
        skew_duck = duckdb.connect()
        skew_duck.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SKEW_DIR}/documents.parquet')"
        )
        skew_rows = []
        for name in ("dedup_ngram_jaccard", "dedup_ngram_jaccard_prefix"):
            s = timed_spark(spark, name, queries[name], SKEW_DIR, args.runs)
            n_pairs = queries[name](spark, SKEW_DIR).count()
            d = med(time_duck(skew_duck, oracles[name], args.runs))
            skew_rows.append((name, f"{s:.3f}", f"{d:.3f}", n_pairs))
            print(f"skew {name}: spark={s}s duck={d}s pairs={n_pairs}", flush=True)

        # skew-nl leg: heavy-tailed vocabulary + 50% boilerplate at
        # t=0.8 — the regime prefix filtering exists for. Operators
        # called directly (the registered queries pin t=0.30); the
        # oracle SQL is the registered Jaccard oracle rethresholded.
        from dwh_with_dask_spark.catalog import load_table
        from dwh_with_dask_spark.operators import dedup as DD

        nl_docs = load_table(spark, SKEWNL_DIR, "documents")
        nl_duck = duckdb.connect()
        nl_duck.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SKEWNL_DIR}/documents.parquet')"
        )
        nl_oracle = oracles["dedup_ngram_jaccard"].replace(">= 0.30", ">= 0.80")
        nl_rows = []
        for name, strategy in (
            ("naive inverted-index (t=0.8)", "naive"),
            ("prefix-filtered (t=0.8)", "prefix"),
        ):
            def op(strategy=strategy):
                return DD.shingle_pairs(
                    nl_docs, "jaccard", strategy, n=3, threshold=0.8
                )

            s = timed_spark(
                spark, name, lambda sp, _d, op=op: op(), SKEWNL_DIR, args.runs
            )
            n_pairs = op().count()
            nl_rows.append((name, f"{s:.3f}", n_pairs))
            print(f"skewnl {name}: spark={s}s pairs={n_pairs}", flush=True)
        d_nl = med(time_duck(nl_duck, nl_oracle, args.runs))
        print(f"skewnl duckdb oracle: {d_nl}s", flush=True)

        with open(args.out, "a") as f:
            f.write(
                "\n## Round-4 additions at scale (appended by --set round4)\n\n"
                "sf1 (50k fresh documents):\n\n"
                "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
            )
            for name, s, d, ratio in sf1_rows:
                f.write(f"| {name} | {s} | {d} | {ratio} |\n")
            f.write(
                "\n`dedup_connected_groups` runs the iterative pregel-style\n"
                "fixpoint over the capped-Jaccard pair graph; its DuckDB\n"
                "oracle is the equivalent recursive CTE. "
                "`dedup_incremental_batch` probes the stored MinHash/sha256\n"
                "index with only the 25k-doc batch shingled — the corpus\n"
                "half enters through its ~0.5 KB/doc index alone.\n\n"
                "Prefix-filtered exact Jaccard on its winning regime — the\n"
                "boilerplate-skew corpus (`.localdata/skew`, 5k docs, 20%\n"
                "sharing a 40-word header). Identical semantics to the naive\n"
                "inverted-index join (bit-identical pairs), so this is a pure\n"
                "runtime comparison:\n\n"
                "| query | spark s | duckdb s | result pairs |\n"
                "| --- | --- | --- | --- |\n"
            )
            for name, s, d, n in skew_rows:
                f.write(f"| {name} | {s} | {d} | {n} |\n")
            f.write(
                "\nAt this 5k-doc scale and t=0.30, BOTH register the same\n"
                "pairs and the naive join is cheap (its collision counting\n"
                "streams hot-shingle pairs through map-side partial\n"
                "aggregation at ~50M rows/s) — the prefix filter's extra\n"
                "passes (global shingle-frequency rank + verify join)\n"
                "dominate. Low thresholds are prefix filtering's KNOWN bad\n"
                "regime: at t=0.30 the 'prefix' is 70% of every document.\n\n"
                "The winning regime — `.localdata/skewnl`\n"
                "(`gen_scale_data.py --skew-nl`): 20k docs, 50% sharing the\n"
                "header, heavy-tailed Zipf(1.1) 50k-word vocabulary with\n"
                "per-doc unique tokens (the natural-language df shape),\n"
                "threshold 0.8, ~200 planted near-dups. Naive pays\n"
                "C(10k,2) x 39 header-shingle collision rows regardless of\n"
                "threshold; the prefix index never contains the header:\n\n"
                "| engine/plan | s | result pairs |\n| --- | --- | --- |\n"
            )
            for name, s, n in nl_rows:
                f.write(f"| {name} | {s} | {n} |\n")
            f.write(f"| duckdb oracle (t=0.8) | {d_nl:.3f} | — |\n")
            f.write(footer())
        print(f"appended round-4 section to {args.out}")
        spark.stop()
        return

    rows = []
    for name in HEADLINE:
        s = timed_spark(spark, name, queries[name], SF1_DIR, args.runs)
        if name in oracles:
            d = med(time_duck(duck, oracles[name], args.runs))
            ratio = f"{s / d:.2f}x" if d > 0 else "—"
            d_txt = f"{d:.3f}"
        else:
            d_txt, ratio = "—", "no oracle"
        rows.append((name, f"{s:.3f}", d_txt, ratio))
        print(f"{name}: spark={s}s duck={d_txt}s ({ratio})", flush=True)

    # Shingle-cap demonstration on the boilerplate-skew corpus. The skew
    # dir carries only documents.parquet, so register just that view.
    import duckdb

    skew_duck = duckdb.connect()
    skew_duck.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SKEW_DIR}/documents.parquet')"
    )
    skew_rows = []
    for name in ("dedup_ngram_jaccard", "dedup_ngram_jaccard_capped"):
        s = timed_spark(spark, name, queries[name], SKEW_DIR, args.runs)
        n_pairs = queries[name](spark, SKEW_DIR).count()
        d = med(time_duck(skew_duck, oracles[name], args.runs))
        skew_rows.append((name, f"{s:.3f}", f"{d:.3f}", n_pairs))
        print(f"skew {name}: spark={s}s duck={d}s pairs={n_pairs}", flush=True)

    total_s = sum(float(r[1]) for r in rows if r[3] != "no oracle")
    total_d = sum(float(r[2]) for r in rows if r[3] != "no oracle")

    with open(args.out, "w") as f:
        f.write(
            "# BENCH_SCALE — headline queries at sf1 (10x sf0.1)\n\n"
            "Generated by `scripts/bench_scale.py` over data from\n"
            "`scripts/gen_scale_data.py` (deterministic 10x scale-up of the\n"
            "driver's sf0.1: 6M lineitem / 1.5M orders / 1M events / 50k fresh\n"
            "documents / 20k cluster-sampled embeddings — see that script's\n"
            "docstring for the method). Protocol: warmup + median of "
            f"{args.runs};\nSpark = noop-sink materialization on local["
            f"{os.environ.get('SPARK_GRAFT_CPUS', '32')}], AQE on; DuckDB =\n"
            "oracle SQL fetchall, all cores. Machine: "
            f"{platform.platform()}.\n\n"
            "Rationale (round-2 verdict): at sf0.1 the ~0.15-0.5 s fixed\n"
            "per-query Spark overhead dominates and the 2x gate is\n"
            "undecidable; this scale makes marginal cost visible.\n\n"
            "| query | spark s | duckdb s | ratio |\n| --- | --- | --- | --- |\n"
        )
        for name, s, d, ratio in rows:
            f.write(f"| {name} | {s} | {d} | {ratio} |\n")
        f.write(
            f"| **total (oracle-comparable)** | **{total_s:.2f}** | "
            f"**{total_d:.2f}** | **{total_s / total_d:.2f}x** |\n"
        )
        f.write(
            "\n## Shingle-cap win on the boilerplate-skew corpus\n\n"
            "`.localdata/skew`: sf0.1 documents with a shared 40-word header\n"
            "on 20% of docs (`gen_scale_data.py --skew`). The header's\n"
            "shingles are hot keys: the uncapped inverted-index Jaccard join\n"
            "materializes every header-doc candidate pair through them;\n"
            "`max_shingle_freq` drops those shingles via a broadcast\n"
            "anti-join before the pair join.\n\n"
            "| query | spark s | duckdb s | result pairs |\n| --- | --- | --- | --- |\n"
        )
        for name, s, d, n in skew_rows:
            f.write(f"| {name} | {s} | {d} | {n} |\n")
        f.write(footer())
    print(f"wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
