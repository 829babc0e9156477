"""The benchmark's workloads: what one op is, its inputs and its check.

A workload object lives for one run. ``generate`` makes the inputs from
the seed (outside set-up), ``stage`` hands them to the program and
``warmup`` runs the op mix once before timing. Each timed op is
``prepare`` (untimed: the client builds the op's input), ``op`` (timed:
the calls into the engine) and ``settle`` (untimed: op-log bookkeeping
and result checks). ``verify`` runs the checks that need the whole run.
``failed_kinds`` names the op kinds whose result did not check out;
every op of such a kind counts as failed.
"""

from __future__ import annotations

import json
import os
import random
import re

import numpy as np
import pandas as pd

from perfbench import datagen
from perfbench.metrics import bytes_written, check_result, file_sizes, space_amp
from perfbench.trace import Tracer

# The ROADMAP headline set, pinned here: the benchmark does not follow
# edits to bench.py.
HEADLINE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_revenue_filter", "window_running_total", "asof_join_events_orders",
    "tumbling_window_events", "dedup_exact_docs", "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped", "dedup_minhash_lsh", "embedding_cosine_topk",
    "embedding_near_dup_cosine", "multimodal_image_features",
    "multimodal_audio_dedup", "text_tokens_docs", "text_bm25_top_terms",
    "hypertable_rollup_events", "q8_market_share", "json_props_events",
)
HEADLINE_SF = 0.01


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class HeadlineRead:
    """One op = build one headline query's plan and run it to a noop sink.
    Each pass runs all 20 queries in a seed-permuted order."""

    name = "headline_read"

    def __init__(self, root: str, seed: int):
        self.sf_dir = os.path.join(root, "inputs")
        self.seed = seed
        self.rng = random.Random(seed)
        self.results: dict[str, tuple[list, list]] = {}
        self.failed_kinds: dict[str, str] = {}

    def generate(self) -> str:
        frames = datagen.make_tables(HEADLINE_SF, self.seed)
        datagen.write_tables(frames, self.sf_dir)
        return datagen.digest(frames)

    def stage(self, spark) -> None:
        pass  # the queries read the generated files directly

    def pass_ops(self) -> list[str]:
        ops = list(HEADLINE)
        self.rng.shuffle(ops)
        return ops

    def warmup(self, spark) -> None:
        """One pass of the mix, collecting each result for ``verify``."""
        from dwh_with_dask_spark.plans import QUERIES

        for q in self.pass_ops():
            try:
                df = QUERIES[q](spark, self.sf_dir)
                self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # recorded; the kind's ops count as failed
                self.failed_kinds[q] = f"warmup: {type(exc).__name__}: {exc}"[:300]

    def prepare(self, q: str) -> None:
        return None

    def op(self, spark, q: str, arg, tracer: Tracer):
        from dwh_with_dask_spark.plans import QUERIES

        with tracer.span(q, "plans"):
            df = QUERIES[q](spark, self.sf_dir)
        materialize(df)
        return df, None

    def settle(self, q: str, arg, out, traced: bool) -> None:
        pass

    def verify(self, spark) -> None:
        """Hash-match each collected result against its DuckDB oracle over
        the same inputs; the two oracle-less queries get the rows-only
        check (they ran and returned a schema)."""
        from dwh_with_dask_spark.plans import ORACLES
        from tests.conftest import make_duck
        from tests.test_driver_contract import canon

        duck = make_duck(self.sf_dir)
        try:
            for q, (cols, rows) in self.results.items():
                if q not in ORACLES:
                    if not cols:
                        self.failed_kinds[q] = "rows-only: no columns"
                    continue
                rel = duck.sql(ORACLES[q])
                err = check_result(cols, rows, rel.columns, rel.fetchall(), canon)
                if err:
                    self.failed_kinds[q] = err
        finally:
            duck.close()

    def reset_counters(self) -> None:
        pass

    def extra_metrics(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# warehouse_load
# ---------------------------------------------------------------------------

ORDERS_SF = 0.05  # 75k orders rows
ORDERS_CHUNKS = 4  # the base table is committed as this many key ranges
HELD_OUT = 0.1  # share of orders left out of the base table: late arrivals
UPSERT_KEYS = 1000  # an upsert covers this many consecutive keys of one range
WORKBOOK_ROWS = 60  # data rows per statement sheet
WORKBOOKS = 48  # ingest ops cycle through this many generated workbooks
# Read-mostly, as warehouse traffic is. Snapshots are 80% of ops, so the
# median op lands inside the snapshot latencies rather than on the edge
# between them and the slower writes.
PASS_MIX = ("ingest", "upsert") + ("snapshot",) * 8
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]
LAPORAN_COLS = ["ID", "emitent", "LaporanKeuangan", "LaporanDetail",
                "CurrentYearInstant", "PriorYearInstant"]


def _clean_label(s: str | None) -> str | None:
    return None if s is None else re.sub(r"[^\w\s]", "", s)[:255]


def _number(s: str | None) -> float:
    try:
        return float(s.replace(",", "")) if s is not None else 0.0
    except ValueError:
        return 0.0


def expected_laporan(sheets: dict, emitent: str) -> list[tuple]:
    """The statement rows a workbook must load as, derived from its cells
    without the engine: union in sheet order, 1-based IDs, cleaned labels,
    thousands separators dropped, unparseable values as 0."""
    rows = []
    for label, sheet in datagen.STATEMENT_SHEETS.items():
        for cells in sheets[sheet][2:]:
            rows.append((len(rows) + 1, emitent, label, _clean_label(cells[0]),
                         _number(cells[1]), _number(cells[2])))
    return rows


def _cents(prices) -> int:
    return int(np.round(np.asarray(prices, dtype=float) * 100).astype(np.int64).sum())


class WarehouseLoad:
    """One op from a seeded sequence of three kinds against two versioned
    tables: ``ingest`` (workbook -> sources -> pipeline_v2 -> append),
    ``upsert`` (key-range MERGE into ``orders``), ``snapshot`` (pruned
    read of the current or an earlier version, aggregated)."""

    name = "warehouse_load"

    def __init__(self, root: str, seed: int):
        self.tables = os.path.join(root, "tables")
        self.orders = os.path.join(self.tables, "orders")
        self.laporan = os.path.join(self.tables, "laporan")
        self.wb_dir = os.path.join(root, "inputs")
        self.seed = seed
        self.rng = np.random.default_rng([seed, 7])
        self.order_rng = random.Random(seed)
        self.failed_kinds: dict[str, str] = {}
        # op log: expected orders content per version, laporan rows so far
        self.versions: dict[int, pd.DataFrame] = {}
        self.laporan_rows: list[tuple] = []
        self.n_books = 0
        self.reset_counters()

    def reset_counters(self) -> None:
        """Zero the write/read accounting (set-up ops are not counted).
        The ratios cover every timed op; ``per_traced`` sums only traced
        ops, like the span-based per-layer figures."""
        self.user_bytes = 0
        self.written_bytes = 0
        self.rows_upserted = 0
        self.rows_rewritten = 0
        self.dirs_read: list[float] = []
        self.per_traced = dict.fromkeys(
            ("bytes_written", "files_written", "compactions", "sources_rows"), 0)

    # -- inputs ------------------------------------------------------------
    def generate(self) -> str:
        self.base = datagen.make_tables(ORDERS_SF, self.seed)["orders"]
        # keys are 0..n-1; chunk i of the base table holds the keys in
        # [key_bounds[i], key_bounds[i+1]) except the held-out ones
        self.key_bounds = np.linspace(0, len(self.base), ORDERS_CHUNKS + 1).astype(int)
        self.held_out = np.random.default_rng([self.seed, 13]).random(len(self.base)) < HELD_OUT
        rng = np.random.default_rng([self.seed, 11])
        self.books = [datagen.make_workbook(rng, f"E{i:04d}", WORKBOOK_ROWS)
                      for i in range(WORKBOOKS)]
        os.makedirs(self.wb_dir, exist_ok=True)
        for i, book in enumerate(self.books):
            datagen.write_workbook(book, os.path.join(self.wb_dir, f"E{i:04d}.xlsx"))
        grids = pd.DataFrame({"cells": [json.dumps(b, sort_keys=True) for b in self.books]})
        return datagen.digest({"orders": self.base, "workbooks": grids})

    def stage(self, spark) -> None:
        """Commit the base ``orders`` table as key-range chunks, so an
        upsert touches one directory and a pruned read can skip the
        others. ``auto_compact_at`` cannot fire on this table: a merge
        rewrites the dirs it touches into one, so the dir count never
        grows past the staged chunks; only the ``laporan`` appends
        compact."""
        from dwh_with_dask_spark.versioned import current_version, versioned_commit

        staged = self.base[~self.held_out].reset_index(drop=True)
        for i, (a, b) in enumerate(zip(self.key_bounds[:-1], self.key_bounds[1:])):
            versioned_commit(
                spark.createDataFrame(staged[staged.o_orderkey.between(a, b - 1)]),
                self.orders,
                mode="overwrite" if i == 0 else "append",
                stats_cols=["o_orderkey", "o_orderdate"],
                member_cols=["o_orderpriority"], auto_compact_at=16,
            )
        self.versions[current_version(self.orders)] = staged

    def pass_ops(self) -> list[str]:
        ops = list(PASS_MIX)
        self.order_rng.shuffle(ops)
        return ops

    def warmup(self, spark) -> None:
        """One pass of the mix."""
        off = Tracer(enabled=False)
        for kind in self.pass_ops():
            arg = self.prepare(kind)
            self.settle(kind, arg, self.op(spark, kind, arg, off)[1], False)

    # -- ops: prepare (untimed) -> op (timed) -> settle (untimed) -----------
    def prepare(self, kind: str):
        return getattr(self, f"_prepare_{kind}")()

    def op(self, spark, kind: str, arg, tracer: Tracer):
        """Returns (the DataFrame the op planned, the op's output)."""
        return getattr(self, f"_{kind}")(spark, arg, tracer)

    def settle(self, kind: str, arg, out, traced: bool) -> None:
        from dwh_with_dask_spark.versioned import current_version, manifest_dirs

        counts = self.per_traced if traced else dict.fromkeys(self.per_traced, 0)
        if kind != "snapshot":
            b, f = bytes_written(arg["before"], file_sizes(self.tables))
            self.written_bytes += b
            counts["bytes_written"] += b
            counts["files_written"] += f
            table = self.laporan if kind == "ingest" else self.orders
            cur = current_version(table)
            counts["compactions"] += cur - out  # a triggered compaction is one more
        if kind == "ingest":
            self.laporan_rows += arg["want"]
            self.user_bytes += arg["user_bytes"]
            if traced:  # rows the sources layer returned
                counts["sources_rows"] += sum(d.count() for d in arg["raw"].values())
        elif kind == "upsert":
            for v in range(out, cur + 1):
                self.versions[v] = arg["merged"]
            self.rows_upserted += len(arg["batch"])
            self.rows_rewritten += arg["rows_written"]
            self.user_bytes += arg["user_bytes"]
        else:
            got = (out["n"], out["cents"])
            if got != arg["want"]:
                self.failed_kinds["snapshot"] = (
                    f"v{arg['v']} {arg['prune']} {arg['prune_eq']}: {got} != {arg['want']}")
            if traced:
                kept = manifest_dirs(self.orders, arg["v"], arg["prune"], arg["prune_eq"])
                self.dirs_read.append(len(kept) / len(manifest_dirs(self.orders, arg["v"])))

    def _prepare_ingest(self) -> dict:
        i = self.n_books % WORKBOOKS
        self.n_books += 1
        want = expected_laporan(self.books[i], f"E{i:04d}")
        return {
            "path": os.path.join(self.wb_dir, f"E{i:04d}.xlsx"), "want": want,
            "user_bytes": pd.DataFrame(want, columns=LAPORAN_COLS).memory_usage(
                index=False, deep=True).sum(),
            "before": file_sizes(self.tables),
        }

    def _ingest(self, spark, arg: dict, tracer: Tracer):
        from dwh_with_dask_spark.plans.financial_etl import pipeline_v2
        from dwh_with_dask_spark.sources.excel import lookup_cell, read_excel_sheet
        from dwh_with_dask_spark.versioned import versioned_commit

        path = arg["path"]
        with tracer.span("ingest", "plans"):
            code = lookup_cell(spark, path, datagen.INFO_SHEET, "Kode entitas")
            raw = arg["raw"] = {label: read_excel_sheet(spark, path, sheet, header=1)
                                for label, sheet in datagen.STATEMENT_SHEETS.items()}
            df = pipeline_v2(raw, code)
        return df, versioned_commit(df, self.laporan, mode="append", auto_compact_at=4)

    def _prepare_upsert(self) -> dict:
        table = self.versions[max(self.versions)]
        c = int(self.rng.integers(0, ORDERS_CHUNKS))
        lo = int(self.rng.integers(self.key_bounds[c], self.key_bounds[c + 1] - UPSERT_KEYS))
        # every key of the range: present ones are updated, held-out ones
        # not yet inserted arrive as new rows
        batch = self.base.iloc[lo:lo + UPSERT_KEYS][ORDER_COLS].reset_index(drop=True)
        batch["o_totalprice"] = np.round(self.rng.uniform(1000, 500_000, len(batch)), 2)
        batch["o_orderstatus"] = np.asarray(["F", "O", "P"], dtype=object)[
            self.rng.integers(0, 3, len(batch))]
        return {
            "batch": batch,
            "merged": pd.concat([table[~table.o_orderkey.isin(batch.o_orderkey)], batch],
                                ignore_index=True),
            "user_bytes": batch.memory_usage(index=False, deep=True).sum(),
            "before": file_sizes(self.tables),
        }

    def _upsert(self, spark, arg: dict, tracer: Tracer):
        from dwh_with_dask_spark.versioned import versioned_merge

        rep = versioned_merge(spark, self.orders, spark.createDataFrame(arg["batch"]),
                              keys=["o_orderkey"], auto_compact_at=16)
        arg["rows_written"] = rep["rows_written"]
        return None, rep["version"]

    def _prepare_snapshot(self) -> dict:
        versions = sorted(self.versions)
        v = versions[-1] if self.rng.random() < 0.5 else versions[
            int(self.rng.integers(0, len(versions)))]
        n = len(self.base)
        lo = int(self.rng.integers(0, n - n // 8))
        hi = lo + n // 8
        prio = PRIORITIES[int(self.rng.integers(0, 5))]
        t = self.versions[v]
        sel = t[(t.o_orderkey >= lo) & (t.o_orderkey <= hi) & (t.o_orderpriority == prio)]
        return {"v": v, "lo": lo, "hi": hi, "prio": prio,
                "prune": {"o_orderkey": (lo, hi)}, "prune_eq": {"o_orderpriority": prio},
                "want": (len(sel), _cents(sel.o_totalprice) if len(sel) else None)}

    def _snapshot(self, spark, arg: dict, tracer: Tracer):
        from pyspark.sql import functions as F

        from dwh_with_dask_spark.versioned import read_version

        df = read_version(spark, self.orders, arg["v"], prune=arg["prune"],
                          prune_eq=arg["prune_eq"]).filter(
            F.col("o_orderkey").between(arg["lo"], arg["hi"])
            & (F.col("o_orderpriority") == arg["prio"])
        ).agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        return df, df.collect()[0]

    # -- checks --------------------------------------------------------------
    def verify(self, spark) -> None:
        """Final snapshots against the op log, and a deep fsck of both tables."""
        from tests.test_driver_contract import canon

        from dwh_with_dask_spark.versioned import fsck, read_version

        got = read_version(spark, self.orders).toPandas()[ORDER_COLS]
        err = check_result(ORDER_COLS, list(got.itertuples(index=False, name=None)),
                           ORDER_COLS, list(self.versions[max(self.versions)].itertuples(
                               index=False, name=None)), canon)
        if err:
            self.failed_kinds["upsert"] = f"final orders snapshot: {err}"
        if self.laporan_rows:
            lap = read_version(spark, self.laporan)
            err = check_result(lap.columns, [tuple(r) for r in lap.collect()],
                               LAPORAN_COLS, self.laporan_rows, canon)
            if err:
                self.failed_kinds["ingest"] = f"final laporan snapshot: {err}"
        for table, kind in ((self.orders, "upsert"), (self.laporan, "ingest")):
            if os.path.isdir(table):
                rep = fsck(table, deep=True)
                if not rep["ok"]:
                    self.failed_kinds[kind] = f"fsck: {rep['errors'][:3]}"

    def extra_metrics(self) -> dict:
        from dwh_with_dask_spark.versioned import manifest_dirs

        cur_dirs = [os.path.join(os.path.basename(t), d)
                    for t in (self.orders, self.laporan) if os.path.isdir(t)
                    for d in manifest_dirs(t)]
        return {
            "bytes_written_per_user_byte": self.written_bytes / max(self.user_bytes, 1),
            "space_amp": space_amp(file_sizes(self.tables), cur_dirs),
            "rows_rewritten_per_row_upserted":
                self.rows_rewritten / max(self.rows_upserted, 1),
            "dirs_read_ratio": sum(self.dirs_read) / max(len(self.dirs_read), 1),
            "per_traced": self.per_traced,
        }


WORKLOADS = {w.name: w for w in (HeadlineRead, WarehouseLoad)}
