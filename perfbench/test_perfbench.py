"""Tests of the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import datagen
from perfbench.metrics import (
    bytes_written,
    check_result,
    count_failed,
    file_sizes,
    kept_passes,
    percentile,
    snapshot_bytes,
    space_amp,
    tail_percentile,
)
from perfbench.trace import Span, Tracer, layer_of, union_length
from perfbench.workloads import expected_laporan

HERE = os.path.dirname(os.path.abspath(__file__))


def _canon():
    from tests.test_driver_contract import canon

    return canon


# -- percentiles ----------------------------------------------------------

@pytest.mark.parametrize("n, q", [(20, None), (99, None), (100, 0.9), (199, 0.9),
                                  (200, 0.95), (999, 0.95), (1000, 0.99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert tail_percentile(n) == q
    if q is not None:
        xs = list(range(n))
        assert sum(x > percentile(xs, q) for x in xs) >= 10


def test_kept_passes_drop_disturbed_ones_or_keep_the_least_disturbed():
    assert kept_passes([0.001, 0.05, 0.02, 0.0], 0.02) == {0, 2, 3}
    assert kept_passes([0.03, 0.05], 0.02) == {0}
    assert kept_passes([0.04, 0.03, 0.03], 0.02) == {1, 2}
    assert kept_passes([], 0.02) == set()


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 0.5) == 50
    assert percentile(xs, 0.9) == 90
    assert percentile(xs, 0.99) == 99
    assert percentile([3.0], 0.9) == 3.0


# -- spans ------------------------------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(1, 3), (2, 4), (6, 7)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    t = Tracer()
    t.spans = [
        Span("op", "op", 0.0, None, end=10.0),
        Span("q", "plans", 1.0, 0, end=5.0),
        Span("load_table", "catalog", 1.5, 1, end=2.5),
        Span("load_table", "catalog", 2.0, 1, end=3.0),  # overlaps its sibling
        Span("dedup", "operators", 3.5, 1, end=4.0),
        Span("helper", "operators", 3.6, 4, end=3.8),  # nested in the same layer
        Span("read", "catalog", 6.0, 0, end=7.0),
    ]
    got = t.self_times()
    assert got["op"] == pytest.approx(10 - 4 - 1)
    assert got["plans"] == pytest.approx(4 - 1.5 - 0.5)
    assert got["catalog"] == pytest.approx(1 + 1 + 1)
    assert got["operators"] == pytest.approx(0.5)
    assert sum(got.values()) == pytest.approx(10 + 0.5)  # overlap counted twice


def test_live_spans_nest_and_count_py4j():
    t = Tracer()
    with t.span("q", "plans"):
        t.count_py4j()
        with t.span("load_table", "catalog"):
            t.count_py4j()
    assert [s.parent for s in t.spans] == [None, 0]
    assert t.outer_py4j("plans") == 2
    assert t.spans[1].py4j == 1
    off = Tracer(enabled=False)
    with off.span("q", "plans"):
        off.count_py4j()
    assert off.spans == []


def test_layer_of_uses_longest_prefix():
    assert layer_of("dwh_with_dask_spark.catalog") == "catalog"
    assert layer_of("dwh_with_dask_spark.operators.dedup") == "operators"
    assert layer_of("dwh_with_dask_spark.functions.text") == "operators"
    assert layer_of("dwh_with_dask_spark.plans.financial_etl") == "plans"
    assert layer_of("dwh_with_dask_spark.plans.relational") is None
    assert layer_of("dwh_with_dask_spark.catalogue") is None


# -- storage accounting ------------------------------------------------------

def _write(path: str, n: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"x" * n)


def test_write_amplification_and_space(tmp_path):
    root = str(tmp_path)
    _write(f"{root}/t/data/v1/a.parquet", 100)
    _write(f"{root}/t/_manifests/v1.json", 10)
    before = file_sizes(root)
    # a copy-on-write merge: v2 rewrites v1's rows plus the batch
    _write(f"{root}/t/data/v2/a.parquet", 120)
    _write(f"{root}/t/_manifests/v2.json", 12)
    after = file_sizes(root)
    assert bytes_written(before, after) == (132, 2)
    assert bytes_written(after, after) == (0, 0)
    assert snapshot_bytes(after, ["t/data/v2"]) == 120
    assert space_amp(after, ["t/data/v2"]) == pytest.approx(242 / 120)
    # a dir name that prefixes another is not counted with it
    _write(f"{root}/t/data/v20/a.parquet", 7)
    assert snapshot_bytes(file_sizes(root), ["t/data/v2"]) == 120


# -- result checks ------------------------------------------------------------

def test_wrong_expected_result_counts_as_failed():
    canon = _canon()
    got_cols, got = ["k", "v"], [(1, 2.5), (2, float("nan"))]
    assert check_result(got_cols, got, ["v", "k"], [(float("nan"), 2), (2.5, 1)],
                        canon) is None
    assert check_result(got_cols, got, ["k", "v"], [(1, 2.5), (2, 3.0)], canon)
    assert check_result(got_cols, got, ["k", "v"], [(1, 2.5)], canon)
    assert check_result(got_cols, got, ["k", "w"], got, canon)

    records = [("q1", 0.1, True, False), ("q2", 0.2, True, False),
               ("q1", 0.1, True, True), ("q3", 0.3, False, False)]
    assert count_failed(records, {}) == 1
    assert count_failed(records, {"q1": "1/2 rows differ"}) == 3


def test_expected_laporan_catches_a_wrong_load():
    sheets = datagen.make_workbook(np.random.default_rng(0), "E0001", 5)
    want = expected_laporan(sheets, "E0001")
    assert len(want) == 15 and [r[0] for r in want] == list(range(1, 16))
    wrong = [r[:4] + (r[4] + 1.0,) + r[5:] if r[0] == 3 else r for r in want]
    cols = ["ID", "emitent", "LaporanKeuangan", "LaporanDetail",
            "CurrentYearInstant", "PriorYearInstant"]
    assert check_result(cols, wrong, cols, want, _canon()) == "1/15 rows differ"


# -- inputs ---------------------------------------------------------------------

def test_inputs_are_seeded():
    a = datagen.digest(datagen.make_tables(0.001, 1))
    assert a == datagen.digest(datagen.make_tables(0.001, 1))
    assert a != datagen.digest(datagen.make_tables(0.001, 2))


def test_pinned_digests_match_generation(tmp_path):
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(HERE, "digests.json")) as f:
        pinned = json.load(f)
    for name, seeds in pinned.items():
        for seed in list(seeds)[:2]:
            wl = WORKLOADS[name](str(tmp_path / f"{name}-{seed}"), int(seed))
            assert wl.generate() == seeds[seed], (name, seed)


def test_workbook_reads_back_through_the_engine_parser(tmp_path):
    from dwh_with_dask_spark.sources import xlsx_lite

    sheets = datagen.make_workbook(np.random.default_rng(3), "E0042", 8)
    path = str(tmp_path / "book.xlsx")
    datagen.write_workbook(sheets, path)
    for name, grid in sheets.items():
        rows = xlsx_lite.sheet_rows(path, name)
        assert [[c for c in r if c is not None] for r in rows] == [
            [c for c in r if c is not None] for r in grid]
