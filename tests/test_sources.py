"""Round-trip tests for the file source/sink surface (SURVEY.md §2B scans).

Each format writes the same small frame and reads it back; values must
survive exactly (modulo the format's documented type limits — CSV/JSON
carry no native date/decimal, so those columns round-trip via explicit
schema).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dwh_with_dask_spark import sinks
from dwh_with_dask_spark.sources import files

SCHEMA = "id long, name string, price double, d date"
ROWS = [
    (1, "alpha", 1.5, "2024-01-01"),
    (2, "beta", -2.25, "2024-06-30"),
    (3, None, 0.0, None),
]


def _frame(spark):
    return spark.createDataFrame(
        [(i, n, p, d) for i, n, p, d in ROWS], "id long, name string, price double, d string"
    ).withColumn("d", F.col("d").cast("date"))


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy("id").collect()]


def test_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    df = _frame(spark)
    sinks.write_parquet(df, path)
    back = files.read_parquet(spark, path)
    assert _sorted_rows(back.select(*df.columns)) == _sorted_rows(df)


def test_orc_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t.orc")
    df = _frame(spark)
    df.write.mode("overwrite").orc(path)
    back = files.read_orc(spark, path)
    assert _sorted_rows(back.select(*df.columns)) == _sorted_rows(df)


def test_csv_roundtrip_with_schema(spark, tmp_path):
    path = str(tmp_path / "t.csv")
    df = _frame(spark)
    sinks.write_csv(df, path)
    back = files.read_csv(spark, path, schema=SCHEMA)
    assert _sorted_rows(back.select(*df.columns)) == _sorted_rows(df)


def test_csv_infer_schema(spark, tmp_path):
    path = str(tmp_path / "t2.csv")
    sinks.write_csv(_frame(spark), path)
    back = files.read_csv(spark, path)
    assert back.count() == 3
    assert dict(back.dtypes)["id"] in ("int", "bigint")


def test_json_roundtrip_with_schema(spark, tmp_path):
    path = str(tmp_path / "t.json")
    df = _frame(spark)
    sinks.write_json(df, path)
    back = files.read_json(spark, path, schema=SCHEMA)
    assert _sorted_rows(back.select(*df.columns)) == _sorted_rows(df)


def test_binary_files_scan(spark, tmp_path):
    p = tmp_path / "blob.bin"
    payload = b"\x00\x01binary-payload\xff"
    p.write_bytes(payload)
    df = files.read_binary_files(spark, str(tmp_path))
    row = df.select("path", "length", "content").first()
    assert row["length"] == len(payload)
    assert bytes(row["content"]) == payload


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema drift across parquet batches (a fact of life for any
    long-lived 100 TB table): mergeSchema unions the fields; files
    written before a column existed read as null."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    v1.write.parquet(path)
    v2 = spark.createDataFrame(
        [(2, "b", 0.5)], "id long, name string, score double"
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 0.5
    # without mergeSchema Spark picks one file's schema arbitrarily —
    # assert the option is what makes the union schema reliable
    assert merged.filter(F.col("score").isNotNull()).count() == 1


def test_json_corrupt_record_capture(spark, tmp_path):
    """PERMISSIVE JSON ingestion: malformed lines land in
    _corrupt_record instead of failing the scan — the triage contract
    for dirty landing zones (count them, quarantine them, keep going)."""
    p = tmp_path / "dirty.json"
    p.write_text(
        '{"id": 1, "v": 10}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "v": 20}\n'
        '{"id": 3, "v": }\n'
    )
    schema = "id long, v long, _corrupt_record string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        # Spark disallows querying ONLY the corrupt column from raw
        # files (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN);
        # cache-then-filter is the documented triage pattern.
        .cache()
    )
    good = df.filter(df._corrupt_record.isNull())
    bad = df.filter(df._corrupt_record.isNotNull())
    assert {r["id"] for r in good.collect()} == {1, 2}
    assert bad.count() == 2


def test_csv_malformed_row_modes(spark, tmp_path):
    """CSV ingestion with dirty rows: PERMISSIVE captures the raw line
    in _corrupt_record, DROPMALFORMED silently drops it — the two
    contracts a landing-zone loader chooses between."""
    p = tmp_path / "dirty.csv"
    p.write_text("id,v\n1,10\nnot-a-number,oops,extra\n2,20\n")

    schema = "id long, v long, _corrupt_record string"
    permissive = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
        .cache()
    )
    good = permissive.filter(permissive._corrupt_record.isNull())
    bad = permissive.filter(permissive._corrupt_record.isNotNull())
    assert {r["id"] for r in good.collect()} == {1, 2}
    assert bad.count() == 1

    dropped = (
        spark.read.schema("id long, v long")
        .option("header", "true")
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert {r["id"] for r in dropped.collect()} == {1, 2}


def test_export_shuffled_shards_deterministic(spark, tmp_path):
    from dwh_with_dask_spark.sinks import export_shuffled_shards

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(500)], "doc_id long, text string"
    )

    def shards(path, seed):
        export_shuffled_shards(df, path, n_shards=8, seed=seed)
        got = spark.read.parquet(path)
        rows = got.select("shard", "doc_id").collect()
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r["doc_id"])
        return by_shard

    a = shards(str(tmp_path / "a"), seed=1)
    b = shards(str(tmp_path / "b"), seed=1)
    c = shards(str(tmp_path / "c"), seed=2)

    # same seed -> identical shard membership; every doc exactly once
    assert {k: sorted(v) for k, v in a.items()} == {k: sorted(v) for k, v in b.items()}
    assert sorted(x for v in a.values() for x in v) == list(range(500))
    assert len(a) == 8
    # a different seed is an independent permutation of shard membership
    assert {k: sorted(v) for k, v in a.items()} != {k: sorted(v) for k, v in c.items()}
    # shards are balanced in expectation (loose 3x bound on 500/8 ≈ 62)
    assert all(15 <= len(v) <= 190 for v in a.values())


def test_compact_table_rewrites_small_files(spark, tmp_path):
    """Small-files compaction: 40 appended fragments collapse to the
    byte-derived target count, rows and values are untouched, and the
    ordered variant clusters min/max ranges for data skipping."""
    import os

    from dwh_with_dask_spark.sinks import compact_table

    path = str(tmp_path / "frag")
    for i in range(10):
        spark.range(i * 100, (i + 1) * 100).selectExpr(
            "id", "id % 7 AS k"
        ).repartition(4).write.mode("append").parquet(path)

    def n_files(p):
        return sum(
            1
            for dp, _d, fns in os.walk(p)
            for fn in fns
            if fn.endswith(".parquet")
        )

    before = spark.read.parquet(path).collect()
    assert n_files(path) == 40
    stats = compact_table(spark, path, target_file_mb=128)
    assert stats["files_before"] == 40
    # 1000 tiny rows << 128 MB -> exactly one output file
    assert stats["files_after"] == stats["target_files"] == 1
    after = spark.read.parquet(path).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))

    # ordered compaction preserves every row through the range-sort path
    for i in range(4):
        spark.range(i * 250, (i + 1) * 250).selectExpr(
            "id", "id % 7 AS k"
        ).repartition(3).write.mode("append").parquet(path)
    compact_table(spark, path, target_file_mb=128, order_by=["id"])
    dfq = spark.read.parquet(path).filter("id = 500")
    assert dfq.count() == 2  # once from the compacted base, once appended


def test_compact_table_heals_crash_between_renames(spark, tmp_path):
    """Crash INSIDE compact_table's two-rename swap window (ADVICE r7):
    the old table sits complete at .__old__, nothing at path, a stale
    .__tmp__ lingers. A re-run must restore the backup, discard the
    temp, and compact successfully — rows identical to pre-crash."""
    import os
    import shutil

    from dwh_with_dask_spark.sinks import compact_table

    path = str(tmp_path / "crashy")
    for i in range(5):
        spark.range(i * 10, (i + 1) * 10).repartition(2).write.mode(
            "append"
        ).parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())

    # simulate: new table written to .__tmp__, old moved to .__old__,
    # crash before rename(tmp, path)
    spark.read.parquet(path).coalesce(1).write.parquet(path + ".__tmp__")
    os.rename(path, path + ".__old__")
    assert not os.path.exists(path)

    stats = compact_table(spark, path, target_file_mb=128)
    assert stats["files_before"] == 10  # healed backup, then compacted
    assert stats["files_after"] == 1
    assert not os.path.exists(path + ".__old__")
    assert not os.path.exists(path + ".__tmp__")
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before
    shutil.rmtree(path, ignore_errors=True)


def test_versioned_table_time_travel_and_atomic_commit(spark, tmp_path):
    """Versioned parquet table (dwh_with_dask_spark/versioned.py):
    overwrite/append commits, time travel, CDC across versions via
    snapshot_diff, and crash safety — a commit interrupted before the
    pointer swap is invisible."""
    import os

    from dwh_with_dask_spark.operators.scd import snapshot_diff
    from dwh_with_dask_spark.versioned import (
        current_version,
        list_versions,
        read_version,
        versioned_commit,
    )

    t = str(tmp_path / "vt")
    v1 = versioned_commit(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "k long, s string, x double"
        ),
        t,
    )
    v2 = versioned_commit(
        spark.createDataFrame([(3, "c", 30.0)], "k long, s string, x double"),
        t,
        mode="append",
    )
    v3 = versioned_commit(
        spark.createDataFrame(
            [(1, "a", 10.0), (3, "c", 99.0)], "k long, s string, x double"
        ),
        t,
        mode="overwrite",
    )
    assert (v1, v2, v3) == (1, 2, 3) and current_version(t) == 3
    assert {r.k for r in read_version(spark, t, 1).collect()} == {1, 2}
    assert {r.k for r in read_version(spark, t, 2).collect()} == {1, 2, 3}
    assert {r.k for r in read_version(spark, t).collect()} == {1, 3}
    assert [m["version"] for m in list_versions(t)] == [1, 2, 3]

    # CDC between snapshots: v2 -> v3 deletes k=2, updates k=3
    diff = {
        (r.k, r.change_type)
        for r in snapshot_diff(
            read_version(spark, t, 2), read_version(spark, t, 3), ["k"]
        ).collect()
    }
    assert diff == {(2, "delete"), (3, "update")}

    # crash AFTER the manifest link (the commit point) but BEFORE the
    # pointer refresh: version 4 IS committed — current_version probes
    # past the stale pointer, readers see v4, nothing is lost and
    # nobody livelocks on the claimed version number (round 13:
    # claim-as-commit, the Delta log-entry-is-the-commit design)
    extra = spark.createDataFrame([(9, "z", 1.0)], "k long, s string, x double")
    extra.write.parquet(os.path.join(t, "data", "v4"), mode="append")
    with open(os.path.join(t, "_manifests", "v4.json"), "w") as f:
        f.write('{"version": 4, "mode": "overwrite", "dirs": ["data/v4"]}')
    assert current_version(t) == 4
    assert {r.k for r in read_version(spark, t).collect()} == {9}
    assert [m["version"] for m in list_versions(t)] == [1, 2, 3, 4]

    # the next commit bases on the probed version, becomes 5, and its
    # pointer refresh heals the stale cache
    v5 = versioned_commit(
        spark.createDataFrame([(7, "q", 7.0)], "k long, s string, x double"),
        t,
        mode="overwrite",
    )
    assert v5 == 5 and current_version(t) == 5
    assert {(r.k, r.s) for r in read_version(spark, t).collect()} == {(7, "q")}
    with open(os.path.join(t, "_current")) as f:
        assert f.read().strip() == "5"  # cache healed

    # crash BEFORE the manifest link: a staged data dir with no
    # manifest is invisible; the next commit cannot rmtree it (it
    # could be an in-flight winner's bytes) — it stages under a
    # writer-unique name and commits fine; vacuum reclaims the orphan
    os.makedirs(os.path.join(t, "data", "v6"))
    extra.write.parquet(os.path.join(t, "data", "v6"), mode="append")
    v6 = versioned_commit(
        spark.createDataFrame([(8, "r", 8.0)], "k long, s string, x double"),
        t,
        mode="overwrite",
    )
    assert v6 == 6 and current_version(t) == 6
    assert {(r.k, r.s) for r in read_version(spark, t).collect()} == {(8, "r")}
    from dwh_with_dask_spark.versioned import vacuum

    removed = vacuum(t)
    assert removed["removed_dirs"] >= 1  # the orphan data/v6 staging
    assert {(r.k, r.s) for r in read_version(spark, t).collect()} == {(8, "r")}


def test_versioned_concurrent_commit_detected(spark, tmp_path, monkeypatch):
    """Two interleaved committers: writer B publishes while writer A is
    between its data write and its pointer swap. A must raise
    VersionConflictError CLEANLY (before writing its manifest — a
    write-first would clobber B's manifest for the same version
    number), B's commit stays intact and readable, and a retry of A
    from the fresh current version succeeds."""
    import pytest

    from dwh_with_dask_spark import versioned as V

    t = str(tmp_path / "vt_race")
    V.versioned_commit(
        spark.createDataFrame([(1, "a")], "k long, s string"), t
    )

    real_publish = V._publish
    state = {"fired": False}

    def interleave(table, version, manifest, prev):
        if not state["fired"]:
            state["fired"] = True
            # writer B slips in a full commit between A's data write
            # and A's publish (B's nested publish takes this same
            # seam, so recurse with the flag set -> real publish)
            V.versioned_commit(
                spark.createDataFrame([(2, "b")], "k long, s string"),
                table,
                mode="append",
            )
        return real_publish(table, version, manifest, prev)

    monkeypatch.setattr(V, "_publish", interleave)
    with pytest.raises(V.VersionConflictError):
        V.versioned_commit(
            spark.createDataFrame([(3, "c")], "k long, s string"),
            t,
            mode="append",
        )
    monkeypatch.undo()
    # B won version 2; its content is intact (A wrote no manifest and
    # never moved the pointer)
    assert V.current_version(t) == 2
    assert {r.k for r in V.read_version(spark, t).collect()} == {1, 2}
    # A's retry from the fresh version number succeeds
    v3 = V.versioned_commit(
        spark.createDataFrame([(3, "c")], "k long, s string"),
        t,
        mode="append",
    )
    assert v3 == 3
    assert {r.k for r in V.read_version(spark, t).collect()} == {1, 2, 3}


def test_versioned_true_concurrent_race(spark, tmp_path):
    """REAL concurrency (VERDICT r12 ask #5): N threads race append
    commits against one table with no injected seams — a barrier
    maximizes overlap. Invariants the manifest-link claim guarantees:
    every version number has exactly one winner, losers raise
    VersionConflictError and retry, no committed row is ever lost or
    duplicated (each thread's row appears exactly once), and the
    version chain is contiguous with one manifest per version."""
    import threading as th

    from dwh_with_dask_spark import versioned as V

    t = str(tmp_path / "vt_true_race")
    V.versioned_commit(
        spark.createDataFrame([(0, "seed")], "k long, s string"), t
    )

    n_threads = 6
    barrier = th.Barrier(n_threads)
    conflicts = []
    errors = []

    def writer(i: int) -> None:
        df = spark.createDataFrame([(100 + i, f"w{i}")], "k long, s string")
        barrier.wait()
        for _ in range(40):  # retry loop: conflicts are expected
            try:
                V.versioned_commit(df, t, mode="append")
                return
            except V.VersionConflictError:
                conflicts.append(i)
        errors.append(f"writer {i} never committed")

    threads = [th.Thread(target=writer, args=(i,)) for i in range(n_threads)]
    for x in threads:
        x.start()
    for x in threads:
        x.join(timeout=300)
    assert not errors, errors

    # every thread's row exactly once, plus the seed
    rows = V.read_version(spark, t).collect()
    got = sorted(r.k for r in rows)
    assert got == [0] + [100 + i for i in range(n_threads)], got
    # contiguous version chain, one (complete) manifest per version
    cur = V.current_version(t)
    assert cur == 1 + n_threads
    versions = [m["version"] for m in V.list_versions(t)]
    assert versions == list(range(1, cur + 1))
    # losers' staged bytes are invisible: every manifest dir union ==
    # readable content, and vacuum reclaims the rest without changing
    # what readers see
    V.vacuum(t)
    got2 = sorted(r.k for r in V.read_version(spark, t).collect())
    assert got2 == got


_RACE_WORKER = r"""
import json, os, sys, time

sys.path.insert(0, {repo!r})
from dwh_with_dask_spark import versioned as V
from dwh_with_dask_spark.session import get_spark

table, tag, n_commits, go_file, out_file = (
    sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4], sys.argv[5]
)
spark = get_spark(
    app_name=f"race-{{tag}}",
    master="local[2]",
    shuffle_partitions=2,
    extra_conf={{"spark.ui.enabled": "false"}},
)
# start barrier: both processes pay their JVM spin-up BEFORE racing
while not os.path.exists(go_file):
    time.sleep(0.05)
wins = []
i = 0
while len(wins) < n_commits:
    df = spark.createDataFrame([(tag, i)], "tag string, i long")
    try:
        v = V.versioned_commit(df, table, mode="append")
        wins.append({{"version": v, "tag": tag, "i": i}})
        i += 1
    except V.VersionConflictError:
        pass  # raced out: retry the SAME row from the new version
with open(out_file, "w") as f:
    json.dump(wins, f)
spark.stop()
"""


def test_versioned_two_process_commit_race(spark, tmp_path):
    """TRUE two-process race (VERDICT r13 ask #5): two separate Python
    processes — separate JVMs, separate os module state, nothing shared
    but the filesystem — each land 12 append commits against one table
    with retry-on-conflict (24 raced version numbers total, N >= 20).
    The claim-as-commit protocol (atomic mkdir staging claim + os.link
    manifest CAS) must give every version number exactly one winner,
    lose no committed row, duplicate none, and leave no orphaned bytes
    visible to readers."""
    import json
    import os
    import subprocess
    import sys

    from dwh_with_dask_spark import versioned as V

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    t = str(tmp_path / "vt_2proc")
    V.versioned_commit(
        spark.createDataFrame([("seed", -1)], "tag string, i long"), t
    )

    script = tmp_path / "race_worker.py"
    script.write_text(_RACE_WORKER.format(repo=repo))
    go = tmp_path / "go"
    outs = [tmp_path / "a.json", tmp_path / "b.json"]
    n_each = 12
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), t, tag, str(n_each), str(go), str(out)],
            cwd=repo,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
        )
        for tag, out in zip("ab", outs)
    ]
    go.write_text("go")
    errs = [p.communicate(timeout=600)[1] for p in procs]
    assert all(p.returncode == 0 for p in procs), [
        e.decode()[-2000:] for e in errs
    ]

    wins = [json.loads(o.read_text()) for o in outs]
    assert all(len(w) == n_each for w in wins)
    # exactly one winner per version: the union of claimed versions is
    # exactly 2..(1 + 2*n_each), no number claimed twice
    claimed = sorted(w["version"] for ws in wins for w in ws)
    assert claimed == list(range(2, 2 + 2 * n_each)), claimed
    # the manifest chain agrees and is contiguous
    assert V.current_version(t) == 1 + 2 * n_each
    versions = [m["version"] for m in V.list_versions(t)]
    assert versions == list(range(1, 2 + 2 * n_each))
    # no lost/duplicated rows, no orphaned bytes visible: the readable
    # content is the seed plus each process's 12 rows, exactly once
    rows = sorted(
        (r.tag, r.i) for r in V.read_version(spark, t).collect()
    )
    want = sorted(
        [("seed", -1)]
        + [(tag, i) for tag in "ab" for i in range(n_each)]
    )
    assert rows == want
    # vacuum reclaims losers' staged dirs without changing content
    V.vacuum(t)
    rows2 = sorted(
        (r.tag, r.i) for r in V.read_version(spark, t).collect()
    )
    assert rows2 == want


def test_versioned_commit_sink_and_vacuum(spark, tmp_path):
    """Streaming leg of the versioned table: each micro-batch commits a
    version atomically; vacuum removes crash orphans but never a
    committed version's data."""
    import os

    from dwh_with_dask_spark.versioned import (
        current_version,
        read_version,
        vacuum,
        versioned_commit_sink,
    )

    src = str(tmp_path / "vsrc")
    t = str(tmp_path / "vtab")
    a = spark.createDataFrame([(1, "x")], "k long, s string")
    b = spark.createDataFrame([(2, "y")], "k long, s string")
    a.coalesce(1).write.parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("k long, s string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(versioned_commit_sink(t))
        .option("checkpointLocation", f"{tmp_path}/ckpt_v")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    assert current_version(t) == 2
    assert {r.k for r in read_version(spark, t).collect()} == {1, 2}
    assert {r.k for r in read_version(spark, t, 1).collect()} in ({1}, {2})

    # orphan a crash leftover, then vacuum: orphan gone, versions intact
    spark.createDataFrame([(9, "z")], "k long, s string").write.parquet(
        os.path.join(t, "data", "v99")
    )
    stats = vacuum(t)
    assert stats["removed_dirs"] == 1
    assert not os.path.exists(os.path.join(t, "data", "v99"))
    assert {r.k for r in read_version(spark, t).collect()} == {1, 2}
    assert {r.k for r in read_version(spark, t, 1).collect()} in ({1}, {2})


def test_optimize_versioned_compacts_without_crash_window(spark, tmp_path):
    """optimize_versioned: append fragments collapse into one new
    VERSION (atomic pointer publish — no directory swap window), rows
    byte-identical, prior versions still time-travelable, and a crash
    before the pointer swap leaves the table fully intact."""
    import os

    from dwh_with_dask_spark.versioned import (
        current_version,
        optimize_versioned,
        read_version,
        vacuum,
        versioned_commit,
    )

    t = str(tmp_path / "opt")
    for i in range(6):  # 6 append commits x 4 files = 24 fragments
        versioned_commit(
            spark.range(i * 100, (i + 1) * 100)
            .selectExpr("id", "id % 7 AS k")
            .repartition(4),
            t,
            mode="append" if i else "overwrite",
        )
    before = sorted(
        map(tuple, read_version(spark, t).collect())
    )
    stats = optimize_versioned(spark, t, target_file_mb=128)
    assert stats["version"] == 7
    assert stats["files_before"] == 24
    assert stats["files_after"] == stats["target_files"] == 1
    assert sorted(map(tuple, read_version(spark, t).collect())) == before
    # prior versions untouched: version 3 still reads rows 0..299
    assert read_version(spark, t, 3).count() == 300
    # sorted optimize clusters and stays row-identical
    optimize_versioned(spark, t, target_file_mb=128, order_by=["id"])
    assert sorted(map(tuple, read_version(spark, t).collect())) == before
    # vacuum after optimize is still conservative (all versions live)
    assert vacuum(t)["removed_dirs"] == 0
    assert current_version(t) == 8


def test_versioned_manifest_stats_prune_dirs(spark, tmp_path):
    """Manifest min/max stats = the versioned table's data-skipping
    layer: time-ordered append commits store per-dir ranges; a pruned
    read lists ONLY overlapping directories (asserted on the dir list
    AND on inputFiles), never drops a matching row, keeps dirs without
    stats conservatively, and append commits carry prior stats forward."""
    import datetime as _dt

    from dwh_with_dask_spark.versioned import (
        manifest_dirs,
        read_version,
        versioned_commit,
    )

    T = _dt.datetime
    t = str(tmp_path / "vstats")
    for i in range(4):  # day-ordered appends: ids [i*100, i*100+99]
        versioned_commit(
            spark.createDataFrame(
                [
                    (i * 100 + j, T(2024, 1, i + 1, 12), f"r{i}")
                    for j in range(100)
                ],
                "id long, ts timestamp, s string",
            ).coalesce(1),
            t,
            mode="append" if i else "overwrite",
            stats_cols=["id", "ts"],
        )
    assert len(manifest_dirs(t)) == 4
    # numeric prune: ids 150..160 live only in dir 2
    pruned = manifest_dirs(t, prune={"id": (150, 160)})
    assert pruned == ["data/v2"]
    df = read_version(spark, t, prune={"id": (150, 160)})
    assert len(df.inputFiles()) == 1
    got = sorted(
        r.id for r in df.filter("id BETWEEN 150 AND 160").collect()
    )
    assert got == list(range(150, 161))  # pruning never drops a match
    # temporal prune via ISO-string ordering; unbounded side
    p2 = manifest_dirs(t, prune={"ts": (T(2024, 1, 3), None)})
    assert set(p2) == {"data/v3", "data/v4"}
    # disjoint prune -> empty table, schema intact
    none_match = read_version(spark, t, prune={"id": (100000, 200000)})
    assert none_match.count() == 0
    assert set(none_match.columns) == {"id", "ts", "s"}

    # a legacy commit WITHOUT stats is conservatively kept by any prune
    versioned_commit(
        spark.createDataFrame([(9999, T(2030, 1, 1), "x")],
                              "id long, ts timestamp, s string"),
        t,
        mode="append",
    )
    pruned5 = manifest_dirs(t, prune={"id": (150, 160)})
    assert set(pruned5) == {"data/v2", "data/v5"}
    assert read_version(spark, t, prune={"id": (100000, 200000)}).count() == 1


def test_versioned_prune_temporal_bound_normalization(spark, tmp_path):
    """ADVICE r8 (medium): a DATE bound against stored TIMESTAMP stats
    must not prune the midnight rows — '2024-01-03' compared raw against
    '2024-01-03 00:00:00' sorts lexicographically BELOW it and dropped
    the dir. Bounds are now widened to full-day intervals; 'T'-separated
    ISO strings normalize; cross-type bounds raise instead of silently
    mispruning."""
    import datetime as _dt

    import pytest

    from dwh_with_dask_spark.versioned import (
        manifest_dirs,
        read_version,
        versioned_commit,
    )

    T = _dt.datetime
    t = str(tmp_path / "vtemporal")
    # dir 1: all of Jan 2 (timestamps); dir 2: exactly midnight Jan 3;
    # dir 3: later on Jan 3
    batches = [
        [(1, T(2024, 1, 2, 8)), (2, T(2024, 1, 2, 23, 59))],
        [(3, T(2024, 1, 3, 0, 0, 0))],
        [(4, T(2024, 1, 3, 15, 30))],
    ]
    for i, rows in enumerate(batches):
        versioned_commit(
            spark.createDataFrame(rows, "id long, ts timestamp").coalesce(1),
            t,
            mode="append" if i else "overwrite",
            stats_cols=["ts"],
        )
    # hi = DATE: the midnight-of-that-day dir MUST survive (the bug:
    # dlo '2024-01-03 00:00:00' > qhi '2024-01-03' pruned data/v2)
    kept = manifest_dirs(t, prune={"ts": (None, _dt.date(2024, 1, 3))})
    assert "data/v2" in kept and "data/v1" in kept
    df = read_version(spark, t, prune={"ts": (None, _dt.date(2024, 1, 3))})
    assert sorted(
        r.id for r in df.filter("ts <= DATE'2024-01-03'").collect()
    ) == [1, 2, 3]
    # lo = DATE: midnight rows are >= the date per Spark's cast — kept
    kept_lo = manifest_dirs(t, prune={"ts": (_dt.date(2024, 1, 3), None)})
    assert set(kept_lo) == {"data/v2", "data/v3"}
    # 'T'-separated ISO string bound normalizes ('T' > ' ' would
    # otherwise misorder against the stored space-separated stats)
    kept_iso = manifest_dirs(t, prune={"ts": ("2024-01-03T00:00:00", None)})
    assert set(kept_iso) == {"data/v2", "data/v3"}
    # datetime bound exact behavior unchanged
    kept_dt = manifest_dirs(t, prune={"ts": (None, T(2024, 1, 2, 23, 59))})
    assert kept_dt == ["data/v1"]
    # cross-type bound fails loudly, not silently
    with pytest.raises(TypeError, match="string/temporal stats"):
        manifest_dirs(t, prune={"ts": (None, 42)})

    # DATE-typed stats probed with datetime bounds: stored bare dates
    # widen to full-day intervals, so an intra-day timestamp bound
    # keeps that day's dir
    t2 = str(tmp_path / "vdate")
    versioned_commit(
        spark.createDataFrame(
            [(1, _dt.date(2024, 1, 2))], "id long, d date"
        ).coalesce(1),
        t2,
        stats_cols=["d"],
    )
    assert manifest_dirs(
        t2, prune={"d": (T(2024, 1, 2, 12), T(2024, 1, 2, 13))}
    ) == ["data/v1"]
    assert manifest_dirs(t2, prune={"d": (T(2024, 1, 3, 0, 0, 1), None)}) == []


def test_versioned_prune_orders_query_skips_dirs(spark):
    """The versioned_prune_orders driver query's pruning claim, pinned
    on inputFiles: the cached 4-batch date-ordered table prunes to
    exactly ONE directory for the 2000+ bound (read_version prunes at
    the PATH level, so inputFiles reflects it), and the pruned+filtered
    aggregate equals the unpruned one."""
    import datetime as _dt

    from tests.conftest import SF_SMOKE

    from dwh_with_dask_spark.plans.warehouse import _versioned_orders_table
    from dwh_with_dask_spark.versioned import manifest_dirs, read_version

    t = _versioned_orders_table(spark, SF_SMOKE)
    all_dirs = manifest_dirs(t)
    assert len(all_dirs) == 4
    pruned = manifest_dirs(
        t, prune={"o_orderdate": (_dt.date(2000, 1, 1), None)}
    )
    assert len(pruned) == 1
    df = read_version(
        spark, t, prune={"o_orderdate": (_dt.date(2000, 1, 1), None)}
    )
    files = df.inputFiles()
    assert files
    assert all(pruned[0] in f for f in files)  # only the matching dir
    flt = "o_orderdate >= DATE'2000-01-01'"
    got = df.filter(flt).count()
    want = read_version(spark, t).filter(flt).count()
    assert got == want > 0


def test_optimize_versioned_zorder_clusters_both_dims(spark, tmp_path):
    """optimize_versioned(zorder_by=...): the Morton-interleaved rewrite
    gives bounded min/max ranges on BOTH dimensions in every output
    file — with stats_cols over the same dims, a prune on EITHER
    column drops most directories' worth of rows... here files, since
    the rewrite is one version: assert per-file range containment via
    parquet footers, rows byte-identical, order_by+zorder_by mutually
    exclusive."""
    import pytest
    from pyspark.sql import functions as F

    from dwh_with_dask_spark.versioned import (
        optimize_versioned,
        read_version,
        versioned_commit,
    )

    # 2-D grid shuffled across many fragments: neither dim is sorted
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long").withColumn(
        "__shuffle", F.xxhash64("x", "y")
    ).orderBy("__shuffle").drop("__shuffle").repartition(8)
    t = str(tmp_path / "zt")
    versioned_commit(df, t)
    with pytest.raises(ValueError, match="mutually exclusive"):
        optimize_versioned(
            spark, t, order_by=["x"], zorder_by=[F.col("x"), F.col("y")]
        )
    before = sorted(map(tuple, read_version(spark, t).collect()))
    res = optimize_versioned(
        spark,
        t,
        target_file_mb=1,  # force multiple output files on tiny data
        zorder_by=[F.col("x"), F.col("y")],
        zorder_bits=6,
        stats_cols=["x", "y"],
    )
    assert sorted(map(tuple, read_version(spark, t).collect())) == before
    # per-file min/max spans on both dims must be narrow: for a Morton
    # layout over a 64x64 grid split into k files, each file's x and y
    # ranges are O(side/sqrt(k)), far below the full 0..63 span that a
    # 1-D sort leaves on its secondary column
    import pyarrow.parquet as pq

    files = read_version(spark, t).inputFiles()
    if len(files) > 1:
        for f in files:
            md = pq.ParquetFile(f.replace("file:", "")).metadata
            spans = {"x": [], "y": []}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in spans:
                        st = col.statistics
                        spans[name].append((st.min, st.max))
            for dim in ("x", "y"):
                lo = min(s[0] for s in spans[dim])
                hi = max(s[1] for s in spans[dim])
                assert hi - lo < 64 - 1, (f, dim, lo, hi)


def test_versioned_prune_plain_string_stats_not_sniffed(spark, tmp_path):
    """Round-9 review: a plain STRING column whose min happens to look
    like a date (free-text max) must keep the raw lexicographic prune
    semantics — no widening, no TypeError."""
    from dwh_with_dask_spark.versioned import manifest_dirs, versioned_commit

    t = str(tmp_path / "vstr")
    versioned_commit(
        spark.createDataFrame(
            [(1, "2024-01-01 meeting notes"), (2, "zebra report")],
            "id long, title string",
        ).coalesce(1),
        t,
        stats_cols=["title"],
    )
    # stats: min='2024-01-01 meeting notes' (temporal-shaped? no — the
    # suffix breaks the pattern only if regex anchors... assert behavior:
    # lexicographic bounds work and nothing raises
    assert manifest_dirs(t, prune={"title": ("a", None)}) == ["data/v1"]
    assert manifest_dirs(t, prune={"title": (None, "1")}) == []
    # a genuinely date-shaped min with free-text max: still plain strings
    t2 = str(tmp_path / "vstr2")
    versioned_commit(
        spark.createDataFrame(
            [(1, "2024-01-03"), (2, "zebra")], "id long, title string"
        ).coalesce(1),
        t2,
        stats_cols=["title"],
    )
    # raw lexicographic: dir max 'zebra' >= '2024-01-03' -> kept; no
    # widening is applied because not every value is temporal-shaped
    assert manifest_dirs(t2, prune={"title": ("2024-01-03", None)}) == [
        "data/v1"
    ]
    assert manifest_dirs(t2, prune={"title": (None, "0")}) == []


def test_versioned_member_prune_point_lookup(spark, tmp_path):
    """member_cols + prune_eq: a point lookup prunes dirs whose
    membership set excludes the value — including values INSIDE a
    dir's min/max range (the case range stats cannot prune); dirs
    without members are kept conservatively; NULL probes raise."""
    import pytest

    from dwh_with_dask_spark.versioned import (
        manifest_dirs,
        read_version,
        versioned_commit,
    )

    t = str(tmp_path / "vmem")
    batches = [["a", "m"], ["h", "z"], ["q"]]  # 'h' inside [a, m]'s range
    for i, vals in enumerate(batches):
        versioned_commit(
            spark.createDataFrame(
                [(i * 10 + j, v) for j, v in enumerate(vals)],
                "id long, k string",
            ).coalesce(1),
            t,
            mode="append" if i else "overwrite",
            member_cols=["k"],
        )
    pruned = manifest_dirs(t, prune_eq={"k": "h"})
    assert pruned == ["data/v2"]
    df = read_version(spark, t, prune_eq={"k": "h"})
    assert all("data/v2" in f for f in df.inputFiles())
    assert [r.id for r in df.filter("k = 'h'").collect()] == [10]
    # a value present nowhere prunes everything (modulo crc32 position
    # collisions, deterministic for this fixture)
    assert read_version(spark, t, prune_eq={"k": "nope"}).count() == 0
    with pytest.raises(ValueError, match="prune_eq"):
        manifest_dirs(t, prune_eq={"k": None})
    # a legacy commit WITHOUT members is conservatively kept
    versioned_commit(
        spark.createDataFrame([(99, "x")], "id long, k string"),
        t,
        mode="append",
    )
    assert set(manifest_dirs(t, prune_eq={"k": "h"})) == {
        "data/v2", "data/v4",
    }
    # composes with range pruning: stats + members in one read
    t2 = str(tmp_path / "vmem2")
    versioned_commit(
        spark.createDataFrame([(1, "a"), (2, "m")], "id long, k string"),
        t2,
        stats_cols=["id"],
        member_cols=["k"],
    )
    assert manifest_dirs(
        t2, prune={"id": (1, 2)}, prune_eq={"k": "a"}
    ) == ["data/v1"]
    assert manifest_dirs(t2, prune={"id": (5, 9)}, prune_eq={"k": "a"}) == []


def test_member_prune_type_matrix(spark, tmp_path):
    """The prune_eq representation contract (VERDICT r9 ask #3 /
    ADVICE r9): the stored position set hashes Spark's cast-to-string
    rendering while the probe hashes Python str(val) — the two provably
    agree ONLY for int and str. The matrix: int and str probes must
    find their directory (probe position == stored position, a wrongly
    pruned dir being the one forbidden failure mode); float / Decimal /
    date / bool probes raise; committing a membership index on a
    non-int/str column raises at COMMIT time."""
    import datetime
    import decimal

    import pytest

    from dwh_with_dask_spark.versioned import (
        manifest_dirs,
        read_version,
        versioned_commit,
    )

    t = str(tmp_path / "vtypes")
    rows = [
        (7, "alpha"),
        (1234567890123, "UPPER lower 42"),
        (-5, ""),  # negative int, empty string
        (0, "unicode-é✓"),
    ]
    versioned_commit(
        spark.createDataFrame(rows, "ik long, sk string").coalesce(1),
        t,
        member_cols=["ik", "sk"],
    )
    # decoy dir so pruning is observable
    versioned_commit(
        spark.createDataFrame([(999, "other")], "ik long, sk string"),
        t,
        mode="append",
        member_cols=["ik", "sk"],
    )
    # every committed int/str value probes back to ITS dir — kept,
    # never wrongly dropped
    for ik, sk in rows:
        assert "data/v1" in manifest_dirs(t, prune_eq={"ik": ik})
        assert "data/v1" in manifest_dirs(t, prune_eq={"sk": sk})
        got = read_version(spark, t, prune_eq={"ik": ik}).filter(
            F.col("ik") == ik
        )
        assert got.count() == 1
    # non-int/str probe values raise instead of risking a silent
    # mis-prune (bool is an int subclass — must still raise)
    for bad in [1.5, decimal.Decimal("5.00"), datetime.date(2024, 1, 3),
                datetime.datetime(2024, 1, 3), True]:
        with pytest.raises(TypeError, match="int or str"):
            manifest_dirs(t, prune_eq={"ik": bad})
    # non-int/str COLUMNS are rejected when the index is built
    t2 = str(tmp_path / "vtypes2")
    bad_df = spark.createDataFrame(
        [(1.5, decimal.Decimal("1.50"), datetime.date(2024, 1, 3), True)],
        "d double, dec decimal(10,2), dt date, b boolean",
    )
    for col in ["d", "dec", "dt", "b"]:
        with pytest.raises(TypeError, match="integral or string"):
            versioned_commit(bad_df, t2, member_cols=[col])


def test_versioned_check_constraints(spark, tmp_path):
    """Delta-style CHECK constraints on versioned tables: persisted in
    the manifest and re-enforced on every later commit without
    re-passing them; violations are counted in the same evaluation
    that writes the rows (ADVICE r10: validating the incoming plan in a
    second action evaluates it twice, and a nondeterministic frame
    could pass validation yet persist violating rows); violations
    delete the staged dir and raise (table stays at its prior version,
    readable); NULL passes (ANSI CHECK); None drops a constraint."""
    import pytest

    from dwh_with_dask_spark.versioned import (
        list_versions,
        read_version,
        versioned_commit,
    )

    t = str(tmp_path / "vchk")
    ok1 = spark.createDataFrame(
        [(1, 10.0), (2, None)], "id long, amount double"
    )
    # NULL amount passes the check (ANSI semantics)
    v1 = versioned_commit(
        ok1, t, expect={"amount_nonneg": "amount >= 0", "id_pos": "id > 0"}
    )
    assert v1 == 1
    assert list_versions(t)[-1]["constraints"] == {
        "amount_nonneg": "amount >= 0",
        "id_pos": "id > 0",
    }

    # inherited enforcement: the violating append names the constraint
    # and the count, and commits NOTHING
    bad = spark.createDataFrame(
        [(3, -5.0), (4, 1.0), (-9, -1.0)], "id long, amount double"
    )
    with pytest.raises(ValueError, match="amount_nonneg: 2 row"):
        versioned_commit(bad, t, mode="append")
    assert len(list_versions(t)) == 1
    assert read_version(spark, t).count() == 2
    import os

    assert not os.path.exists(os.path.join(t, "data", "v2"))

    # clean append under the inherited constraints
    v2 = versioned_commit(
        spark.createDataFrame([(5, 2.5)], "id long, amount double"),
        t,
        mode="append",
    )
    assert v2 == 2 and read_version(spark, t).count() == 3
    # constraints carry forward in the new manifest
    assert "amount_nonneg" in list_versions(t)[-1]["constraints"]

    # drop one, tighten another
    v3 = versioned_commit(
        spark.createDataFrame([(6, -1.0)], "id long, amount double"),
        t,
        mode="append",
        expect={"amount_nonneg": None},
    )
    assert v3 == 3
    assert "amount_nonneg" not in list_versions(t)[-1]["constraints"]
    with pytest.raises(ValueError, match="id_pos: 1 row"):
        versioned_commit(
            spark.createDataFrame([(0, 1.0)], "id long, amount double"),
            t,
            mode="append",
        )

    # NONDETERMINISTIC frame: the rows validated are the rows written
    # (one evaluation feeds both the write and the check), so a
    # rand-bearing plan cannot sneak violating rows past a
    # separately-evaluated check — the commit must reject and leave no
    # staged bytes
    from pyspark.sql import functions as F

    nd = spark.range(200).select(
        (F.col("id") + 1).alias("id"),
        (F.rand() - F.lit(0.5)).alias("amount"),
    )
    t2 = str(tmp_path / "vchk_nd")
    with pytest.raises(ValueError, match="amount_nonneg"):
        versioned_commit(
            nd, t2, expect={"amount_nonneg": "amount >= 0"}
        )
    assert not os.path.exists(os.path.join(t2, "data", "v1"))


def _assert_manifest_describes_bytes(spark, t):
    """The current manifest's stats, member positions and row count for
    its newest dir equal a Spark re-read of that dir, and deep fsck is
    clean."""
    import json
    import os

    from dwh_with_dask_spark.versioned import (
        MEMBER_BITS,
        _json_stat,
        _manifest_path,
        current_version,
        fsck,
    )

    with open(_manifest_path(t, current_version(t))) as f:
        m = json.load(f)
    d = m["dirs"][-1]
    back = spark.read.parquet(os.path.join(t, d))
    cols = list(m["stats"][d])
    row = back.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).first()
    assert m["integrity"][d]["rows"] == row["n"] > 0
    assert m["stats"][d] == {
        c: [_json_stat(row[f"lo_{c}"]), _json_stat(row[f"hi_{c}"])]
        for c in cols
    }
    for c, got in m["members"][d].items():
        pos = back.select(
            F.pmod(
                F.crc32(F.encode(F.col(c).cast("string"), "UTF-8")),
                F.lit(MEMBER_BITS),
            ).alias("p")
        ).distinct().collect()
        assert got == sorted(r.p for r in pos if r.p is not None)
    rep = fsck(t, deep=True)
    assert rep["ok"], rep["errors"]


def test_versioned_metrics_come_from_the_write(spark, tmp_path):
    """Manifest stats, member positions and row counts describe the
    bytes written, even for a plan that draws new random values on
    every evaluation: metrics computed by a separate action would miss
    the re-read's min/max. Covers a commit (with a constraint the frame
    passes) and a merge whose source is randomly redrawn."""
    import random

    from dwh_with_dask_spark.versioned import versioned_commit, versioned_merge

    # F.rand() is seeded when its Column is built, so re-running a plan
    # reproduces its values; a nondeterministic UDF over Python's
    # unseeded ``random`` redraws them on every evaluation
    draw = F.udf(lambda: random.random(), "double").asNondeterministic()

    def frame(lo, hi):
        return spark.range(lo, hi, 1, 4).select(
            F.col("id"),
            (draw() * 1000).alias("x"),
            F.timestamp_seconds((draw() * 1e9).cast("long")).alias("ts"),
            F.date_add(
                F.lit("2024-01-01").cast("date"), (draw() * 365).cast("int")
            ).alias("d"),
            (draw() * 1e6).cast("long").cast("string").alias("tag"),
        )

    t = str(tmp_path / "vobs")
    versioned_commit(
        frame(0, 400), t, stats_cols=["x", "ts", "d"], member_cols=["tag"],
        expect={"x_nonneg": "x >= 0"},
    )
    _assert_manifest_describes_bytes(spark, t)
    versioned_merge(spark, t, frame(200, 600), ["id"])
    _assert_manifest_describes_bytes(spark, t)


def test_versioned_empty_batches(spark, tmp_path):
    """Degenerate batches: a 0-row commit records all-NULL stats, empty
    member sets and a 0-row integrity record; a delete that empties its
    affected dirs drops them from the manifest; a merge with an empty
    source publishes a version with the same dirs."""
    import json

    from dwh_with_dask_spark.versioned import (
        _manifest_path,
        fsck,
        read_version,
        versioned_commit,
        versioned_delete,
        versioned_merge,
    )

    def manifest(t, v):
        with open(_manifest_path(t, v)) as f:
            return json.load(f)

    schema = "k long, p string, d date"
    t = str(tmp_path / "empty_commit")
    assert versioned_commit(
        spark.createDataFrame([], schema), t, stats_cols=["k", "d"],
        member_cols=["p"], expect={"kpos": "k > 0"},
    ) == 1
    m = manifest(t, 1)
    assert m["dirs"] == ["data/v1"]
    assert m["stats"] == {"data/v1": {"k": [None, None], "d": [None, None]}}
    assert m["members"] == {"data/v1": {"p": []}}
    assert m["integrity"]["data/v1"]["rows"] == 0
    assert m["constraints"] == {"kpos": "k > 0"}
    assert read_version(spark, t).count() == 0

    t = str(tmp_path / "empty_delete")
    rows = spark.createDataFrame(
        [(1, "x", None), (2, "y", None)], schema
    )
    versioned_commit(rows, t, stats_cols=["k"], member_cols=["p"])
    versioned_commit(
        spark.createDataFrame([(3, "z", None)], schema), t, mode="append",
        stats_cols=["k"], member_cols=["p"],
    )
    assert versioned_delete(spark, t, "k <= 2") == {
        "version": 3, "dirs_kept": 1, "dirs_rewritten": 1, "rows_deleted": 2,
    }
    m = manifest(t, 3)
    assert m["dirs"] == ["data/v2"]
    assert set(m["stats"]) == set(m["members"]) == set(m["integrity"]) == {
        "data/v2"
    }
    assert versioned_delete(spark, t, "k >= 0") == {
        "version": 4, "dirs_kept": 0, "dirs_rewritten": 1, "rows_deleted": 1,
    }
    m = manifest(t, 4)
    assert m["dirs"] == [] and m["integrity"] == {}
    assert "stats" not in m and "members" not in m
    assert read_version(spark, t).count() == 0
    assert fsck(t, deep=True)["ok"]

    t = str(tmp_path / "empty_merge")
    versioned_commit(
        rows, t, stats_cols=["k"], member_cols=["p"], expect={"kpos": "k > 0"}
    )
    assert versioned_merge(
        spark, t, spark.createDataFrame([], schema), ["k"]
    ) == {
        "version": 2, "dirs_kept": 1, "dirs_rewritten": 0, "dirs_added": 0,
        "rows_written": 0,
    }
    m1, m2 = manifest(t, 1), manifest(t, 2)
    assert m2["dirs"] == ["data/v1"]
    for key in ("stats", "members", "integrity", "constraints"):
        assert m2[key] == m1[key]
    assert read_version(spark, t).count() == 2


def test_schema_evolution_contract(spark, tmp_path):
    """Delta-style schema evolution on versioned tables: enforcement by
    default, widening under merge_schema=True, NULL-fill both ways,
    per-version schema on time travel, type changes never admitted."""
    import pytest as _pytest

    from dwh_with_dask_spark.versioned import (
        SchemaEvolutionError,
        read_version,
        versioned_commit,
    )

    t = str(tmp_path / "evo")
    v1_rows = [(1, 10.0), (2, 20.0)]
    versioned_commit(
        spark.createDataFrame(v1_rows, "k int, price double"), t
    )

    added = spark.createDataFrame(
        [(3, 30.0, "x")], "k int, price double, note string"
    )
    # divergent append rejected before staging...
    with _pytest.raises(SchemaEvolutionError, match="merge_schema"):
        versioned_commit(added, t, mode="append")
    assert read_version(spark, t).count() == 2  # table untouched
    # ...admitted under merge_schema: old rows NULL in the new column
    versioned_commit(added, t, mode="append", merge_schema=True)
    cur = read_version(spark, t)
    assert cur.columns == ["k", "price", "note"]
    got = {r.k: (r.price, r.note) for r in cur.collect()}
    assert got == {1: (10.0, None), 2: (20.0, None), 3: (30.0, "x")}
    # time travel reads v1 under ITS schema
    assert read_version(spark, t, version=1).columns == ["k", "price"]

    # absent column admitted only under merge_schema; new dir reads NULL
    absent = spark.createDataFrame([(4,)], "k int")
    with _pytest.raises(SchemaEvolutionError, match="absent"):
        versioned_commit(absent, t, mode="append")
    versioned_commit(absent, t, mode="append", merge_schema=True)
    got = {r.k: (r.price, r.note) for r in read_version(spark, t).collect()}
    assert got[4] == (None, None) and len(got) == 4

    # a type change is never admitted, merge_schema or not
    retyped = spark.createDataFrame(
        [(5, "not-a-double")], "k int, price string"
    )
    for ms in (False, True):
        with _pytest.raises(SchemaEvolutionError, match="type change"):
            versioned_commit(retyped, t, mode="append", merge_schema=ms)

    # overwrite records its own schema freely
    versioned_commit(
        spark.createDataFrame([(9, "s")], "k int, label string"), t
    )
    assert read_version(spark, t).columns == ["k", "label"]
    # and the evolved version's schema is still what IT recorded
    assert read_version(spark, t, version=3).columns == ["k", "price", "note"]


def test_schema_evolution_legacy_manifest_reads(spark, tmp_path):
    """Manifests written before the schema field existed (no 'schema'
    key) keep the old sample-footer read path."""
    import json
    import os

    from dwh_with_dask_spark.versioned import read_version, versioned_commit

    t = str(tmp_path / "legacy")
    versioned_commit(spark.createDataFrame([(1, "a")], "k int, v string"), t)
    mp = os.path.join(t, "_manifests", "v1.json")
    with open(mp) as f:
        m = json.load(f)
    m.pop("schema")
    with open(mp, "w") as f:
        json.dump(m, f)
    assert {r.k for r in read_version(spark, t).collect()} == {1}


def test_versioned_delete_dir_granular_cow(spark, tmp_path):
    """DELETE rewrites only directories containing matching rows; the
    rest carry forward BY REFERENCE (same dir names in the new
    manifest), time travel still reads the pre-delete version, and the
    rewritten dir's stats/membership indexes are recomputed."""
    import json
    import os

    from dwh_with_dask_spark.versioned import (
        read_version,
        versioned_commit,
        versioned_delete,
    )

    t = str(tmp_path / "del")
    for i, rows in enumerate([[(1, "a"), (2, "b")], [(3, "c"), (4, "d")],
                              [(5, "e"), (6, "f")]]):
        versioned_commit(
            spark.createDataFrame(rows, "k int, v string"), t,
            mode="append" if i else "overwrite",
            stats_cols=["k"], member_cols=["v"],
        )

    r = versioned_delete(spark, t, "k = 3")
    assert r == {"version": 4, "dirs_kept": 2, "dirs_rewritten": 1,
                 "rows_deleted": 1}
    got = sorted((x.k, x.v) for x in read_version(spark, t).collect())
    assert got == [(1, "a"), (2, "b"), (4, "d"), (5, "e"), (6, "f")]
    # pre-delete version intact (time travel)
    assert sorted(
        x.k for x in read_version(spark, t, version=3).collect()
    ) == [1, 2, 3, 4, 5, 6]
    # untouched dirs carried by reference; rewritten dir re-indexed
    with open(os.path.join(t, "_manifests", "v4.json")) as f:
        m = json.load(f)
    assert m["dirs"][:2] == ["data/v1", "data/v3"]
    assert m["stats"]["data/v4"]["k"] == [4, 4]
    assert "data/v2" not in m["stats"] and "data/v2" not in m["members"]
    # stats pruning still sound after the rewrite
    pruned = read_version(spark, t, prune={"k": (5, None)})
    assert sorted(x.k for x in pruned.collect()) == [5, 6]

    # no-match delete publishes nothing
    r = versioned_delete(spark, t, "k = 999")
    assert r["dirs_rewritten"] == 0 and r["version"] == 4


def test_versioned_update_and_delete_all(spark, tmp_path):
    """UPDATE reassigns only predicate rows (dir-granular like delete),
    rejects type-changing assignments; a delete that empties the table
    still reads back as an empty frame under the recorded schema."""
    import pytest as _pytest

    from dwh_with_dask_spark.versioned import (
        SchemaEvolutionError,
        read_version,
        versioned_commit,
        versioned_delete,
        versioned_update,
    )

    t = str(tmp_path / "upd")
    versioned_commit(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), t)
    versioned_commit(
        spark.createDataFrame([(5, "e"), (6, "f")], "k int, v string"),
        t, mode="append",
    )
    r = versioned_update(spark, t, "k >= 5", {"v": "upper(v)"})
    assert r["dirs_rewritten"] == 1 and r["rows_updated"] == 2
    got = sorted((x.k, x.v) for x in read_version(spark, t).collect())
    assert got == [(1, "a"), (2, "b"), (5, "E"), (6, "F")]
    with _pytest.raises(SchemaEvolutionError, match="type"):
        versioned_update(spark, t, "k = 1", {"v": "length(v)"})

    r = versioned_delete(spark, t, "true")
    assert r["rows_deleted"] == 4
    empty = read_version(spark, t)
    assert empty.count() == 0 and empty.columns == ["k", "v"]
    # and history is still all there
    assert read_version(spark, t, version=2).count() == 4


def test_versioned_merge_dir_granular(spark, tmp_path):
    """MERGE rewrites only dirs containing source keys; updates land in
    place, unmatched source rows insert into the rewritten dir, kept
    dirs carry by reference, stats recompute over updates+inserts, and
    a schema-diverging source is rejected."""
    import json
    import os

    import pytest as _pytest

    from dwh_with_dask_spark.versioned import (
        SchemaEvolutionError,
        read_version,
        versioned_commit,
        versioned_merge,
    )

    t = str(tmp_path / "mrg")
    versioned_commit(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "k int, v string, p double"
        ),
        t, stats_cols=["k"],
    )
    versioned_commit(
        spark.createDataFrame(
            [(5, "e", 50.0), (6, "f", 60.0)], "k int, v string, p double"
        ),
        t, mode="append", stats_cols=["k"],
    )
    src = spark.createDataFrame(
        [(5, "E2", 55.0), (9, "i", 90.0)], "k int, v string, p double"
    )
    rep = versioned_merge(spark, t, src, ["k"], prune={"k": (5, 9)})
    assert rep == {"version": 3, "dirs_kept": 1, "dirs_rewritten": 1,
                   "dirs_added": 1, "rows_written": 3}
    got = sorted((x.k, x.v, x.p) for x in read_version(spark, t).collect())
    assert got == [(1, "a", 10.0), (2, "b", 20.0), (5, "E2", 55.0),
                   (6, "f", 60.0), (9, "i", 90.0)]
    with open(os.path.join(t, "_manifests", "v3.json")) as f:
        m = json.load(f)
    assert m["dirs"] == ["data/v1", "data/v3"]
    assert m["stats"]["data/v3"]["k"] == [5, 9]
    # pre-merge version intact
    assert sorted(
        x.k for x in read_version(spark, t, version=2).collect()
    ) == [1, 2, 5, 6]
    # a type-changing source is rejected (extra source columns are
    # simply ignored by merge_into's target alignment — by design)
    bad = spark.createDataFrame([(5, "x", "oops")], "k int, v string, p string")
    with _pytest.raises(SchemaEvolutionError, match="merge_schema"):
        versioned_merge(spark, t, bad, ["k"])


def test_restore_version_zero_copy_rollback(spark, tmp_path):
    """RESTORE commits a new version referencing the old version's dirs
    verbatim (no bytes copied), keeps the rolled-past history readable,
    and composes with later commits and retention."""
    import json
    import os

    from dwh_with_dask_spark.versioned import (
        expire_versions,
        read_version,
        restore_version,
        versioned_commit,
        versioned_delete,
    )

    t = str(tmp_path / "rst")
    versioned_commit(spark.createDataFrame([(1,), (2,)], "k int"), t)
    versioned_commit(
        spark.createDataFrame([(3,)], "k int"), t, mode="append"
    )
    versioned_delete(spark, t, "k = 2")  # v3
    assert sorted(r.k for r in read_version(spark, t).collect()) == [1, 3]

    v = restore_version(t, 1)
    assert v == 4
    assert sorted(r.k for r in read_version(spark, t).collect()) == [1, 2]
    with open(os.path.join(t, "_manifests", "v4.json")) as f:
        m4 = json.load(f)
    with open(os.path.join(t, "_manifests", "v1.json")) as f:
        m1 = json.load(f)
    assert m4["dirs"] == m1["dirs"] and m4["mode"] == "restore"
    # rolled-past version still time-travelable
    assert sorted(r.k for r in read_version(spark, t, version=3).collect()) == [1, 3]
    # later work stacks on the restore, retention keeps the restored dirs
    versioned_commit(spark.createDataFrame([(9,)], "k int"), t, mode="append")
    expire_versions(t, keep_last=2)
    assert sorted(r.k for r in read_version(spark, t).collect()) == [1, 2, 9]


def test_versioned_cow_model_based_random_sequences(spark, tmp_path):
    """Model-based randomized check of the copy-on-write surface: a
    random sequence of append/delete/update/merge/restore ops applied
    to BOTH the versioned table and a plain in-memory dict model; after
    every op the table equals the model, and at the end every recorded
    version still time-travels to its snapshot."""
    import random

    from dwh_with_dask_spark.versioned import (
        read_version,
        restore_version,
        versioned_commit,
        versioned_delete,
        versioned_merge,
        versioned_update,
    )

    for seed in (5, 23):
        rng = random.Random(seed)
        t = str(tmp_path / f"mb{seed}")
        model: dict[int, int] = {}
        history: list[dict[int, int]] = []  # snapshot per version, 1-based

        def commit_batch(mode):
            rows = {rng.randrange(50): rng.randrange(1000) for _ in range(rng.randint(1, 8))}
            df = spark.createDataFrame(sorted(rows.items()), "k int, val int")
            versioned_commit(df, t, mode=mode)
            if mode == "overwrite":
                model.clear()
            # append of duplicate keys creates duplicate rows in the
            # table; keep the fixture key-unique instead
            model.update(rows)

        commit_batch("overwrite")
        history.append(dict(model))
        for _ in range(10):
            op = rng.choice(["append", "delete", "update", "merge", "restore"])
            if op == "append":
                new = {k: rng.randrange(1000) for k in range(50) if k not in model and rng.random() < 0.1}
                if not new:
                    continue
                versioned_commit(
                    spark.createDataFrame(sorted(new.items()), "k int, val int"),
                    t, mode="append",
                )
                model.update(new)
            elif op == "delete":
                lo = rng.randrange(50)
                rep = versioned_delete(spark, t, f"k >= {lo} AND k < {lo + 10}")
                doomed = [k for k in model if lo <= k < lo + 10]
                assert rep[f"rows_deleted"] == len(doomed)
                for k in doomed:
                    del model[k]
                if rep["dirs_rewritten"] == 0:
                    continue  # no new version published
            elif op == "update":
                m = rng.randrange(2, 5)
                rep = versioned_update(spark, t, f"k % {m} = 0", {"val": "val + 10000"})
                touched = [k for k in model if k % m == 0]
                assert rep["rows_updated"] == len(touched)
                for k in touched:
                    model[k] += 10000
                if rep["dirs_rewritten"] == 0:
                    continue
            elif op == "merge":
                src = {rng.randrange(50): rng.randrange(1000) for _ in range(rng.randint(1, 6))}
                versioned_merge(
                    spark, t,
                    spark.createDataFrame(sorted(src.items()), "k int, val int"),
                    ["k"],
                )
                model.update(src)
            else:  # restore
                v = rng.randrange(1, len(history) + 1)
                restore_version(t, v)
                model.clear()
                model.update(history[v - 1])
            history.append(dict(model))
            got = {r.k: r.val for r in read_version(spark, t).collect()}
            assert got == model, f"seed {seed}, op {op}: {got} != {model}"

        # every version still time-travels to its recorded snapshot
        for v, snap in enumerate(history, start=1):
            got = {r.k: r.val for r in read_version(spark, t, version=v).collect()}
            assert got == snap, f"seed {seed}, version {v}"

        # change-data-feed leg (round 15): read_changes over manifest
        # dir diffs must equal the model's snapshot diff for every
        # consecutive pair and the full span — across appends, COW
        # rewrites, merges, AND zero-copy restores
        from dwh_with_dask_spark.versioned import read_changes

        pairs = [(v, v + 1) for v in range(1, len(history))]
        if len(history) > 1:
            pairs.append((1, len(history)))
        for f, to in pairs:
            got = {
                (r.k, r.change_type, r.old_val, r.new_val)
                for r in read_changes(spark, t, f, to, ["k"]).collect()
            }
            a, b = history[f - 1], history[to - 1]
            want = (
                {(k, "insert", None, b[k]) for k in b.keys() - a.keys()}
                | {(k, "delete", a[k], None) for k in a.keys() - b.keys()}
                | {
                    (k, "update", a[k], b[k])
                    for k in a.keys() & b.keys()
                    if a[k] != b[k]
                }
            )
            assert got == want, f"seed {seed}, changes {f}->{to}"


def test_timestamp_as_of_and_age_retention(spark, tmp_path):
    """TIMESTAMP AS OF resolves through the manifests' committed_at
    stamps; age-based retention expires by stamp age while keep_last
    can widen the window (either rule retains)."""
    import json
    import os

    import pytest as _pytest

    from dwh_with_dask_spark.versioned import (
        expire_versions,
        read_version,
        version_as_of,
        versioned_commit,
    )

    t = str(tmp_path / "tsaof")
    for i in range(3):
        versioned_commit(
            spark.createDataFrame([(i,)], "k int"), t, mode="overwrite"
        )

    def stamp(v, ts):
        p = os.path.join(t, "_manifests", f"v{v}.json")
        with open(p) as f:
            m = json.load(f)
        m["committed_at"] = ts
        with open(p, "w") as f:
            json.dump(m, f)

    stamp(1, 1000.0)
    stamp(2, 2000.0)
    stamp(3, 3000.0)
    assert version_as_of(t, 2500.0) == 2
    assert version_as_of(t, 3000.0) == 3
    assert [r.k for r in read_version(spark, t, timestamp=1500.0).collect()] == [0]
    with _pytest.raises(ValueError, match="at or before"):
        version_as_of(t, 500.0)
    with _pytest.raises(ValueError, match="not both"):
        read_version(spark, t, version=1, timestamp=1500.0)

    # age retention: everything is ancient -> only current survives...
    rep = expire_versions(t, older_than_s=10.0)
    assert rep["manifests_removed"] == 2
    assert [r.k for r in read_version(spark, t).collect()] == [2]
    # ...and keep_last can hold versions age would expire (either rule)
    t2 = str(tmp_path / "tsaof2")
    for i in range(3):
        versioned_commit(
            spark.createDataFrame([(i,)], "k int"), t2, mode="overwrite"
        )
        pass
    for v, ts in ((1, 1000.0), (2, 2000.0), (3, 3000.0)):
        p = os.path.join(t2, "_manifests", f"v{v}.json")
        with open(p) as f:
            m = json.load(f)
        m["committed_at"] = ts
        with open(p, "w") as f:
            json.dump(m, f)
    rep = expire_versions(t2, keep_last=2, older_than_s=10.0)
    assert rep["manifests_removed"] == 1  # v1 only; keep_last holds v2
    assert [r.k for r in read_version(spark, t2, version=2).collect()] == [1]


def test_review_findings_versioned_regressions(spark, tmp_path):
    """Round-14 review regressions, pinned:
    1. UPDATE evaluates predicate + every RHS on the ORIGINAL row (an
       assignment touching a predicate column must not starve later
       assignments);
    2. UPDATE and MERGE re-validate CHECK constraints on the rewritten
       bytes;
    3. an append to a legacy (pre-schema-field) table records NO
       schema (stamping the batch's would hide legacy-only columns);
    4. a merge_schema append omitting a column a constraint references
       commits cleanly (constraint reads bind the recorded schema)."""
    import json
    import os

    import pytest as _pytest

    from dwh_with_dask_spark.versioned import (
        read_version,
        versioned_commit,
        versioned_merge,
        versioned_update,
    )

    # 1: SQL UPDATE semantics
    t1 = str(tmp_path / "updsem")
    versioned_commit(
        spark.createDataFrame([(1, 1, 5), (2, 0, 5)], "k int, flag int, val int"),
        t1,
    )
    versioned_update(spark, t1, "flag = 1", {"flag": "0", "val": "val + 10"})
    got = {r.k: (r.flag, r.val) for r in read_version(spark, t1).collect()}
    assert got == {1: (0, 15), 2: (0, 5)}  # val updated despite flag reset

    # 2: constraints guard the rewrite paths
    t2 = str(tmp_path / "updchk")
    versioned_commit(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, price double"),
        t2, expect={"price_pos": "price >= 0"},
    )
    with _pytest.raises(ValueError, match="CHECK constraint"):
        versioned_update(spark, t2, "k = 1", {"price": "price * -1"})
    assert {r.k: r.price for r in read_version(spark, t2).collect()} == {
        1: 10.0, 2: 20.0,
    }
    with _pytest.raises(ValueError, match="CHECK constraint"):
        versioned_merge(
            spark, t2,
            spark.createDataFrame([(2, -1.0)], "k int, price double"), ["k"],
        )
    assert {r.k: r.price for r in read_version(spark, t2).collect()} == {
        1: 10.0, 2: 20.0,
    }

    # 3: legacy append stays schema-free
    t3 = str(tmp_path / "legacyapp")
    versioned_commit(spark.createDataFrame([(1, "a")], "k int, v string"), t3)
    mp = os.path.join(t3, "_manifests", "v1.json")
    with open(mp) as f:
        m = json.load(f)
    m.pop("schema")
    with open(mp, "w") as f:
        json.dump(m, f)
    versioned_commit(
        spark.createDataFrame([(2, "b")], "k int, v string"), t3, mode="append"
    )
    with open(os.path.join(t3, "_manifests", "v2.json")) as f:
        assert "schema" not in json.load(f)
    assert sorted(r.k for r in read_version(spark, t3).collect()) == [1, 2]

    # 4: constraint referencing a column absent from the batch
    t4 = str(tmp_path / "absentchk")
    versioned_commit(
        spark.createDataFrame([(1, 5.0)], "k int, price double"),
        t4, expect={"price_pos": "price >= 0"},
    )
    versioned_commit(
        spark.createDataFrame([(2,)], "k int"), t4,
        mode="append", merge_schema=True,
    )
    got = {r.k: r.price for r in read_version(spark, t4).collect()}
    assert got == {1: 5.0, 2: None}


def test_token_budget_non_string_source(spark):
    """token_budget_sample accepts non-string source columns (the
    offsets frame takes the input column's own type)."""
    from dwh_with_dask_spark.operators.curation import token_budget_sample

    rows = [(i, i % 2, "a b c d e") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source int, text string")
    out = token_budget_sample(df, budget=12).collect()
    assert out and {r.source for r in out} == {0, 1}
    assert all(r.cum_tokens <= 12 for r in out)


def test_fsck_reports_integrity(spark, tmp_path):
    """fsck: clean table passes; retention gaps at the floor are fine;
    mid-chain manifest loss, missing data dirs, and a pointer above the
    chain are flagged without raising."""
    import os
    import shutil

    from dwh_with_dask_spark.versioned import (
        expire_versions,
        fsck,
        versioned_commit,
    )

    t = str(tmp_path / "fsck")
    for i in range(4):
        versioned_commit(
            spark.createDataFrame([(i,)], "k int"), t, mode="overwrite"
        )
    rep = fsck(t)
    assert rep["ok"] and rep["current"] == 4 and rep["retained"] == [1, 2, 3, 4]

    # retention floor gap is legal
    expire_versions(t, keep_last=3)
    rep = fsck(t)
    assert rep["ok"] and rep["retained"] == [2, 3, 4]

    # mid-chain loss (a gap BETWEEN retained versions) is corruption —
    # a missing FLOOR manifest is indistinguishable from retention by
    # design, so fsck only flags interior gaps
    os.remove(os.path.join(t, "_manifests", "v3.json"))
    rep = fsck(t)
    assert not rep["ok"] and any("gaps" in e for e in rep["errors"])

    # missing data dir
    t2 = str(tmp_path / "fsck2")
    versioned_commit(spark.createDataFrame([(1,)], "k int"), t2)
    shutil.rmtree(os.path.join(t2, "data", "v1"))
    rep = fsck(t2)
    assert not rep["ok"] and any("missing data dir" in e for e in rep["errors"])

    # pointer above head
    t3 = str(tmp_path / "fsck3")
    versioned_commit(spark.createDataFrame([(1,)], "k int"), t3)
    with open(os.path.join(t3, "_current"), "w") as f:
        f.write("9")
    rep = fsck(t3)
    assert not rep["ok"] and any("above the manifest chain" in e for e in rep["errors"])


def test_second_review_regressions(spark, tmp_path):
    """Second review pass, pinned: (1) age-only expiry on a pre-stamp
    table RETAINS unstamped manifests (missing metadata never expands
    a deletion); (2) fsck flags a missing/stranded pointer on a
    retention-expired table as an ERROR, not a heal-able warning."""
    import json
    import os

    from dwh_with_dask_spark.versioned import (
        expire_versions,
        fsck,
        versioned_commit,
    )

    # 1: unstamped manifests survive age-only expiry
    t = str(tmp_path / "agestamp")
    for i in range(3):
        versioned_commit(
            spark.createDataFrame([(i,)], "k int"), t, mode="overwrite"
        )
    for v in (1, 2):
        p = os.path.join(t, "_manifests", f"v{v}.json")
        with open(p) as f:
            m = json.load(f)
        m.pop("committed_at", None)
        with open(p, "w") as f:
            json.dump(m, f)
    rep = expire_versions(t, older_than_s=0.0)  # everything stamped is old
    assert rep["manifests_removed"] == 0  # unstamped v1/v2 held the floor

    # 2: pointer sanity on a retention-expired table
    t2 = str(tmp_path / "ptrfloor")
    for i in range(4):
        versioned_commit(
            spark.createDataFrame([(i,)], "k int"), t2, mode="overwrite"
        )
    expire_versions(t2, keep_last=2)  # retained [3, 4]
    os.remove(os.path.join(t2, "_current"))
    rep = fsck(t2)
    assert not rep["ok"] and any("cannot reach floor" in e for e in rep["errors"])
    with open(os.path.join(t2, "_current"), "w") as f:
        f.write("1")
    rep = fsck(t2)
    assert not rep["ok"] and any("below the retention floor" in e for e in rep["errors"])
    with open(os.path.join(t2, "_current"), "w") as f:
        f.write("4")
    assert fsck(t2)["ok"]


def test_advice_r14_versioned_fixes(spark, tmp_path, monkeypatch):
    """Regressions for the four round-14 ADVICE findings in
    versioned.py: (1) expire_versions refreshes a lagging _current
    pointer before removing manifests, (2) read_version binds schema
    and dirs to ONE resolved version, (3) restore_version names
    retention on an expired target, (4) versioned_merge reports
    dirs_added for pure-insert commits."""
    import json
    import os

    import pytest

    import dwh_with_dask_spark.versioned as V
    from dwh_with_dask_spark.versioned import (
        current_version,
        expire_versions,
        read_version,
        restore_version,
        versioned_commit,
        versioned_merge,
    )

    # (1) expiry under a stale pointer: two crashed publishes leave the
    # pointer >=2 behind the head; pre-fix, expiry removed the
    # manifests the forward probe climbs through, so current_version
    # fell back to the expired pointer value and every read died.
    t = str(tmp_path / "stale_ptr")
    for i in range(4):
        versioned_commit(
            spark.createDataFrame([(i,)], "k int"), t, mode="overwrite"
        )
    with open(os.path.join(t, "_current"), "w") as f:
        f.write("1")  # pointer lags head (4) by 3
    rep = expire_versions(t, keep_last=2)
    assert rep["manifests_removed"] == 2  # v1, v2
    with open(os.path.join(t, "_current")) as f:
        assert f.read().strip() == "4"  # pointer refreshed first
    assert current_version(t) == 4
    assert [r.k for r in read_version(spark, t).collect()] == [3]

    # (2) one-resolution read: simulate a commit landing between the
    # schema resolution and (pre-fix) manifest_dirs' re-resolution by
    # monkeypatching current_version to advance between calls. The
    # fixed read resolves once, so schema AND dirs come from v1.
    t2 = str(tmp_path / "one_resolve")
    versioned_commit(spark.createDataFrame([(1,)], "k int"), t2)
    versioned_commit(
        spark.createDataFrame([(2, "x")], "k int, extra string"),
        t2,
        mode="append",
        merge_schema=True,
    )
    calls = {"n": 0}
    real_cv = V.current_version

    def racing_cv(table):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real_cv(table)

    monkeypatch.setattr(V, "current_version", racing_cv)
    rows = read_version(spark, t2).collect()
    monkeypatch.undo()
    # pre-fix: schema v1 (no 'extra') paired with v2's dirs — 2 rows
    # with the appended column silently dropped; post-fix: v1 verbatim.
    assert [tuple(r) for r in rows] == [(1,)]

    # (3) restoring a retention-expired version names retention
    t3 = str(tmp_path / "restore_expired")
    for i in range(4):
        versioned_commit(
            spark.createDataFrame([(i,)], "k int"), t3, mode="overwrite"
        )
    expire_versions(t3, keep_last=2)
    with pytest.raises(ValueError, match="retention"):
        restore_version(t3, 1)
    assert restore_version(t3, 3) == 5  # retained versions still work

    # (4) dirs_added: pure-insert merge vs empty-source no-op
    t4 = str(tmp_path / "merge_added")
    versioned_commit(spark.createDataFrame([(1, 10)], "k int, v int"), t4)
    ins = versioned_merge(
        spark,
        t4,
        spark.createDataFrame([(99, 7)], "k int, v int"),
        keys=["k"],
    )
    assert ins["dirs_rewritten"] == 0 and ins["dirs_added"] == 1
    noop = versioned_merge(
        spark,
        t4,
        spark.createDataFrame([], "k int, v int"),
        keys=["k"],
    )
    assert noop["dirs_rewritten"] == 0 and noop["dirs_added"] == 0
    assert sorted((r.k, r.v) for r in read_version(spark, t4).collect()) == [
        (1, 10),
        (99, 7),
    ]


def test_fsck_deep_verifies_bytes(spark, tmp_path):
    """Deep fsck (VERDICT r14 ask #2): shallow mode trusts bytes — a
    truncated or bit-rotted parquet passes it; deep mode verifies the
    commit-time fingerprints (file set, size, sentinel crc, footer
    parse, row counts) and fails precisely on the corrupted file."""
    import os

    from dwh_with_dask_spark.versioned import (
        fsck,
        versioned_commit,
        versioned_delete,
    )

    t = str(tmp_path / "deep")
    versioned_commit(
        spark.createDataFrame([(i, f"r{i}") for i in range(500)],
                              "k int, v string"),
        t,
    )
    versioned_commit(
        spark.createDataFrame([(1000, "x")], "k int, v string"),
        t,
        mode="append",
    )
    versioned_delete(spark, t, "k = 3")  # copy-on-write rewrite dir
    assert fsck(t)["ok"] and fsck(t, deep=True)["ok"]

    # locate one committed parquet file
    data_root = os.path.join(t, "data")
    victim = None
    for d in sorted(os.listdir(data_root)):
        for fn in sorted(os.listdir(os.path.join(data_root, d))):
            if fn.endswith(".parquet"):
                victim = os.path.join(data_root, d, fn)
                break
        if victim:
            break
    orig = open(victim, "rb").read()

    # 1) truncation: shallow passes, deep fails on size
    with open(victim, "wb") as f:
        f.write(orig[: len(orig) // 2])
    assert fsck(t)["ok"], "shallow fsck must NOT catch truncation"
    rep = fsck(t, deep=True)
    assert not rep["ok"] and any("size" in e for e in rep["errors"])

    # 2) same-size bit rot in the tail: deep fails on the sentinel crc
    rotted = bytearray(orig)
    rotted[-5] ^= 0xFF
    with open(victim, "wb") as f:
        f.write(bytes(rotted))
    assert fsck(t)["ok"]
    rep = fsck(t, deep=True)
    assert not rep["ok"] and any("checksum" in e for e in rep["errors"])

    # restore the bytes: deep passes again
    with open(victim, "wb") as f:
        f.write(orig)
    assert fsck(t, deep=True)["ok"]

    # 3) stray parquet file a commit never verified
    stray = os.path.join(os.path.dirname(victim), "part-stray.parquet")
    with open(stray, "wb") as f:
        f.write(b"PAR1 not really parquet")
    rep = fsck(t, deep=True)
    assert not rep["ok"] and any("unrecorded" in e for e in rep["errors"])
    os.remove(stray)

    # 4) legacy manifest without integrity records: warning, not error
    import json

    mpath = os.path.join(t, "_manifests", "v1.json")
    with open(mpath) as f:
        m = json.load(f)
    m.pop("integrity", None)
    with open(mpath, "w") as f:
        json.dump(m, f)
    rep = fsck(t, deep=True)
    assert rep["ok"]
    assert any("bytes unverified" in w for w in rep["warnings"])


def test_auto_compact_at_triggers_once(spark, tmp_path):
    """auto_compact_at=N (VERDICT r14 ask #4): the Nth-dir commit
    triggers exactly one inline optimize_versioned; query results are
    unchanged, time travel to every pre-compaction version still
    works, and the compacted version references a single dir."""
    import json
    import os

    from dwh_with_dask_spark.versioned import (
        current_version,
        read_version,
        versioned_commit,
        versioned_merge,
    )

    t = str(tmp_path / "autocompact")
    versioned_commit(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"),
        t,
        stats_cols=["k"],
    )
    model = {1: 10, 2: 20}

    compactions = 0
    for i in range(3):  # merges add a dir each: 2, 3, then 4 -> trigger
        src = spark.createDataFrame([(100 + i, i)], "k int, v int")
        rep = versioned_merge(spark, t, src, ["k"], auto_compact_at=4)
        model[100 + i] = i
        if "auto_compacted" in rep:
            compactions += 1
            trigger_rep = rep
    assert compactions == 1, "exactly one compaction for N dirs"
    # the trigger merge committed its version, compaction the next one
    assert trigger_rep["auto_compacted"] == trigger_rep["version"] + 1
    assert current_version(t) == trigger_rep["auto_compacted"]

    # compacted head references ONE dir; results match the model
    with open(os.path.join(t, "_manifests",
                           f"v{current_version(t)}.json")) as f:
        head = json.load(f)
    assert len(head["dirs"]) == 1
    assert head.get("stats", {}), "stats carried through compaction"
    got = {r.k: r.v for r in read_version(spark, t).collect()}
    assert got == model

    # every pre-compaction version still time-travels
    pre = trigger_rep["version"]
    got_pre = {r.k: r.v for r in read_version(spark, t, version=pre).collect()}
    assert got_pre == model  # same logical content as the compaction
    assert {
        r.k for r in read_version(spark, t, version=1).collect()
    } == {1, 2}

    # append path triggers too; below-threshold commits never compact
    t2 = str(tmp_path / "autocompact_append")
    versioned_commit(spark.createDataFrame([(1,)], "k int"), t2)
    for i in range(2, 5):
        versioned_commit(
            spark.createDataFrame([(i,)], "k int"), t2, mode="append",
            auto_compact_at=4,
        )
    # 4 dirs at the 4th commit -> compaction ran as one extra version
    assert current_version(t2) == 5
    with open(os.path.join(t2, "_manifests", "v5.json")) as f:
        assert len(json.load(f)["dirs"]) == 1
    assert sorted(r.k for r in read_version(spark, t2).collect()) == [1, 2, 3, 4]


def test_read_changes_equals_snapshot_diff(spark, tmp_path):
    """read_changes (VERDICT r14 ask #5) replays manifest dir diffs and
    must equal the full-snapshot snapshot_diff for every version pair
    of an append/delete/update/merge sequence — while reading only the
    changed dirs. Retention-expired endpoints raise naming retention."""
    import pytest

    from dwh_with_dask_spark.operators.scd import snapshot_diff
    from dwh_with_dask_spark.versioned import (
        current_version,
        expire_versions,
        read_changes,
        read_version,
        versioned_commit,
        versioned_delete,
        versioned_merge,
        versioned_update,
    )

    t = str(tmp_path / "cdf")
    versioned_commit(
        spark.createDataFrame(
            [(i, i * 10, "a") for i in range(50)], "k int, v int, g string"
        ),
        t,
    )
    versioned_commit(
        spark.createDataFrame(
            [(i, i * 10, "b") for i in range(50, 80)],
            "k int, v int, g string",
        ),
        t,
        mode="append",
    )
    versioned_delete(spark, t, "k % 7 = 0")
    versioned_update(spark, t, "k % 5 = 1", {"v": "v + 1"})
    versioned_merge(
        spark,
        t,
        spark.createDataFrame(
            [(3, 999, "a"), (200, 1, "c")], "k int, v int, g string"
        ),
        keys=["k"],
    )
    cur = current_version(t)
    assert cur == 5

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for f in range(0, cur):
        for to in range(f + 1, cur + 1):
            got = rows(read_changes(spark, t, f, to, ["k"]))
            want_old = (
                read_version(spark, t, version=f)
                if f
                else read_version(spark, t, version=to).filter("1=0")
            )
            want = rows(
                snapshot_diff(
                    want_old, read_version(spark, t, version=to), ["k"]
                )
            )
            assert got == want, (f, to)

    # the v4->v5 merge feed: one update (k=3) + one insert (k=200)
    feed = {
        (r.k, r.change_type): r
        for r in read_changes(spark, t, 4, 5, ["k"]).collect()
    }
    assert set(feed) == {(3, "update"), (200, "insert")}
    assert feed[(3, "update")].new_v == 999

    # retention-expired endpoint names retention
    expire_versions(t, keep_last=2)
    with pytest.raises(ValueError, match="retention"):
        read_changes(spark, t, 1, 5, ["k"])
    assert rows(read_changes(spark, t, 4, 5, ["k"]))  # retained pair ok


def test_read_changes_timestamp_endpoints(spark, tmp_path):
    """read_changes resolves from/to_timestamp through version_as_of
    (Delta CDF starting/endingTimestamp), defaults to_version to the
    head, and rejects mixed version+timestamp endpoints."""
    import json
    import os
    import time

    import pytest

    from dwh_with_dask_spark.versioned import (
        read_changes,
        versioned_commit,
    )

    t = str(tmp_path / "cdf_ts")
    for i in range(3):
        versioned_commit(
            spark.createDataFrame([(i, i * 10)], "k int, v int"),
            t,
            mode="append" if i else "overwrite",
        )
    # pin distinct committed_at stamps
    for v, ts in ((1, 100.0), (2, 200.0), (3, 300.0)):
        p = os.path.join(t, "_manifests", f"v{v}.json")
        with open(p) as f:
            m = json.load(f)
        m["committed_at"] = ts
        with open(p, "w") as f:
            json.dump(m, f)

    def keys(df):
        return sorted(r.k for r in df.collect())

    # timestamp 250 -> v2; default to endpoint = head (v3)
    assert keys(read_changes(spark, t, from_timestamp=250.0,
                             key_cols=["k"])) == [2]
    # both endpoints by timestamp: v1 -> v2
    assert keys(read_changes(spark, t, from_timestamp=150.0,
                             to_timestamp=250.0, key_cols=["k"])) == [1]
    # mixed endpoint forms rejected
    with pytest.raises(ValueError, match="OR"):
        read_changes(spark, t, from_version=1, from_timestamp=150.0,
                     key_cols=["k"])
    with pytest.raises(ValueError, match="OR"):
        read_changes(spark, t, 1, 2, ["k"], to_timestamp=250.0)
    with pytest.raises(ValueError, match="key_cols"):
        read_changes(spark, t, 1, 2)


def test_round15_review_regressions(spark, tmp_path):
    """Round-15 self-review: (1) reading an empty table (no commits)
    raises the intended ValueError, not a NameError on the unbound
    recorded schema; (2) an invalid auto_compact_at is rejected BEFORE
    any bytes stage or publish — the table must not advance."""
    import os

    import pytest

    from dwh_with_dask_spark.versioned import (
        current_version,
        read_version,
        versioned_commit,
        versioned_delete,
        versioned_merge,
    )

    t = str(tmp_path / "empty_read")
    os.makedirs(os.path.join(t, "_manifests"))
    with pytest.raises(FileNotFoundError, match="no committed version"):
        read_version(spark, t)

    t2 = str(tmp_path / "bad_threshold")
    versioned_commit(spark.createDataFrame([(1,)], "k int"), t2)
    df = spark.createDataFrame([(2,)], "k int")
    with pytest.raises(ValueError, match="auto_compact_at"):
        versioned_commit(df, t2, mode="append", auto_compact_at=1)
    with pytest.raises(ValueError, match="auto_compact_at"):
        versioned_delete(spark, t2, "k = 1", auto_compact_at=0)
    with pytest.raises(ValueError, match="auto_compact_at"):
        versioned_merge(spark, t2, df, ["k"], auto_compact_at=1)
    assert current_version(t2) == 1  # nothing published
    assert [r.k for r in read_version(spark, t2).collect()] == [1]
