"""Transactional-table protocol tests (operators/txlog.py): snapshot
isolation, atomic version claims, conflict detection, time travel,
crashed-writer invisibility, vacuum root-set correctness."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.operators.txlog import (
    CommitConflict,
    TxTable,
)


def _df(spark, lo, hi, val=1.0):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(val).alias("v")
    )


def test_overwrite_append_read_roundtrip(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    assert t.version() == -1
    v0 = t.overwrite(_df(spark, 0, 5))
    assert v0 == 0 and t.read(spark).count() == 5
    v1 = t.append(_df(spark, 5, 8))
    assert v1 == 1 and t.read(spark).count() == 8
    # time travel: v0 still reads exactly its snapshot
    assert t.read(spark, version=0).count() == 5


def test_merge_upserts_and_inserts(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 5, val=1.0))
    staging = _df(spark, 3, 7, val=9.0)
    t.merge(spark, staging, key_cols=["k"])
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {0: 1.0, 1: 1.0, 2: 1.0, 3: 9.0, 4: 9.0, 5: 9.0, 6: 9.0}


def test_concurrent_commit_conflicts_cleanly(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 3))
    # a second handle commits first; the slow writer's claim must fail
    t2 = TxTable(str(tmp_path / "t"))
    t2.append(_df(spark, 10, 12))
    files = t._write_files(_df(spark, 20, 22))
    with pytest.raises(CommitConflict):
        t._claim(
            {"files": files, "op": "append", "schema": "{}"},
            expected_parent=0,
            parent=t._manifest(0),
        )
    # loser's data files are orphans — invisible to readers
    assert t.read(spark).count() == 5
    assert {r["k"] for r in t.read(spark).collect()} == {0, 1, 2, 10, 11}


def test_crashed_writer_leaves_no_trace(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 4))
    # simulate a crash AFTER data files land but BEFORE the manifest claim
    t._write_files(_df(spark, 100, 200))
    assert t.read(spark).count() == 4  # orphans invisible
    # the retention grace window protects FRESH unreferenced files — they
    # may belong to an in-flight commit between _write_files and _claim
    assert t.vacuum(keep_versions=1) == 0
    # with no in-flight writers (retention_s=0) vacuum collects them
    removed = t.vacuum(keep_versions=1, retention_s=0)
    assert removed > 0
    assert t.read(spark).count() == 4


def test_vacuum_preserves_kept_versions(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 3))
    t.overwrite(_df(spark, 0, 6))
    t.overwrite(_df(spark, 0, 9))
    t.vacuum(keep_versions=2)
    assert t.read(spark, version=1).count() == 6  # kept
    assert t.read(spark).count() == 9
    with pytest.raises(FileNotFoundError):
        t._manifest(0)  # dropped manifest
    # old version's exclusive files are gone from data/
    assert t.version() == 2


def test_file_stats_recorded_and_pruned(spark, tmp_path):
    """stats_cols records per-file min/max from the footers; read_in
    prunes whole files no requested value can be in while staying
    exact."""
    t = TxTable(str(tmp_path / "t"), stats_cols=["k"])
    # three appends with disjoint key ranges → ≥3 files with known stats
    t.overwrite(_df(spark, 0, 100).coalesce(1))
    t.append(_df(spark, 100, 200).coalesce(1))
    t.append(_df(spark, 200, 300).coalesce(1))
    m = t._manifest(t.version())
    assert all(e["stats"]["k"] is not None for e in m["files"])
    hits = [e for e in m["files"] if t._overlaps(e, "k", 120, 180)]
    assert len(hits) == 1  # only the middle file overlaps
    got = t.read_in(spark, "k", range(120, 181))
    assert len(got.inputFiles()) == 1  # the two other files never scanned
    assert got.count() == 61
    assert {r["k"] for r in got.collect()} == set(range(120, 181))


def test_replace_where_bounded_rewrite(spark, tmp_path):
    """replace_where flips one manifest: the replaced window's rows are
    gone, incoming rows are in, files outside the window carry over
    UNTOUCHED (same physical names), and time travel still sees the
    pre-replace state."""
    t = TxTable(str(tmp_path / "t"), stats_cols=["k"])
    t.overwrite(_df(spark, 0, 100, val=1.0).coalesce(1))
    t.append(_df(spark, 100, 200, val=1.0).coalesce(1))
    t.append(_df(spark, 200, 300, val=1.0).coalesce(1))
    before = set(t._names(t._manifest(t.version())["files"]))

    v = t.replace_where(spark, _df(spark, 100, 150, val=9.0), "k", 100, 199)
    after = t._manifest(v)["files"]
    after_names = set(t._names(after))
    # the two files outside [100,199] carried over physically untouched
    assert len(before & after_names) == 2
    got = t.read(spark)
    assert got.count() == 250  # 100 + 50 new + 100
    assert got.where(F.col("v") == 9.0).count() == 50
    assert got.where(F.col("k").between(150, 199)).count() == 0  # deleted
    # time travel to the pre-replace version
    assert t.read(spark, version=v - 1).count() == 300

    import pytest as _pytest

    with _pytest.raises(ValueError, match="outside"):
        t.replace_where(spark, _df(spark, 0, 10), "k", 100, 199)


def test_replace_where_null_rows_survive(spark, tmp_path):
    """SQL DELETE semantics: a NULL predicate never deletes, so rows with
    a NULL key survive any window rewrite; incoming NULL rows are
    rejected (no later refresh could ever replace them)."""
    t = TxTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, 1.0), (150, 1.0), (None, 7.0)], "k INT, v DOUBLE"
    )
    t.overwrite(base)
    t.replace_where(spark, spark.createDataFrame([(120, 9.0)], "k INT, v DOUBLE"),
                    "k", 100, 199)
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, 1.0), (120, 9.0), (None, 7.0)}  # NULL row kept
    with pytest.raises(ValueError, match="outside"):
        t.replace_where(
            spark,
            spark.createDataFrame([(None, 5.0)], "k INT, v DOUBLE"),
            "k", 100, 199,
        )


def test_read_uses_manifest_schema_after_drifted_append(spark, tmp_path):
    """A multi-file snapshot reads under the MANIFEST schema: an append
    that added a column makes earlier files' missing column NULL instead
    of the scan adopting an arbitrary file's schema."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 1.0)], "k INT, v DOUBLE"))
    t.append(spark.createDataFrame([(2, 2.0, "x")], "k INT, v DOUBLE, tag STRING"))
    got = t.read(spark)
    assert set(got.columns) == {"k", "v", "tag"}
    rows = {r["k"]: r["tag"] for r in got.collect()}
    assert rows == {1: None, 2: "x"}
    # time travel to v0 still reads v0's own schema
    assert set(t.read(spark, version=0).columns) == {"k", "v"}


def test_stats_skipped_for_noncomparable_types(spark, tmp_path):
    """date/timestamp stats_cols degrade to no-stats (never skipped)
    instead of stringified stats that mis-compare against native bounds:
    a replace_where window on the date column rewrites the file and
    stays exact."""
    import datetime

    t = TxTable(str(tmp_path / "t"), stats_cols=["d"])
    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 1)), (2, datetime.date(2024, 6, 30))],
        "k INT, d DATE",
    )
    t.overwrite(df.coalesce(1))
    m = t._manifest(t.version())
    assert all(e["stats"]["d"] is None for e in m["files"])
    before = set(t._names(m["files"]))
    v = t.replace_where(
        spark,
        spark.createDataFrame([(3, datetime.date(2024, 2, 1))], "k INT, d DATE"),
        "d", datetime.date(2024, 1, 1), datetime.date(2024, 3, 1),
    )
    # the stats-less file was touched (rewritten), not carried over
    assert not before & set(t._names(t._manifest(v)["files"]))
    assert sorted(r["k"] for r in t.read(spark).collect()) == [2, 3]


def test_refresh_window_tx_idempotent_with_time_travel(spark, tmp_path):
    """K3 through the transaction log (writes.refresh_window tx=True):
    re-running the same window is idempotent, a disjoint-window refresh
    leaves other partitions untouched, and every pre-refresh version
    stays time-travel readable."""
    from etl_python_airflow_bigquery_spark.operators.writes import refresh_window

    path = str(tmp_path / "t")

    def day(d, val, n=3):
        return spark.range(n).select(
            F.lit(d).alias("dia"), F.col("id").alias("k"), F.lit(val).alias("v")
        )

    refresh_window(day(1, 1.0).unionByName(day(2, 1.0)), path, ["dia"], tx=True)
    t = TxTable(path)
    assert t.read(spark).count() == 6
    v0 = t.version()

    # same-window re-run: replaces day 2, total unchanged (idempotent)
    refresh_window(day(2, 9.0), path, ["dia"], tx=True)
    got = t.read(spark)
    assert got.count() == 6
    assert got.where((F.col("dia") == 2) & (F.col("v") == 9.0)).count() == 3
    assert got.where((F.col("dia") == 1) & (F.col("v") == 1.0)).count() == 3

    # disjoint window: day 3 lands, days 1-2 untouched
    refresh_window(day(3, 5.0), path, ["dia"], tx=True)
    assert t.read(spark).count() == 9
    # time travel: the first version still reads its exact snapshot
    old = t.read(spark, version=v0)
    assert old.count() == 6
    assert old.where(F.col("v") == 9.0).count() == 0


def test_refresh_window_tx_secondary_predicate(spark, tmp_path):
    """The secondary DELETE predicate under tx: within a touched
    partition only the predicate slice is replaced; the sibling slice
    survives the manifest flip."""
    from etl_python_airflow_bigquery_spark.operators.writes import refresh_window

    path = str(tmp_path / "t")

    def rows(d, periodo, val):
        return spark.createDataFrame(
            [(d, periodo, k, val) for k in range(3)],
            "dia INT, periodo STRING, k INT, v DOUBLE",
        )

    base = rows(1, "diario", 1.0).unionByName(rows(1, "mensual", 1.0))
    TxTable(path, stats_cols=["dia"]).overwrite(base)
    refresh_window(
        rows(1, "mensual", 9.0), path, ["dia"],
        refresh_predicate=F.col("periodo") == "mensual", tx=True,
    )
    got = TxTable(path).read(spark)
    assert got.count() == 6
    assert got.where((F.col("periodo") == "diario") & (F.col("v") == 1.0)).count() == 3
    assert got.where((F.col("periodo") == "mensual") & (F.col("v") == 9.0)).count() == 3
    with pytest.raises(ValueError, match="violate"):
        refresh_window(
            base, path, ["dia"],
            refresh_predicate=F.col("periodo") == "mensual", tx=True,
        )


def test_refresh_window_tx_concurrent_conflict(spark, tmp_path):
    """Two refreshes racing the same table: the slower writer's version
    claim must CONFLICT (no silent lost update) — interleaved
    deterministically by sneaking a commit in during the loser's file
    staging."""
    from etl_python_airflow_bigquery_spark.operators.txlog import CommitConflict

    path = str(tmp_path / "t")
    t1 = TxTable(path, stats_cols=["dia"])
    t1.overwrite(spark.createDataFrame([(1, 1.0)], "dia INT, v DOUBLE"))

    t2 = TxTable(path, stats_cols=["dia"])
    orig = t1._write_files
    fired = []

    def hook(df):
        out = orig(df)
        if not fired:
            fired.append(1)
            t2.append(spark.createDataFrame([(9, 9.0)], "dia INT, v DOUBLE"))
        return out

    t1._write_files = hook
    with pytest.raises(CommitConflict):
        t1.replace_partitions(
            spark, spark.createDataFrame([(1, 5.0)], "dia INT, v DOUBLE"), ["dia"]
        )
    # the winner's commit is intact; the loser changed nothing
    got = {(r["dia"], r["v"]) for r in t2.read(spark).collect()}
    assert got == {(1, 1.0), (9, 9.0)}


def test_merge_upsert_tx_snapshot_isolated(spark, tmp_path):
    """K4 through the transaction log: upsert semantics match the
    rename-swap path, and the pre-merge version stays readable."""
    from etl_python_airflow_bigquery_spark.operators.writes import merge_upsert

    path = str(tmp_path / "t")
    merge_upsert(spark, _df(spark, 0, 5, val=1.0), path, ["k"], tx=True)
    v0 = TxTable(path).version()
    merge_upsert(spark, _df(spark, 3, 7, val=9.0), path, ["k"], tx=True)
    t = TxTable(path)
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {0: 1.0, 1: 1.0, 2: 1.0, 3: 9.0, 4: 9.0, 5: 9.0, 6: 9.0}
    assert t.read(spark, version=v0).count() == 5  # pre-merge snapshot
    assert not os.path.exists(f"{path}__merge.lock")  # no lockfile in tx mode


def test_empty_append_then_read_schema(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 0))  # zero rows
    df = t.read(spark)
    assert df.count() == 0
    assert set(df.columns) == {"k", "v"}


def test_streaming_refresh_tx_matches_batch(spark, sf_dir, tmp_path):
    """The streaming hourly refresh through the transaction log: final
    snapshot equals the batch aggregation, re-running with a fresh
    checkpoint is idempotent (replace_where of the same windows), and
    every intermediate version remains time-travel readable."""
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        events_dir_for,
        run_hourly_refresh_tx,
    )
    from etl_python_airflow_bigquery_spark.tables import load_table
    from tests.test_streaming import _epoch_hour

    path = str(tmp_path / "tx_hourly")
    run_hourly_refresh_tx(
        spark, events_dir_for(sf_dir), path, checkpoint=str(tmp_path / "ck1")
    )
    t = TxTable(path)
    landed = t.read(spark)

    events = load_table(spark, sf_dir, "events")
    batch = events.groupBy(
        _epoch_hour(events).alias("hora"), "event_type"
    ).agg(F.count(F.lit(1)).alias("eventos"))
    assert landed.count() == batch.count()
    assert landed.agg(F.sum("eventos")).first()[0] == events.count()

    v_first = t.version()
    run_hourly_refresh_tx(
        spark, events_dir_for(sf_dir), path, checkpoint=str(tmp_path / "ck2")
    )
    assert t.read(spark).count() == batch.count()  # idempotent
    assert t.version() > v_first  # new commits, old snapshots intact
    assert t.read(spark, version=v_first).count() == batch.count()


def test_optimize_compact_merges_small_files(spark, tmp_path):
    """Bin-packing compaction: many micro-batch appends → one compacted
    file plus any already-big files; data identical, old versions
    readable, and a second compact is a no-op (returns current
    version)."""
    t = TxTable(str(tmp_path / "t"))
    for i in range(5):
        t.append(_df(spark, i * 10, i * 10 + 10).coalesce(1))
    m = t._manifest(t.version())
    assert len(m["files"]) >= 5
    antes = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    v_pre = t.version()

    v = t.optimize_compact(spark)
    m2 = t._manifest(v)
    assert m2["op"] == "optimize_compact"
    assert len(m2["files"]) == 1
    assert sorted((r["k"], r["v"]) for r in t.read(spark).collect()) == antes
    assert t.read(spark, version=v_pre).count() == len(antes)
    assert t.optimize_compact(spark) == v  # nothing left to compact


# -- change feed (incremental consumption) --------------------------------

def test_changes_append_only_feed(spark, tmp_path):
    from etl_python_airflow_bigquery_spark.operators.txlog import (
        NonIncrementalHistory,
    )

    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 5))        # v0: first load = all inserts
    t.append(_df(spark, 5, 8))           # v1
    t.append(_df(spark, 8, 10))          # v2
    # consumer checkpointed at v0: sees exactly the two appended batches
    delta = t.changes(spark, since_version=0)
    got = {(r["k"], r["_commit_version"]) for r in delta.collect()}
    assert got == {(5, 1), (6, 1), (7, 1), (8, 2), (9, 2)}
    # from before the table existed: the first load is inserts too
    assert t.changes(spark, -1).count() == 10
    # caught-up consumer gets an empty, schema-stable frame
    caught = t.changes(spark, 2)
    assert caught.count() == 0
    assert "_commit_version" in caught.columns
    # a rewrite op poisons the feed past it
    t.merge(spark, _df(spark, 0, 2, val=9.0), key_cols=["k"])  # v3
    with pytest.raises(NonIncrementalHistory):
        t.changes(spark, 0)
    # but a feed window that stops BEFORE the rewrite still works
    assert t.changes(spark, 0, until_version=2).count() == 5


def test_changes_skip_compaction_no_double_count(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 4))            # v0
    t.append(_df(spark, 4, 6))               # v1
    assert t.optimize_compact(spark) >= 0    # v2: data-preserving rewrite
    t.append(_df(spark, 6, 9))               # v3
    delta = t.changes(spark, 0)
    got = sorted(r["k"] for r in delta.collect())
    # compacted copies of rows 0..5 must NOT reappear as inserts
    assert got == [4, 5, 6, 7, 8]
    versions = {r["k"]: r["_commit_version"] for r in delta.collect()}
    assert versions == {4: 1, 5: 1, 6: 3, 7: 3, 8: 3}


def test_append_rejects_type_drift_on_shared_column(spark, tmp_path):
    """Column ADD is evolution (allowed, NULL-filled on old files); a
    TYPE change on a shared column would poison reads of older files
    under the new manifest schema — rejected loudly at commit."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 1.0)], "k BIGINT, v DOUBLE"))
    with pytest.raises(ValueError, match="type drift"):
        t.append(spark.createDataFrame([(2, 2.0)], "k INT, v DOUBLE"))
    # the add-a-column append still works and old files read NULL
    t.append(
        spark.createDataFrame([(2, 2.0, "x")], "k BIGINT, v DOUBLE, tag STRING")
    )
    assert {r["k"]: r["tag"] for r in t.read(spark).collect()} == {1: None, 2: "x"}


def test_append_refuses_rename_shaped_evolution(spark, tmp_path):
    """Schema-evolution contract: column add OR remove is legal, but ONE
    append that drops a column and adds a same-typed one is
    rename-shaped — ambiguous with a rename, which would silently break
    changes() consumers (old rows read NULL under the new name). The
    contract is LOUD refusal; renames go through overwrite (whose change
    feed already raises NonIncrementalHistory), and a genuine unrelated
    drop+add goes through two appends."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, 2.0)], "k BIGINT, precio DOUBLE")
    )
    # rename-shaped: precio (double) disappears, importe (double) appears
    with pytest.raises(ValueError, match="rename-shaped"):
        t.append(
            spark.createDataFrame([(2, 3.0)], "k BIGINT, importe DOUBLE")
        )
    # same intent expressed unambiguously in two appends is legal:
    t.append(spark.createDataFrame([(2,)], "k BIGINT"))  # drop precio
    v = t.append(  # add importe
        spark.createDataFrame([(3, 4.0)], "k BIGINT, importe DOUBLE")
    )
    assert v == 2 and t.read(spark).count() == 3
    # drop+add with DIFFERENT types is not rename-shaped — legal in one
    t2 = TxTable(str(tmp_path / "t2"))
    t2.overwrite(spark.createDataFrame([(1, 2.0)], "k BIGINT, precio DOUBLE"))
    t2.append(spark.createDataFrame([(2, "x")], "k BIGINT, etiqueta STRING"))
    assert t2.read(spark).count() == 2


def test_interleaved_writers_one_commits_one_retries(spark, tmp_path):
    """TWO-THREAD interleaving (VERDICT r5 #10): both writers read the
    same parent version and stage files before either claims — a
    lockstep barrier inside _write_files forces the true race window.
    Exactly one claim must win; the loser gets a loud CommitConflict
    (never a lost update, never a torn manifest) and a plain retry then
    lands BOTH updates."""
    import threading

    path = str(tmp_path / "t")
    TxTable(path).overwrite(
        spark.createDataFrame(
            [(1, 10, 1.0), (2, 20, 1.0)], "dia INT, k INT, v DOUBLE"
        )
    )
    barrier = threading.Barrier(2, timeout=60)

    class LockstepStage(TxTable):
        # sync on the FIRST staging only: replace_partitions stages twice
        # (incoming files, then survivors of overlapping files), and the
        # race window we need is both-read-parent-before-either-claims,
        # which the first staging already guarantees
        _synced = False

        def _write_files(self, df):
            out = super()._write_files(df)
            if not self._synced:
                self._synced = True
                barrier.wait()  # both writers staged; neither has claimed
            return out

    results: dict[str, tuple] = {}

    def run(name, fn):
        try:
            results[name] = ("ok", fn())
        except CommitConflict:
            results[name] = ("conflict", None)

    ta, tb = LockstepStage(path), LockstepStage(path)
    new_a = spark.createDataFrame([(1, 10, 9.0)], "dia INT, k INT, v DOUBLE")
    new_b = spark.createDataFrame([(2, 20, 7.0)], "dia INT, k INT, v DOUBLE")
    th_a = threading.Thread(
        target=run, args=("a", lambda: ta.replace_partitions(spark, new_a, ["dia"]))
    )
    th_b = threading.Thread(
        target=run, args=("b", lambda: tb.merge(spark, new_b, key_cols=["k"]))
    )
    th_a.start(); th_b.start(); th_a.join(60); th_b.join(60)

    outcomes = sorted(v[0] for v in results.values())
    assert outcomes == ["conflict", "ok"], results
    # no torn manifest: the table reads cleanly at the winner's version
    t = TxTable(path)
    assert t.read(spark).count() == 2
    # the loser retries against the NEW head and both updates land
    loser = next(n for n, v in results.items() if v[0] == "conflict")
    if loser == "a":
        t.replace_partitions(spark, new_a, ["dia"])
    else:
        t.merge(spark, new_b, key_cols=["k"])
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {10: 9.0, 20: 7.0}, got


def test_txn_fence_skips_replayed_append(spark, tmp_path):
    """txnAppId/txnVersion idempotency fence (ADVICE r6): an append
    carrying an already-recorded (app_id, version) is a NO-OP — the
    foreachBatch crash-replay case — while later versions commit, and
    the fence survives intervening commits from OTHER writers because
    _claim carries the txn map forward through every manifest."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 5), txn=("stream-a", 0))
    assert t.txn_version("stream-a") == 0
    assert t.txn_version("stream-b") == -1
    v = t.append(_df(spark, 5, 8), txn=("stream-a", 1))
    assert t.txn_version("stream-a") == 1 and t.read(spark).count() == 8
    # crash replay: same batch id again -> skipped, version unchanged
    assert t.append(_df(spark, 5, 8), txn=("stream-a", 1)) == v
    assert t.read(spark).count() == 8
    # an UNRELATED commit in between must not erase the fence
    t.append(_df(spark, 100, 103))
    assert t.txn_version("stream-a") == 1
    assert t.append(_df(spark, 5, 8), txn=("stream-a", 1)) == t.version()
    assert t.read(spark).count() == 11
    # an OLDER batch id replayed late is also fenced (>= semantics)
    assert t.append(_df(spark, 0, 5), txn=("stream-a", 0)) == t.version()
    # distinct app ids are independent fences
    t.append(_df(spark, 200, 201), txn=("stream-b", 1))
    assert t.txn_version("stream-b") == 1 and t.txn_version("stream-a") == 1
    # a genuinely new version for stream-a still lands
    t.append(_df(spark, 300, 302), txn=("stream-a", 2))
    assert t.txn_version("stream-a") == 2
    assert t.read(spark).count() == 14


def test_txn_fence_survives_compaction(spark, tmp_path):
    """The fence must outlive table-maintenance rewrites: compaction
    produces a new manifest that carries the txn map forward — otherwise
    a nightly OPTIMIZE would reopen the double-append window for every
    streaming writer."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 5), txn=("ing", 0))
    t.append(_df(spark, 5, 8), txn=("ing", 1))
    t.optimize_compact(spark)
    assert t.txn_version("ing") == 1
    assert t.append(_df(spark, 5, 8), txn=("ing", 1)) == t.version()
    assert t.read(spark).count() == 8


def test_string_stats_prune_files(spark, tmp_path):
    """min/max stats work for STRING columns too (lexicographic): files
    whose [min, max] provably misses every probed value are skipped, and
    read_in stays exact — the categorical-column (lang/source) pruning a
    curation pipeline leans on."""
    t = TxTable(str(tmp_path / "t"), stats_cols=["lang"])
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, lang string")  # noqa: E731
    t.overwrite(mk([(1, "de"), (2, "en")]).coalesce(1))
    t.append(mk([(3, "es"), (4, "fr")]).coalesce(1))
    t.append(mk([(5, "zh")]).coalesce(1))
    m = t._manifest(t.version())
    assert all(e["stats"]["lang"] is not None for e in m["files"])
    hits = [e for e in m["files"] if t._overlaps(e, "lang", "es", "fr")]
    assert len(hits) == 1  # only the middle file can hold [es, fr]
    got = t.read_in(spark, "lang", ["es", "fr"])
    assert len(got.inputFiles()) == 1
    assert sorted(r["k"] for r in got.collect()) == [3, 4]
    # values spread over two files: the [zh] file is never scanned
    got2 = t.read_in(spark, "lang", ["en", "es"])
    assert len(got2.inputFiles()) == 2
    assert sorted(r["k"] for r in got2.collect()) == [2, 3]


def test_txn_fence_merge_never_regresses(spark, tmp_path):
    """ADVICE r7: _claim merges the fence map per-app with max(), never
    a dict overwrite — a racer that read the fence before a concurrent
    commit must not claim the next version carrying a LOWER fence for
    the same app_id (that would reopen the double-apply window)."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 3), txn=("app", 0))
    t.append(_df(spark, 3, 5), txn=("app", 7))
    assert t.txn_version("app") == 7
    # simulate the racer: a raw _claim carrying a STALE fence entry
    parent, head = t._head()
    t._claim(
        {"files": head["files"], "op": "append", "schema": head["schema"],
         "txn": {"app": 2}},
        expected_parent=parent,
        parent=head,
    )
    # the fence held at 7 — max-merge, not overwrite
    assert t.txn_version("app") == 7
    # so the replay of batch 7 is still fenced to a no-op
    v = t.version()
    assert t.append(_df(spark, 3, 5), txn=("app", 7)) == v
    assert t.read(spark).count() == 5
    # a genuinely newer fence still advances
    t.append(_df(spark, 5, 6), txn=("app", 8))
    assert t.txn_version("app") == 8


def test_tags_pin_versions_and_survive_vacuum(spark, tmp_path):
    """Iceberg-style tags: a named ref resolves its version forever and
    is a vacuum GC ROOT — the tagged manifest and its data files survive
    any retention policy until the tag is deleted (the release-pinning
    contract: 'trained on corpus@v0' must stay readable)."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 5))            # v0
    t.create_tag("lanzamiento_v1")           # pins v0
    t.overwrite(_df(spark, 10, 12))          # v1 rewrites everything
    t.append(_df(spark, 12, 13))             # v2
    assert t.tags() == {"lanzamiento_v1": 0}
    assert t.read(spark, version=t.tags()["lanzamiento_v1"]).count() == 5
    # aggressive vacuum: keep only the head — but the tag is a root
    t.vacuum(keep_versions=1, retention_s=0.0)
    assert t.read(spark, version=t.tags()["lanzamiento_v1"]).count() == 5
    assert t.read(spark).count() == 3
    # v1 (untagged, not head) is genuinely gone
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=1)
    # immutability + loud unknowns
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("lanzamiento_v1")
    with pytest.raises(ValueError, match="unknown version"):
        t.create_tag("fantasma", version=99)
    with pytest.raises(ValueError, match="no such tag"):
        t.delete_tag("nadie")
    # delete releases the root; the next vacuum collects v0
    t.delete_tag("lanzamiento_v1")
    t.vacuum(keep_versions=1, retention_s=0.0)
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=0)


def test_vacuum_tolerates_vanishing_roots(spark, tmp_path, monkeypatch):
    """ADVICE r8 (low): vacuum's GC-root collection lists then opens
    tag_ json files; a concurrent delete_tag between the listing and the
    open must be skipped, not crash the vacuum."""
    t = TxTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, 0, 3))
    t.append(_df(spark, 3, 5))
    t.create_tag("estable")
    real_listdir = os.listdir

    def phantom_listdir(path):
        out = list(real_listdir(path))
        if os.path.abspath(path) == os.path.abspath(t.log_dir):
            # entries that vanished between listdir and open
            out += ["tag_fantasma.json"]
        return out

    monkeypatch.setattr(os, "listdir", phantom_listdir)
    assert t.tags() == {"estable": 1}  # phantom tag skipped
    t.vacuum(keep_versions=1, retention_s=0.0)  # must not raise
    assert t.read(spark).count() == 5


def test_read_in_prunes_files_by_stats(spark, tmp_path):
    """read_in (round 11): a set-membership read scans only the files
    whose min/max stats admit at least one requested value — the ANN
    probe's serve-path pruning primitive. Exact residual filter; empty
    set reads nothing."""
    t = TxTable(str(tmp_path / "t"), stats_cols=["c"])
    for lo in (0, 10, 20):
        df = spark.createDataFrame(
            [(lo + i, i) for i in range(10)], "c long, x long"
        ).coalesce(1)
        t.append(df)
    m = t._manifest(t.version())
    assert len(m["files"]) == 3
    hit = t.read_in(spark, "c", [5, 25])
    assert sorted(r["c"] for r in hit.collect()) == [5, 25]
    assert len(hit.inputFiles()) == 2  # the 10-19 file never scanned
    assert t.read_in(spark, "c", []).count() == 0
    # version pinning works through the pruned path too
    assert t.read_in(spark, "c", [15], version=1).count() == 1


def test_fenced_append_reads_its_parent_once(spark, tmp_path, monkeypatch):
    """One parent snapshot per commit: a fenced append lists the log
    directory once and parses the parent manifest once — the fence
    check, the schema-evolution gate and _claim's txn carry-forward all
    read that one snapshot. A replayed batch costs the same single read
    and commits nothing."""
    t = TxTable(str(tmp_path / "t"), stats_cols=["k"])
    t.overwrite(_df(spark, 0, 5), txn=("app", 0))
    t.append(_df(spark, 5, 8), txn=("app", 1))
    parses, listings = [], []
    real_manifest, real_listdir = t._manifest, os.listdir

    def manifest(v):
        parses.append(v)
        return real_manifest(v)

    def listdir(path):
        if os.path.abspath(path) == os.path.abspath(t.log_dir):
            listings.append(path)
        return real_listdir(path)

    monkeypatch.setattr(t, "_manifest", manifest)
    monkeypatch.setattr(os, "listdir", listdir)
    v = t.append(_df(spark, 8, 10), txn=("app", 2))
    assert (parses, len(listings)) == ([1], 1)
    parses.clear()
    listings.clear()
    assert t.append(_df(spark, 8, 10), txn=("app", 2)) == v
    assert (parses, len(listings)) == ([2], 1)
    monkeypatch.undo()
    assert t.read(spark).count() == 10 and t.txn_version("app") == 2
