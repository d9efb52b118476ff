"""Persistent dedup-state lifecycle (operators/dedup_state.py): build
once, probe per batch, fold labels incrementally — the DD twin of
test_ann_index.py / test_lex_index.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.operators.dedup_state import (
    _tables,
    build_dedup_state,
    ingest_dedup_state,
    read_dedup_labels,
)
from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
from etl_python_airflow_bigquery_spark.tables import load_table


def test_ingest_classification_matches_inline_row(spark, sf_dir, tmp_path):
    """The stored-state probe is EXACT: classifying the %10 batch against
    a state built on the %10!=0 world reproduces the inline
    dedup_incremental row for row (same prefix-filter engine, same
    tiers, only the scan shape differs)."""
    from etl_python_airflow_bigquery_spark.queries import REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "estado")
    build_dedup_state(spark, docs.where(F.col("doc_id") % 10 != 0), path)
    got = sorted(map(tuple, ingest_dedup_state(
        spark, docs.where(F.col("doc_id") % 10 == 0), path
    ).collect()))
    want = sorted(
        map(tuple, REGISTRY["dedup_incremental"].fn(spark, sf_dir).collect())
    )
    assert got == want and got


def test_multi_batch_ingest_labels_equal_full_recluster(spark, sf_dir, tmp_path):
    """Star-contraction exactness across MULTIPLE folds: after building
    on the established world and ingesting the batch in two separate
    slices, the stored labels' cluster PARTITION equals the one-shot
    full recluster's (same doc groupings; representative ids may differ
    across fold orders, the partition may not)."""
    from etl_python_airflow_bigquery_spark.queries.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "estado")
    build_dedup_state(spark, docs.where(F.col("doc_id") % 10 != 0), path)
    ingest_dedup_state(spark, docs.where(F.col("doc_id") % 20 == 0), path)
    ingest_dedup_state(
        spark,
        docs.where((F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 20 != 0)),
        path,
    )

    def partition_of(rows):
        grupos: dict = {}
        for doc, cl in rows:
            grupos.setdefault(cl, set()).add(doc)
        return {frozenset(v) for v in grupos.values()}

    got = partition_of(
        (r["doc_id"], r["cluster_id"])
        for r in read_dedup_labels(spark, path).collect()
    )
    want = partition_of(
        (r["doc_id"], r["cluster_id"])
        for r in dedup_clusters(spark, sf_dir).collect()
    )
    # the stored labels may include pair-free docs' self-clusters; the
    # full recluster's surface is pairs-only — compare on its support
    want_docs = set().union(*want) if want else set()
    got_on_support = {fs & frozenset(want_docs) for fs in got}
    got_on_support.discard(frozenset())
    assert got_on_support == want


def test_probe_reads_are_stats_pruned(spark, sf_dir, tmp_path):
    """Delta discipline, enforced: a batch probe must read a strict
    subset of the posting/hash files (the read_in stats pruning on the
    range-clustered layout) — the corpus-side cost is the batch's own
    value ranges, never the table."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "estado")
    build_dedup_state(spark, docs.where(F.col("doc_id") % 10 != 0), path)
    h_tx, s_tx, a_tx, _ = _tables(path)
    total_h = len(h_tx._manifest(h_tx.version())["files"])
    total_s = len(s_tx._manifest(s_tx.version())["files"])
    assert total_h > 1 and total_s > 1

    un_doc = docs.where(F.col("doc_id") % 10 == 0).limit(1)
    h = un_doc.select(F.md5("text").alias("h")).first()["h"]
    pruned_h = h_tx.read_in(spark, "h", [h])
    assert 0 < len(pruned_h.inputFiles()) < total_h

    from etl_python_airflow_bigquery_spark.queries.dedup import (
        shingle_postings,
    )

    un_s = [r["s"] for r in shingle_postings(un_doc).limit(3).collect()]
    if un_s:
        pruned_s = s_tx.read_in(spark, "s", un_s)
        assert 0 < len(pruned_s.inputFiles()) < total_s


def test_fenced_replay_is_noop_and_classification_stable(
    spark, sf_dir, tmp_path
):
    """ADVICE r13 (medium): ingest_dedup_state mutates FOUR tables and
    runs under retries in the rehearsal graph — a replayed batch must
    (a) leave every table's version unchanged (no double-appended
    hashes/postings/conjuntos rows poisoning _verify_jaccard's na/nb)
    and (b) return the FIRST run's classification, not a self-match of
    the batch against its own stored rows."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "estado")
    build_dedup_state(spark, docs.where(F.col("doc_id") % 10 != 0), path)
    lote = docs.where(F.col("doc_id") % 10 == 0)

    primera = sorted(map(tuple, ingest_dedup_state(
        spark, lote, path, txn=("lotes", 0)
    ).collect()))
    h_tx, s_tx, a_tx, e_tx = _tables(path)
    vs = [tx.version() for tx in (h_tx, s_tx, a_tx, e_tx)]
    filas_s = s_tx.read(spark).count()

    # crash-replay: same batch id redelivered — every write must skip
    replay = sorted(map(tuple, ingest_dedup_state(
        spark, lote, path, txn=("lotes", 0)
    ).collect()))
    assert replay == primera
    assert [tx.version() for tx in (h_tx, s_tx, a_tx, e_tx)] == vs
    assert s_tx.read(spark).count() == filas_s

    # and the tiers stay sound afterwards: a fresh batch of exact
    # clones of stored docs still classifies "exacto" (no inflated
    # na/nb false-negatives from duplicate state rows)
    clones = lote.limit(3).select(
        (F.col("doc_id") + F.lit(9_000_000)).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    got = ingest_dedup_state(spark, clones, path, txn=("lotes", 1))
    assert got.where(F.col("estado") == "exacto").count() == 3


def test_pinned_labels_survive_ingest_and_vacuum(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Time-travel classification audit: a pin_dedup_version snapshot
    of the labels keeps serving yesterday's cluster view through later
    ingests and aggressive auto-vacuum; unpinning releases it."""
    import pytest as _pytest

    from etl_python_airflow_bigquery_spark.operators import ann_index as ai
    from etl_python_airflow_bigquery_spark.operators.dedup_state import (
        maybe_auto_vacuum_dedup,
        pin_dedup_version,
        unpin_dedup_version,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "estado")
    build_dedup_state(spark, docs.where(F.col("doc_id") % 10 != 0), path)
    pins = pin_dedup_version(path, "ayer")
    ayer = sorted(map(tuple, read_dedup_labels(
        spark, path, version=pins["etiquetas"]
    ).collect()))
    assert ayer

    monkeypatch.setattr(ai, "_AUTO_VACUUM_KEEP", 2)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_SLACK", 1)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_RETENTION_S", 0.0)
    lote = docs.where(F.col("doc_id") % 10 == 0)
    for i in range(5):
        b = lote.where((F.col("doc_id") / 10).cast("bigint") % 5 == i)
        ingest_dedup_state(spark, b.select(
            (F.col("doc_id") + F.lit(1_000_000 * (i + 1))).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        ), path)
    maybe_auto_vacuum_dedup(path)

    got = sorted(map(tuple, read_dedup_labels(
        spark, path, version=pins["etiquetas"]
    ).collect()))
    assert got == ayer  # the pinned view is byte-stable

    unpin_dedup_version(path, "ayer")
    _, _, _, e_tx = _tables(path)
    e_tx.vacuum(keep_versions=1, retention_s=0.0)
    with _pytest.raises((FileNotFoundError, ValueError)):
        read_dedup_labels(spark, path, version=pins["etiquetas"]).collect()


def test_multilote_equals_sequential_ingests(spark, sf_dir, tmp_path):
    """The multi-batch fold's equivalence contract, checked literally:
    one ``ingest_dedup_state_lotes`` call over three ordered lotes
    reproduces three sequential ``ingest_dedup_state`` calls — the same
    per-lote verdicts, the same final label partition, and the same
    stored hash/posting/array row sets."""
    from etl_python_airflow_bigquery_spark.operators.dedup_state import (
        ingest_dedup_state_lotes,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    partes = [
        docs.where(F.col("doc_id") % 30 == r) for r in (0, 10, 20)
    ]

    sec_path = str(tmp_path / "secuencial")
    build_dedup_state(spark, corpus, sec_path)
    sec = []
    for i, parte in enumerate(partes):
        sec.append(
            ingest_dedup_state(spark, parte, sec_path, txn=("sec", i))
            .select("doc_id", "estado", "dup_de")
            .withColumn("lote", F.lit(i + 1).cast("int"))
        )
    want = sorted(
        (r["lote"], r["doc_id"], r["estado"], r["dup_de"])
        for frame in sec for r in frame.collect()
    )

    multi_path = str(tmp_path / "multi")
    build_dedup_state(spark, corpus, multi_path)
    lotes = docs.where(F.col("doc_id") % 10 == 0).withColumn(
        "lote",
        F.when(F.col("doc_id") % 30 == 0, F.lit(1))
        .when(F.col("doc_id") % 30 == 10, F.lit(2))
        .otherwise(F.lit(3)),
    )
    got_frame = ingest_dedup_state_lotes(
        spark, lotes, multi_path, txn=("multi", 0)
    )
    got = sorted(
        (r["lote"], r["doc_id"], r["estado"], r["dup_de"])
        for r in got_frame.collect()
    )
    assert got == want and got

    # final stored state matches table by table: identical row sets...
    for tabla, cols in (
        ("hashes", ("doc_id", "h")),
        ("conjuntos", ("doc_id",)),
        ("postings", ("doc_id", "s")),
    ):
        a = sorted(map(tuple, TxTable(f"{sec_path}/{tabla}")
                       .read(spark).select(*cols).collect()))
        b = sorted(map(tuple, TxTable(f"{multi_path}/{tabla}")
                       .read(spark).select(*cols).collect()))
        assert a == b, tabla
    # ...and the same cluster partition (min-label canonical form)
    def particion(path):
        grupos: dict = {}
        for r in read_dedup_labels(spark, path).collect():
            grupos.setdefault(r["cluster_id"], set()).add(r["doc_id"])
        return {frozenset(v) for v in grupos.values()}

    assert particion(sec_path) == particion(multi_path)


def test_multilote_fenced_replay_is_noop(spark, sf_dir, tmp_path):
    """The multi-batch commit is ONE application-transaction: a full
    replay skips every table write and returns the first run's
    classification bit for bit."""
    from etl_python_airflow_bigquery_spark.operators.dedup_state import (
        ingest_dedup_state_lotes,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "estado")
    build_dedup_state(spark, docs.where(F.col("doc_id") % 10 != 0), path)
    lotes = docs.where(F.col("doc_id") % 10 == 0).withColumn(
        "lote",
        F.when(F.col("doc_id") % 30 == 0, F.lit(1))
        .when(F.col("doc_id") % 30 == 10, F.lit(2))
        .otherwise(F.lit(3)),
    )
    primera = sorted(map(tuple, ingest_dedup_state_lotes(
        spark, lotes, path, txn=("ml", 0)
    ).collect()))
    h_tx, s_tx, a_tx, e_tx = _tables(path)
    vs = [tx.version() for tx in (h_tx, s_tx, a_tx, e_tx)]

    replay = sorted(map(tuple, ingest_dedup_state_lotes(
        spark, lotes, path, txn=("ml", 0)
    ).collect()))
    assert replay == primera
    assert [tx.version() for tx in (h_tx, s_tx, a_tx, e_tx)] == vs


def _job_ids_between_markers(sc, grupo, run):
    """(job ids ``run`` started, job ids of group ``grupo``): ``run`` is
    bracketed by two one-task marker jobs, and job ids are assigned in
    submission order, so every job it started lies strictly between the
    markers' ids."""
    bus = sc._jsc.sc().listenerBus()

    def marker(nombre):
        sc.setJobGroup(nombre, nombre)
        sc.parallelize([0], 1).count()
        bus.waitUntilEmpty()
        return sc.statusTracker().getJobIdsForGroup(nombre)[0]

    try:
        antes = marker(f"{grupo}-antes")
        sc.setJobGroup(grupo, "dedup state under test")
        run()
        despues = marker(f"{grupo}-despues")
    finally:
        sc._jsc.clearJobGroup()
    return (
        set(range(antes + 1, despues)),
        set(sc.statusTracker().getJobIdsForGroup(grupo)),
    )


def test_every_state_job_runs_in_the_callers_job_group(
    spark, sf_dir, tmp_path
):
    """The overlapped lanes of build and ingest inherit the caller's job
    group: every job either call starts is attributable to it through
    the status tracker (and so cancellable with it). The job counts are
    pinned too: a change in them is a change in the build's shape."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "estado")
    sc = spark.sparkContext

    iniciados, en_grupo = _job_ids_between_markers(
        sc, "build", lambda: build_dedup_state(
            spark, docs.where(F.col("doc_id") % 10 != 0), path
        ),
    )
    assert en_grupo == iniciados and len(iniciados) == 24

    iniciados, en_grupo = _job_ids_between_markers(
        sc, "ingest", lambda: ingest_dedup_state(
            spark, docs.where(F.col("doc_id") % 10 == 0), path
        ).collect(),
    )
    assert en_grupo == iniciados and len(iniciados) == 45


def test_failed_commit_lane_cancels_siblings_and_retry_matches_clean_run(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A failing lane inside the overlapped fold commit: the conjuntos
    append raises while the postings lane runs a long job. The ingest
    re-raises the conjuntos error, the postings job is cancelled rather
    than run out, and a retry with the same txn returns the same
    classification and leaves the same stored rows as a clean run."""
    import threading
    import time

    import pytest

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    lote = docs.where(F.col("doc_id") % 10 == 0)

    limpio = str(tmp_path / "limpio")
    build_dedup_state(spark, corpus, limpio)
    want = sorted(map(tuple, ingest_dedup_state(
        spark, lote, limpio, txn=("lotes", 0)
    ).collect()))

    path = str(tmp_path / "estado")
    build_dedup_state(spark, corpus, path)
    real_append = TxTable.append
    largo_lanzado = threading.Event()
    hermano: list[BaseException] = []

    def append(self, df, txn=None):
        if self.path.endswith("/postings"):
            largo_lanzado.set()
            try:
                spark.sparkContext.parallelize(range(2), 2).foreach(
                    lambda _: time.sleep(120)
                )
            except BaseException as e:
                hermano.append(e)
                raise
        if self.path.endswith("/conjuntos"):
            largo_lanzado.wait(60)
            time.sleep(3)  # the sibling's job is running by now
            raise RuntimeError("conjuntos lane failed")
        return real_append(self, df, txn=txn)

    monkeypatch.setattr(TxTable, "append", append)
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="conjuntos lane failed"):
        ingest_dedup_state(spark, lote, path, txn=("lotes", 0)).collect()
    assert time.monotonic() - t0 < 90  # the 120 s sibling did not run out
    assert hermano and "cancel" in str(hermano[0]).lower()
    monkeypatch.setattr(TxTable, "append", real_append)

    got = sorted(map(tuple, ingest_dedup_state(
        spark, lote, path, txn=("lotes", 0)
    ).collect()))
    assert got == want and got
    for tabla in ("hashes", "postings", "conjuntos", "etiquetas"):
        a = sorted(map(tuple, TxTable(f"{limpio}/{tabla}").read(spark).collect()))
        b = sorted(map(tuple, TxTable(f"{path}/{tabla}").read(spark).collect()))
        assert a == b, tabla
