"""Persistent lexical (inverted-postings) index lifecycle
(operators/lex_index.py): build once, serve from the stored postings
only, append without retokenizing the corpus, stats-pruned posting
reads — the BM25 twin of test_ann_index.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.operators.lex_index import (
    _postings,
    add_to_lex_index,
    build_lex_index,
    lex_meta_current,
    search_bm25_lex_index,
)
from etl_python_airflow_bigquery_spark.tables import load_table


def _terms_for(spark, path, k=3):
    post_tx = _postings(path)
    n = lex_meta_current(spark, path)["n"]
    df_t = post_tx.read(spark).groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    return [
        r["token"]
        for r in df_t.where(F.col("df") * 20 >= n)
        .orderBy("df", "token").limit(k).collect()
    ]


def test_build_and_serve_equals_brute_bm25(spark, sf_dir, tmp_path):
    """The index is EXACT: serving the brute query's own terms from the
    stored postings reproduces busqueda_bm25 row for row."""
    from etl_python_airflow_bigquery_spark.queries import REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "lex")
    stats = build_lex_index(spark, docs, path)
    assert stats["n"] == docs.count() and stats["version"] == 0
    import os

    # the whole index: one txlog table plus its metadata file
    assert sorted(os.listdir(path)) == ["lex_meta.json", "postings"]

    got = sorted(
        map(tuple, search_bm25_lex_index(
            spark, _terms_for(spark, path), path
        ).collect())
    )
    want = sorted(
        map(tuple, REGISTRY["busqueda_bm25"].fn(spark, sf_dir).collect())
    )
    assert got == want


def test_serve_reads_only_query_term_files(spark, sf_dir, tmp_path):
    """The posting read must be stats-PRUNED to the query terms' token
    ranges — fewer input files than the manifest holds (the read_in
    contract on the token-range-clustered layout)."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "lex")
    build_lex_index(spark, docs, path)
    post_tx = _postings(path)
    total = len(post_tx._manifest(post_tx.version())["files"])
    assert total > 1  # range clustering produced a multi-file layout
    pruned = post_tx.read_in(spark, "token", _terms_for(spark, path))
    assert 0 < len(pruned.inputFiles()) < total


def test_append_equals_rebuild_and_meta_heals(spark, sf_dir, tmp_path):
    """Incremental growth: building on half the corpus then appending
    the other half serves exactly like a from-scratch build (the
    posting algebra is per-document); metadata maintains n/avgdl and
    a lost entry heals by recount from the postings snapshot."""
    docs = load_table(spark, sf_dir, "documents")
    mitad_a = docs.where(F.col("doc_id") % 2 == 0)
    mitad_b = docs.where(F.col("doc_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    build_lex_index(spark, mitad_a, inc)
    add_to_lex_index(spark, mitad_b, inc)
    full = str(tmp_path / "full")
    build_lex_index(spark, docs, full)

    meta_full = lex_meta_current(spark, full)
    meta_inc = lex_meta_current(spark, inc)
    assert meta_inc["n"] == meta_full["n"]
    assert meta_inc["avgdl_mili"] == meta_full["avgdl_mili"]
    terms = _terms_for(spark, full)
    a = sorted(map(tuple, search_bm25_lex_index(spark, terms, inc).collect()))
    b = sorted(map(tuple, search_bm25_lex_index(spark, terms, full).collect()))
    assert a == b

    # a lost entry (simulated lost RMW) heals by snapshot recount
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        _read_counts,
        _write_meta,
    )

    _write_meta(inc, {})
    healed = lex_meta_current(spark, inc)
    assert healed == meta_inc
    assert str(meta_inc["version"]) in _read_counts(inc)  # written back


def test_version_pinned_lexical_serve(spark, sf_dir, tmp_path):
    """Time-travel serving: a search pinned to the pre-append postings
    version must not see the appended documents."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "lex")
    build_lex_index(spark, docs, path)
    terms = _terms_for(spark, path)
    antes = sorted(
        map(tuple, search_bm25_lex_index(spark, terms, path).collect())
    )
    # append CLONES of the top doc under new ids — current serve shifts,
    # pinned serve must not
    clones = docs.limit(5).select(
        (F.col("doc_id") + F.lit(9_000_000)).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    add_to_lex_index(spark, clones, path)
    pinned = sorted(
        map(tuple,
            search_bm25_lex_index(spark, terms, path, version=0).collect())
    )
    assert pinned == antes
    ahora = search_bm25_lex_index(spark, terms, path).where(
        F.col("doc_id") >= 9_000_000
    )
    assert ahora.count() >= 0  # current snapshot readable with the adds


def test_indexed_hybrid_lexical_equals_brute_multi(spark, sf_dir, tmp_path):
    """The stored-postings hybrid lexical ranker must equal the brute
    multi-query frame row for row (the index is exact; only the SCAN
    shape changes — posting-file reads instead of a tf rebuild)."""
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        hibrida_lexical_top_multi_indexada,
    )
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        hibrida_lexical_top_multi,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "lex")
    build_lex_index(spark, docs, path)
    qids_l = [0, 7, 19]
    qids = spark.createDataFrame([(q,) for q in qids_l], "query_id BIGINT")
    brute = sorted(
        map(tuple, hibrida_lexical_top_multi(spark, sf_dir, qids).collect())
    )
    served = sorted(
        map(tuple, hibrida_lexical_top_multi_indexada(
            spark, sf_dir, path, qids_l
        ).collect())
    )
    assert served == brute and served


def test_lex_auto_vacuum_soak_bounded_files_and_pinned_reader(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Lifecycle parity with the ANN index: a long lexical ingest soak
    must leave a BOUNDED on-disk file count (the ingest-triggered
    vacuum reclaims superseded posting manifests/files), while a
    pin_lex_version-tagged snapshot survives every concurrent vacuum —
    and keeps SERVING the same ranking — until it is unpinned."""
    import os as _os

    import pytest as _pytest

    from etl_python_airflow_bigquery_spark.operators import ann_index as ai
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        maybe_auto_vacuum_lex,
        pin_lex_version,
        unpin_lex_version,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "lex")
    build_lex_index(spark, docs.where(F.col("doc_id") % 2 == 0), path)
    pinned_v = pin_lex_version(path, "release_v0")
    terms = _terms_for(spark, path)
    quiero = sorted(map(tuple, search_bm25_lex_index(
        spark, terms, path, version=pinned_v
    ).collect()))

    # tight SHARED policy (the lex gate reads ann_index's knobs) so the
    # soak exercises many vacuum cycles; retention 0 = no in-flight
    # writers in this single-threaded test
    monkeypatch.setattr(ai, "_AUTO_VACUUM_KEEP", 3)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_SLACK", 2)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_RETENTION_S", 0.0)

    def files_on_disk():
        n = 0
        for _raiz, _d, files in _os.walk(path):
            n += len(files)
        return n

    conteos = []
    base = docs.where(F.col("doc_id") % 2 == 1).limit(20)
    for i in range(24):
        lote = base.select(
            (F.col("doc_id") + F.lit(1_000_000 * (i + 1))).alias("doc_id"),
            "text",
        )
        add_to_lex_index(spark, lote, path)
        conteos.append(files_on_disk())

    post_tx = _postings(path)
    assert conteos[-1] <= max(conteos)
    assert conteos[-1] < 2 * 24  # under a file + a manifest per add: GC ran
    assert len(post_tx._versions()) <= 3 + 2 + 1

    # the pinned snapshot still serves the original ranking
    got = sorted(map(tuple, search_bm25_lex_index(
        spark, terms, path, version=pinned_v
    ).collect()))
    assert got == quiero

    # and the tag is the protection: unpin + enough cycles reclaims it
    unpin_lex_version(path, "release_v0")
    for i in range(3):
        lote = base.select(
            (F.col("doc_id") + F.lit(99_000_000 + i * 1000)).alias("doc_id"),
            "text",
        )
        add_to_lex_index(spark, lote, path)
    maybe_auto_vacuum_lex(path)
    with _pytest.raises((FileNotFoundError, ValueError)):
        search_bm25_lex_index(spark, terms, path, version=pinned_v).collect()


def test_pin_after_compaction_survives_vacuum_desynced_counters(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE-r12 (high): a pin taken at the CURRENT postings version
    after compactions (two postings versions per add) must survive
    vacuum cycles that reclaim untagged history, and the pinned
    time-travel serve must keep returning the pinned ranking."""
    from etl_python_airflow_bigquery_spark.operators import ann_index as ai
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        maybe_auto_vacuum_lex,
        pin_lex_version,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "lex")
    build_lex_index(spark, docs.where(F.col("doc_id") % 2 == 0), path)
    # force a compaction on EVERY add: any append puts the postings
    # manifest past the gate, so the postings counter advances twice
    # per add
    monkeypatch.setattr(ai, "_COMPACT_FILE_GATE", 2)

    base = docs.where(F.col("doc_id") % 2 == 1).limit(20)
    for i in range(3):
        lote = base.select(
            (F.col("doc_id") + F.lit(1_000_000 * (i + 1))).alias("doc_id"),
            "text",
        )
        add_to_lex_index(spark, lote, path)

    terms = _terms_for(spark, path)
    pinned_v = pin_lex_version(path, "release_post_compact")
    quiero = sorted(map(tuple, search_bm25_lex_index(
        spark, terms, path, version=pinned_v
    ).collect()))
    assert quiero

    # grow + vacuum aggressively; the pinned serve must keep returning
    # the pinned ranking (the tagged snapshot is a GC root)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_KEEP", 2)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_SLACK", 1)
    monkeypatch.setattr(ai, "_AUTO_VACUUM_RETENTION_S", 0.0)
    for i in range(6):
        lote = base.select(
            (F.col("doc_id") + F.lit(50_000_000 + i * 1000)).alias("doc_id"),
            "text",
        )
        add_to_lex_index(spark, lote, path)
    maybe_auto_vacuum_lex(path)

    got = sorted(map(tuple, search_bm25_lex_index(
        spark, terms, path, version=pinned_v
    ).collect()))
    assert got == quiero


def test_pre_dl_index_is_refused(spark, sf_dir, tmp_path):
    """A postings snapshot without the dl column cannot be grown or
    served: an append would read the old files' dl as NULL and a serve
    would rank without length normalization. Both raise, naming the
    rebuild, and the refused add commits nothing."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "lex")
    build_lex_index(spark, docs.where(F.col("doc_id") % 2 == 0), path)
    terms = _terms_for(spark, path)
    post_tx = _postings(path)
    post_tx.overwrite(post_tx.read(spark).drop("dl"))
    v = post_tx.version()

    with pytest.raises(ValueError, match="build_lex_index"):
        add_to_lex_index(spark, docs.where(F.col("doc_id") % 2 == 1), path)
    assert post_tx.version() == v
    with pytest.raises(ValueError, match="build_lex_index"):
        search_bm25_lex_index(spark, terms, path).collect()


def test_crash_before_meta_write_serves_like_fresh_build(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash between the add's postings flip and its metadata write
    leaves the new version without counts; the next serve recounts
    n/avgdl from that postings snapshot and equals a fresh build over
    the same documents."""
    from etl_python_airflow_bigquery_spark.operators import lex_index as li

    docs = load_table(spark, sf_dir, "documents")
    inc = str(tmp_path / "inc")
    build_lex_index(spark, docs.where(F.col("doc_id") % 2 == 0), inc)
    v0 = _postings(inc).version()

    def crash(path, meta):
        raise OSError("injected crash before the meta write")

    with monkeypatch.context() as m:
        m.setattr(li, "_write_meta", crash)
        with pytest.raises(OSError, match="injected"):
            add_to_lex_index(spark, docs.where(F.col("doc_id") % 2 == 1), inc)
    assert _postings(inc).version() == v0 + 1  # the flip landed

    full = str(tmp_path / "full")
    build_lex_index(spark, docs, full)
    terms = _terms_for(spark, full)
    got = sorted(map(tuple, search_bm25_lex_index(spark, terms, inc).collect()))
    want = sorted(map(tuple, search_bm25_lex_index(spark, terms, full).collect()))
    assert got == want and got
    meta_inc, meta_full = lex_meta_current(spark, inc), lex_meta_current(spark, full)
    assert (meta_inc["n"], meta_inc["dl_total"]) == (
        meta_full["n"], meta_full["dl_total"]
    )


@pytest.mark.parametrize("crash", [False, True], ids=["clean", "crash"])
def test_streaming_lex_ingest_grows_index_and_replays_as_noop(
    spark, sf_dir, tmp_path, monkeypatch, crash
):
    """run_lex_ingest: documents stream into the persistent lexical
    index batch-by-batch (batch-only tokenize, one manifest flip per
    micro-batch); after draining, the served BM25 over the
    streamed-complete corpus equals the brute registry query row for
    row, and replaying the drained stream from its checkpoint is a
    no-op (file-tracking idempotency). ``crash``: the first
    micro-batch's add lands and the batch then fails before the stream
    commits it; the rerun from the same checkpoint redelivers it, and
    the txn fence keeps it from appending or counting twice."""
    import os

    from etl_python_airflow_bigquery_spark.operators import lex_index
    from etl_python_airflow_bigquery_spark.queries import REGISTRY
    from etl_python_airflow_bigquery_spark.streaming.jobs import run_lex_ingest

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "lex")
    build_lex_index(spark, docs.where(F.col("doc_id") % 2 == 0), path)
    post_tx = _postings(path)
    v0 = post_tx.version()

    src = str(tmp_path / "stream")
    os.makedirs(src)
    impar = docs.where(F.col("doc_id") % 2 == 1)
    impar.where(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
        src + "/f1.parquet"
    )
    impar.where(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
        src + "/f2.parquet"
    )
    ck = str(tmp_path / "ck")
    if crash:
        real = lex_index.add_to_lex_index

        def add_then_crash(*args, **kwargs):
            v = real(*args, **kwargs)
            monkeypatch.setattr(lex_index, "add_to_lex_index", real)
            raise RuntimeError(f"crash after flip {v}")

        monkeypatch.setattr(lex_index, "add_to_lex_index", add_then_crash)
        with pytest.raises(Exception, match="crash after flip"):
            run_lex_ingest(spark, src, path, ck)
        assert post_tx.version() == v0 + 1
    run_lex_ingest(spark, src, path, ck)
    assert post_tx.version() == v0 + 2  # one flip per micro-batch
    assert lex_meta_current(spark, path)["n"] == docs.count()
    assert post_tx.read(spark).groupBy("token", "doc_id").count().where(
        F.col("count") > 1
    ).count() == 0

    # streamed-complete corpus == the brute query's corpus ⇒ identical
    # ranking (the index is exact, not approximate)
    got = sorted(map(tuple, search_bm25_lex_index(
        spark, _terms_for(spark, path), path
    ).collect()))
    want = sorted(
        map(tuple, REGISTRY["busqueda_bm25"].fn(spark, sf_dir).collect())
    )
    assert got == want

    # crash-replay: re-running the drained stream moves nothing
    n_antes = lex_meta_current(spark, path)["n"]
    run_lex_ingest(spark, src, path, ck)
    assert post_tx.version() == v0 + 2
    assert lex_meta_current(spark, path)["n"] == n_antes
