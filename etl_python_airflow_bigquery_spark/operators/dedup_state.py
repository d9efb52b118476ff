"""Persistent DEDUP STATE: the third stored-index family, next to the
ANN index (operators/ann_index.py) and the lexical inverted index
(operators/lex_index.py) — incremental deduplication without a corpus
rescan.

The registered incremental rows (`dedup_incremental`,
`dedup_clusters_incremental`) prove the ALGEBRA — batch probes indexes,
labels fold via star contraction — but they rebuild the corpus-side
hash/posting frames inline every call so the DuckDB oracle can replay
them. Production does not: the dedup memory is BUILT once, STORED, and
PROBED per arriving batch; the per-batch cost is the batch's own
shingles × their document frequency, never corpus². This module is that
lifecycle over the engine's own txlog tables:

* ``build_dedup_state`` — one corpus pass → four tables:
  ``hashes`` (h, doc_id; range-clustered on h), ``postings``
  (s, doc_id; range-clustered on the shingle hash s so per-file min/max
  stats stay tight), ``conjuntos`` (doc_id, arr — each doc's sorted
  shingle array for map-side exact-Jaccard verification; clustered on
  doc_id), and ``etiquetas`` (doc_id, cluster_id — the corpus' near-dup
  component labels from the shared PPJoin pair engine +
  ``propagate_min_labels``).
* ``ingest_dedup_state`` — the daily face: classify an arriving batch
  against the STORED tables (exact tier: hash equi-probe; near tier:
  one prefix-filtered candidate join of the batch's shingles against
  the stored postings AND the batch's own, then an array verify — the
  same exact answer as the reference `dedup_incremental`,
  queries/dedup.py), fold every verified edge, stored and in-batch,
  into the stored labels via ``cc_incremental`` (O(batch+labels), star
  contraction — provably equal to a full recluster), and APPEND the
  batch's own hashes/postings/arrays so tomorrow's batch probes
  today's docs too. Posting compaction past the shared file gate and
  keep+slack auto-vacuum ride the same policy as the other two index
  families.
* ``ingest_dedup_state_lotes`` folds k ordered batches in one plan, and
  ``classify_dedup_state`` classifies read-only against a current or
  pinned snapshot. All three run the one classification core,
  ``_clasificacion``: a single batch is its one-lote case.

At 100 TB: the only corpus-scale work happened once, at build; a batch
touches the posting files its own shingles' ranges admit, the hash
files its own hashes admit, and the array files of its candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.functions import overlap
from etl_python_airflow_bigquery_spark.operators.txlog import TxTable

# Target file counts for the range clusterings (same role as
# lex_index._LEX_FILES: enough ranges that a batch's probes prune most
# files, few enough that per-file overhead stays negligible).
_STATE_FILES = 16

# Driver-state guard for probe value lists (batch hashes / candidate
# doc_ids collected for read_in stats pruning): read_in's membership
# test is O(files × values) ON THE DRIVER, so past this cap the probe
# switches to a broadcast left-semi join — the stored table scans once
# map-side-filtered, nothing shuffles, nothing collects (measured: an
# 87k-value read_in spent 25 s in the driver loop; the semi join
# constructs in milliseconds).
_PROBE_COLLECT_CAP = 20_000


def _tables(path: str) -> tuple[TxTable, TxTable, TxTable, TxTable]:
    return (
        TxTable(f"{path}/hashes", stats_cols=["h"]),
        TxTable(f"{path}/postings", stats_cols=["s"]),
        TxTable(f"{path}/conjuntos", stats_cols=["doc_id"]),
        TxTable(f"{path}/etiquetas"),
    )


def _frames(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(hashes, postings, arrays) for a documents frame. The postings
    are checkpointed (lazily) and the per-doc sorted shingle arrays
    aggregate from that checkpoint: the pair engine's verify step, the
    arrays and the postings write all consume it, and an arrays lineage
    rooted at the raw documents would re-tokenize the corpus on its
    first materialization (guide §2.4)."""
    from etl_python_airflow_bigquery_spark.queries.dedup import (
        shingle_postings,
    )

    hashes = docs.select("doc_id", F.md5("text").alias("h"))
    sh = shingle_postings(docs).localCheckpoint(eager=False)
    arrays = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("arr")
    ).localCheckpoint(eager=False)
    return hashes, sh, arrays


def _sin_lote(frame: DataFrame, docs: DataFrame) -> DataFrame:
    """``frame`` without the rows of ``docs``' own doc_ids. Replay
    determinism: a fenced replay finds the batch's OWN rows already
    stored (the first run appended them), and without this exclusion
    every replayed doc would classify "exacto" against itself. On a
    first run the split is disjoint and the anti join filters nothing;
    the batch id set broadcasts (batch-bounded)."""
    return frame.join(F.broadcast(docs.select("doc_id")), "doc_id", "left_anti")


def build_dedup_state(spark: SparkSession, docs: DataFrame, path: str) -> dict:
    """One corpus pass: shingle, hash, cluster, persist. Returns
    {'n_docs', 'n_pares', 'version'} (the postings version).

    The four table commits are INDEPENDENT once their inputs are
    checkpointed, so they run as overlapped lanes (``overlap``, guide
    §2.6) while the calling thread walks the critical path (postings →
    arrays → pair engine → labels → label write): the scheduler
    back-fills the side lanes' tasks under the pair engine's stages
    instead of running four write jobs end to end (r15 profile: the
    sequential writes added ~1.7 s warm / ~3.9 s cold on top of the
    critical path at sf0.1). The hash lane shares no frame with the
    pair chain and starts at once; the posting and array lanes start
    from inside the critical path, after ``propagate_min_labels`` has
    run the fused job that first materializes the shared sh/arrays
    checkpoints, so they read checkpoint blocks instead of
    re-tokenizing the corpus concurrently."""
    from etl_python_airflow_bigquery_spark.queries.dedup import (
        pares_jaccard_prefijo,
        propagate_min_labels,
    )

    hashes, sh, arrays = _frames(docs)
    # two consumers in the hash lane (the range partitioner's SAMPLING
    # pass + the write) plus the n_docs count would each re-scan
    # documents and re-md5 the full text — checkpoint the narrow
    # (doc_id, h) frame once instead (guide §2.4); it materializes
    # inside the hash lane's first job, exclusively
    hashes = hashes.localCheckpoint(eager=False)
    h_tx, s_tx, a_tx, e_tx = _tables(path)

    def _lane_hashes() -> int:
        h_tx.overwrite(hashes.repartitionByRange(_STATE_FILES, "h"))
        # one hash row per doc — counts the checkpointed narrow frame
        return hashes.count()

    def _critical() -> tuple:
        # checkpoint the verified pair list ONCE: the symmetric edge
        # list -> labels and n_pares would otherwise each re-run the
        # full prefix-filter + verify engine (~2-4 s per extra run at
        # sf0.1 — measured r14); the pair list itself is tiny
        pares = (
            pares_jaccard_prefijo(sh, arr=arrays)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=False)
        )
        sym = pares.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionByName(
            pares.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        etiquetas = propagate_min_labels(sym).select("doc_id", "cluster_id")

        def _labels() -> int:
            e_tx.overwrite(etiquetas)
            return pares.count()

        return overlap(
            _labels,
            lambda: s_tx.overwrite(sh.repartitionByRange(_STATE_FILES, "s")),
            lambda: a_tx.overwrite(
                arrays.repartitionByRange(_STATE_FILES, "doc_id")
            ),
        )

    (n_pares, v, _), n_docs = overlap(_critical, _lane_hashes)
    return {"n_docs": n_docs, "n_pares": n_pares, "version": v}


def _probe_read(
    spark: SparkSession,
    tx: TxTable,
    col: str,
    frame: DataFrame,
    version: int | None = None,
):
    """Read of ``tx`` restricted to ``frame``'s distinct values of
    ``col``: file-pruned ``read_in`` when the value set is small enough
    for the driver-side stats loop, else ONE map-side-filtered scan via
    a broadcast left-semi join (no shuffle of the stored side, no
    driver collect). ``version`` pins the snapshot (time travel)."""
    filas = frame.select(col).distinct().limit(_PROBE_COLLECT_CAP + 1).collect()
    if len(filas) <= _PROBE_COLLECT_CAP:
        return tx.read_in(spark, col, [r[0] for r in filas], version=version)
    return tx.read(spark, version=version).join(
        F.broadcast(frame.select(col).distinct()), col, "left_semi"
    )


def _commit_fold(
    spark: SparkSession,
    path: str,
    aristas: DataFrame,
    hashes_n: DataFrame,
    sh_n: DataFrame,
    arrays_n: DataFrame,
    txn: tuple[str, int] | None,
) -> None:
    """Fold the new (src, dst) edges into the stored labels
    (``cc_incremental``, star contraction) and commit the four tables:
    labels overwritten, the batch's hashes/postings/arrays appended.
    The four commits are independent (every shared input is
    checkpoint-materialized by cc_incremental's edge collect), so they
    run as overlapped lanes instead of four back-to-back write jobs;
    each keeps its own (app_id, batch) fence, so a retry after a
    partial failure applies exactly the commits that did not land. The
    label read is pinned to its manifest at construction (snapshot
    isolation), so overlapping its overwrite with the appends cannot
    race it. Posting compaction past the shared file gate and the
    keep+slack auto-vacuum follow."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _COMPACT_FILE_GATE,
    )
    from etl_python_airflow_bigquery_spark.queries.dedup import (
        cc_incremental,
    )

    h_tx, s_tx, a_tx, e_tx = _tables(path)
    etiquetas = e_tx.read(spark).select("doc_id", "cluster_id")
    nuevas = cc_incremental(etiquetas, aristas).select("doc_id", "cluster_id")
    _, _, v, _ = overlap(
        lambda: e_tx.overwrite(nuevas, txn=txn),
        lambda: h_tx.append(hashes_n, txn=txn),
        lambda: s_tx.append(sh_n, txn=txn),
        lambda: a_tx.append(arrays_n, txn=txn),
    )
    if len(s_tx._manifest(v)["files"]) >= _COMPACT_FILE_GATE:
        s_tx.optimize_compact(spark, n_files=_STATE_FILES, cluster_col="s")
    maybe_auto_vacuum_dedup(path)


def ingest_dedup_state(
    spark: SparkSession,
    docs_new: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
) -> DataFrame:
    """Classify the batch against the stored state, fold it in, and
    return (doc_id, estado ∈ {exacto, cercano, nuevo}, dup_de) — the
    same surface (and, on the registered %10 split, the same
    value-hashed answer) as the inline `dedup_incremental` row.

    A single batch is the one-lote case of ``ingest_dedup_state_lotes``
    and runs through it: the stored tables are read stats-PRUNED to the
    batch's own hash/shingle/candidate values, in-batch pairs come out
    of the same candidate join as stored pairs, and the label fold is
    ``cc_incremental`` — O(batch + labels). Nothing re-tokenizes or
    re-scans the corpus.

    ``txn=(app_id, batch_id)``: the SAME application-transaction fence
    the other two index families' streaming ingests carry (ADVICE r13 —
    this path mutates FOUR tables with retries in the rehearsal graph,
    so a partial failure + retry without a fence double-appends:
    duplicated ``conjuntos`` rows inflate ``_verify_jaccard``'s na/nb
    while ``array_intersect`` dedups c, permanently false-negativing
    true near-dups). With the fence, each table independently skips an
    already-applied (app_id, batch_id); and the stored reads anti-join
    the batch's OWN doc_ids out, so a full replay returns the first
    run's classification bit for bit instead of matching the batch
    against itself."""
    return ingest_dedup_state_lotes(
        spark, docs_new.withColumn("lote", F.lit(1)), path, txn=txn
    ).drop("lote")


def ingest_dedup_state_lotes(
    spark: SparkSession,
    docs_lotes: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
) -> DataFrame:
    """MULTI-BATCH fold: ingest k ordered batches in ONE plan.
    ``docs_lotes`` carries a ``lote`` column (1..k, the arrival order;
    doc_ids unique across lotes). The call is EQUIVALENT to k
    sequential single-batch ingests in ``lote`` order — same per-batch
    classification, same final labels, same stored rows — but pays the
    classification plan, the label fold, and the four table commits
    ONCE. Returns (lote, doc_id, estado, dup_de).

    Every classification runs through the one core, ``_clasificacion``
    (the single-batch ingest is lote 1 of it; the read-only
    ``classify_dedup_state`` is lote 1 against a pinned snapshot).
    Why the collapse of k batches into one plan is exact, tier by tier:

    * **Visibility is a predicate, not a loop.** Sequentially, batch b
      probes stored tables that already contain batches < b. Here the
      probe side is (stored ⊎ all batch frames) tagged with a lote
      (stored = 0), and every match requires ``lote_b < lote_a`` — the
      same visible set, computed without materializing intermediate
      table versions.
    * **One global prefix order serves every batch.** The one-sided
      prefix filter is exact for J ≥ 0.5 under ANY fixed total order
      of a doc's shingles (the pigeonhole argument in
      ``_clasificacion``), so ranking by document frequency over the
      WHOLE probe union — rather than each batch's own pruned view —
      changes candidate counts, never the verified answer.
    * **Same-lote pairs come out of the same candidate join.** The
      join also admits ``lote_b == lote_a`` partners (excluding
      self-matches); the verified same-lote pairs feed the fold as
      edges and never set ``estado``/``dup_de``, which only read
      strictly-earlier partners. So a batch's in-batch near-dups share
      a cluster after the fold while each reads "nuevo".
    * **One fold of all edges = k sequential folds.** Connected
      components are confluent: labels after folding E₁ then E₂ equal
      labels after folding E₁ ∪ E₂ (min-label canonical form), so
      ``cc_incremental`` runs once over the union.

    The ``txn`` fence covers the WHOLE multi-batch commit (one
    application-transaction per call, the single-batch discipline), and
    the stored probes anti-join every lote's doc_ids, so a fenced
    replay reproduces the first run's classification exactly."""
    h_tx, s_tx, a_tx, _ = _tables(path)
    c = _clasificacion(spark, docs_lotes, h_tx, s_tx, a_tx)
    aristas = c["verificados"].select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    _commit_fold(
        spark, path, aristas, c["hashes_n"], c["sh_n"], c["arrays_n"], txn
    )
    return c["salida"]


def classify_dedup_state(
    spark: SparkSession,
    docs_new: DataFrame,
    path: str,
    pins: dict | None = None,
) -> DataFrame:
    """READ-ONLY classification of a batch against the stored state —
    nothing folds, nothing appends. ``pins`` (the
    ``pin_dedup_version`` return value: {table: version}) pins the
    probed snapshot, which is the TIME-TRAVEL CLASSIFICATION AUDIT:
    "what would YESTERDAY's dedup memory have said about this batch" —
    run after later ingests folded more batches in, and diffed against
    the current-snapshot answer to show exactly which verdicts the
    interleaved ingests changed (the registered
    ``dedup_clasificacion_pinada`` row).

    The ingest's replay rule holds here too: the stored reads exclude
    the batch's own doc_ids, so a batch the state already holds
    classifies each doc against the OTHER stored docs, never against
    its own stored rows."""
    h_tx, s_tx, a_tx, _ = _tables(path)
    return _clasificacion(
        spark, docs_new.withColumn("lote", F.lit(1)), h_tx, s_tx, a_tx,
        pins=pins,
    )["salida"].drop("lote")


def _clasificacion(
    spark: SparkSession,
    docs_lotes: DataFrame,
    h_tx: TxTable,
    s_tx: TxTable,
    a_tx: TxTable,
    pins: dict | None = None,
) -> dict:
    """The one classification core: ``docs_lotes`` (with its ``lote``
    column) against the stored hash/posting/array tables, at the
    current snapshot or at ``pins`` ({table: version}). Returns
    ``salida`` (lote, doc_id, estado, dup_de), the verified pairs
    ``verificados`` (doc_a, doc_b, jaccard) — cross-lote, stored and
    same-lote, every one a fold edge — and the batch frames
    ``hashes_n``/``sh_n``/``arrays_n`` an ingest appends."""
    from etl_python_airflow_bigquery_spark.queries.dedup import (
        _verify_jaccard_arrays,
    )

    pins = pins or {}
    lote_map = docs_lotes.select("doc_id", "lote")
    hashes_n, sh_n, arrays_n = _frames(docs_lotes)
    hashes_l = hashes_n.join(F.broadcast(lote_map), "doc_id")
    sh_l = sh_n.join(F.broadcast(lote_map), "doc_id")

    # the exact-tier hash probe and the near-tier shingle probe each
    # collect the batch's own value set before pruning the stored read
    # — two independent driver round-trips that overlap as threads
    # (guide §2.6; hashes_n and sh_n have disjoint lineages)
    probe_h_raw, probe_s_raw = overlap(
        lambda: _probe_read(spark, h_tx, "h", hashes_n, pins.get("hashes")),
        lambda: _probe_read(spark, s_tx, "s", sh_n, pins.get("postings")),
    )

    # exact tier: stored hashes (lote 0) ⊎ earlier-lote batch hashes
    probe_h = (
        _sin_lote(probe_h_raw, docs_lotes)
        .select("h", F.col("doc_id").alias("viejo"), F.lit(0).alias("lote_b"))
        .unionByName(
            hashes_l.select(
                "h", F.col("doc_id").alias("viejo"),
                F.col("lote").alias("lote_b"),
            )
        )
    )
    exacto = (
        hashes_l.join(probe_h, "h")
        .where(F.col("lote_b") < F.col("lote"))
        .groupBy("doc_id")
        .agg(F.min("viejo").alias("dup_exacto"))
    )

    # near tier: one probe union, one prefix, one candidate join.
    # One-sided prefix filter, EXACT for J ≥ 0.5 by pigeonhole: a
    # qualifying pair overlaps in ≥ ⌈na/2⌉ shingles, and in ANY fixed
    # total order of doc_a's na shingles at most ⌈na/2⌉ − 1 of them can
    # sit past position na//2 + 1 — so at least one overlap shingle is
    # inside the prefix, and the prefix↔postings join finds the pair.
    # The order ranks rare shingles first (df over the probe union,
    # the batches' own postings included); a shingle absent everywhere
    # still ranks last via the coalesce sentinel. Without this filter
    # the raw s-join explodes on high-df shingles: 6.7M candidate pairs
    # for a 1.7k-doc batch on the clone-heavy 10x replica, and the
    # verify pays 115 s for them.
    probe = (
        _sin_lote(probe_s_raw, docs_lotes)
        .select(F.col("doc_id").alias("doc_b"), "s", F.lit(0).alias("lote_b"))
        .unionByName(
            sh_l.select(
                F.col("doc_id").alias("doc_b"), "s",
                F.col("lote").alias("lote_b"),
            )
        )
        .localCheckpoint(eager=False)
    )
    df_s = probe.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy("df", "s")
    w_all = Window.partitionBy("doc_id")
    ranked = (
        sh_n.join(df_s, "s", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(2_000_000_000)))
        .select(
            "doc_id",
            "s",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_all).alias("n"),
        )
    )
    # the lote attaches after the ranking: with the broadcast lote join
    # below the df join, whether AQE still shuffles the posting side
    # depends on which of the two stages finishes first
    prefijo = ranked.where(
        F.col("rn") <= F.floor(F.col("n") / 2) + 1
    ).join(F.broadcast(lote_map), "doc_id")
    cand = (
        prefijo.select(F.col("doc_id").alias("doc_a"), "s", "lote")
        .join(probe, "s")
        .where(
            (F.col("lote_b") < F.col("lote"))
            | ((F.col("lote_b") == F.col("lote"))
               & (F.col("doc_b") != F.col("doc_a")))
        )
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    arr_viejos = _sin_lote(
        _probe_read(
            spark, a_tx, "doc_id",
            cand.select(F.col("doc_b").alias("doc_id")),
            pins.get("conjuntos"),
        ),
        docs_lotes,
    )
    # both sides are ALREADY (doc_id, arr) — the batch aggregated its
    # arrays for the append, the stored side IS the conjuntos table —
    # so verification joins them directly (guide §2.4). Checkpointed:
    # the verified pairs feed salida's cercano tier, the fold's edges
    # and the label overwrite's write job, and without it the
    # probe+verify chain re-executes per consumer.
    verificados = _verify_jaccard_arrays(
        cand, arrays_n.unionByName(arr_viejos)
    ).localCheckpoint(eager=False)
    # estado reads strictly-earlier partners only (stored docs carry no
    # lote row → coalesce 0); same-lote pairs remain fold edges
    cercano = (
        verificados.join(
            F.broadcast(
                lote_map.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("lote").alias("lote_b"),
                )
            ),
            "doc_b",
            "left",
        )
        .join(
            F.broadcast(
                lote_map.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("lote").alias("lote_a"),
                )
            ),
            "doc_a",
        )
        .where(F.coalesce(F.col("lote_b"), F.lit(0)) < F.col("lote_a"))
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.min("doc_b").alias("dup_cercano"))
    )

    salida = (
        hashes_l.select("lote", "doc_id")
        .join(exacto, "doc_id", "left")
        .join(cercano, "doc_id", "left")
        .select(
            F.col("lote").cast("int").alias("lote"),
            "doc_id",
            F.when(F.col("dup_exacto").isNotNull(), F.lit("exacto"))
            .when(F.col("dup_cercano").isNotNull(), F.lit("cercano"))
            .otherwise(F.lit("nuevo"))
            .alias("estado"),
            F.coalesce("dup_exacto", "dup_cercano")
            .cast("bigint")
            .alias("dup_de"),
        )
    )
    return {
        "salida": salida,
        "verificados": verificados,
        "hashes_n": hashes_n,
        "sh_n": sh_n,
        "arrays_n": arrays_n,
    }


def read_dedup_labels(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The (doc_id, cluster_id) label snapshot — current, or a pinned
    prior version (``pin_dedup_version``'s time-travel contract)."""
    _, _, _, e_tx = _tables(path)
    return e_tx.read(spark, version=version)


def maybe_auto_vacuum_dedup(path: str) -> dict | None:
    """Reclaim superseded state history past the SHARED keep+slack gate
    (one policy governs all three index families — the knobs live on
    ``operators.ann_index``)."""
    from etl_python_airflow_bigquery_spark.operators import ann_index as _ai

    h_tx, s_tx, a_tx, e_tx = _tables(path)
    if len(s_tx._versions()) < _ai._AUTO_VACUUM_KEEP + _ai._AUTO_VACUUM_SLACK:
        return None
    return {
        nombre: tx.vacuum(_ai._AUTO_VACUUM_KEEP, _ai._AUTO_VACUUM_RETENTION_S)
        for nombre, tx in (
            ("hashes", h_tx), ("postings", s_tx),
            ("conjuntos", a_tx), ("etiquetas", e_tx),
        )
    }


def pin_dedup_version(path: str, name: str) -> dict:
    """PIN the dedup state's CURRENT snapshot against vacuum — lifecycle
    parity with ``ann_index.pin_index_version`` / ``pin_lex_version``:
    tags are GC roots at the table layer, so each of the four tables'
    current version survives ANY vacuum horizon until
    ``unpin_dedup_version``. Returns {table: pinned_version}. The use
    case is time-travel CLASSIFICATION audits: yesterday's cluster view
    (``read_dedup_labels(version=)``) stays readable while today's
    ingests fold new batches."""
    h_tx, s_tx, a_tx, e_tx = _tables(path)
    pins = {}
    for nombre, tx in (
        ("hashes", h_tx), ("postings", s_tx),
        ("conjuntos", a_tx), ("etiquetas", e_tx),
    ):
        v = tx.version()
        tx.create_tag(name, v)
        pins[nombre] = v
    return pins


def unpin_dedup_version(path: str, name: str) -> None:
    """Release a ``pin_dedup_version`` pin on all four tables."""
    h_tx, s_tx, a_tx, e_tx = _tables(path)
    for tx in (h_tx, s_tx, a_tx, e_tx):
        tx.delete_tag(name)
