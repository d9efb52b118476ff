"""Structured Streaming jobs (SURVEY.md §2.10).

The reference's "real-time" story is hourly Airflow re-runs with a
``dias_remplazo`` reprocessing lookback — a manual watermark
(descarga_hora.py:24-60, consumo_detalle.py:317-340). Here that becomes
native Structured Streaming:

* file-source ``readStream`` over the events parquet (micro-batch; in
  production the same plan binds to Kafka/files unchanged),
* ``withWatermark(ts, N days)`` — the lookback, now enforced by state
  eviction instead of delete-and-reload,
* tumbling ``window(ts, '1 hour')`` aggregates (the reference's
  hora/diario trunc buckets, audio_digital.py:186-187),
* ``session_window(ts, '30 minutes')`` — the idiomatic rebuild of
  consumo_detalle-style session intervals from raw events,
* ``foreachBatch`` + dynamic partition overwrite — K3's idempotent
  refresh per micro-batch,
* ``Trigger.availableNow`` — bounded catch-up runs, the streaming twin
  of the reference's scheduled backfills.

State growth is bounded by the watermark horizon × key cardinality;
no custom state stores are needed (SURVEY.md §2.10 conclusion).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.functions import event_day_num, event_ts_us
from etl_python_airflow_bigquery_spark.operators.writes import refresh_window

WATERMARK = "4 days"  # the reference's dias_remplazo lookback
SESSION_GAP = "30 minutes"

# Sink-side maintenance policy: a long-running stream appends ONE
# manifest + >=1 small file per micro-batch, so an unmaintained output
# table accrues a year of hourly commits as ~9k files whose per-file
# overhead dominates any later drain (the classic small-files problem —
# the INDEX tables already solved it via add_to_ivf_index /
# add_to_lex_index; this is the same policy for the OUTPUT tables).
# Compact past the file gate, vacuum past keep+slack versions. Safe
# under the txn fence: the appId→version watermark is carried forward
# into every child manifest (txlog append's parent_txn merge), so
# pruning old manifests can never un-fence a replayed batch; and a
# fenced (replayed) append adds no files, so a replay can never newly
# cross the compaction gate — version history is untouched by replays.
_SINK_FILE_GATE = 32
_SINK_KEEP = 8
_SINK_SLACK = 8
_SINK_RETENTION_S = 3600.0


def _maintain_sink(spark: SparkSession, tx) -> None:
    """Bin-pack the sink's small-file tail once the live manifest holds
    ``_SINK_FILE_GATE`` files, and reclaim superseded history once the
    version count passes keep+slack (tagged snapshots and the keep
    horizon survive by vacuum's GC-root rules). Called after every
    micro-batch append by the sink-writing streaming jobs; both halves
    are gated, so the steady-state per-batch cost is two stat calls."""
    v = tx.version()
    if v >= 0 and len(tx._manifest(v)["files"]) >= _SINK_FILE_GATE:
        tx.optimize_compact(spark)
    if len(tx._versions()) >= _SINK_KEEP + _SINK_SLACK:
        tx.vacuum(_SINK_KEEP, _SINK_RETENTION_S)


def _drain_landed(spark: SparkSession, src_dir: str, checkpoint: str, fn) -> None:
    """Run ``fn(batch_df, batch_id)`` over the parquet files landed under
    ``src_dir``, one file per micro-batch, until drained (availableNow);
    ``checkpoint`` tracks the files already consumed. The stream schema
    is the landed files' own."""
    schema = (
        spark.read.option("recursiveFileLookup", "true").parquet(src_dir).schema
    )
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def files_per_trigger_for(path: str, target_batches: int = 2) -> int:
    """Bound a REPLAYED table-stream's micro-batch count at
    ~``target_batches`` regardless of the table's file layout. Per-batch
    cost is plan JIT + scheduling — flat in data size (SCALING.md r13
    batch-size curve) — so batching one file per trigger makes the
    stream wall scale with file COUNT, not volume: the time-extended
    x10 replica (11 event files vs 1) measured x11 wall on an otherwise
    linear job. Two batches still run whenever two or more files exist,
    so multi-batch semantics stay exercised; the state-eviction and
    replay tests that genuinely need per-file batches build explicit
    layouts and keep the default trigger."""
    n = 0
    if os.path.isdir(path):
        for raiz, _dirs, files in os.walk(path):
            n += sum(1 for f in files if f.endswith(".parquet"))
    else:
        n = 1
    return max(1, -(-n // target_batches))


def read_events_stream(
    spark: SparkSession, events_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over events parquet. The stream schema is taken
    from the files THEMSELVES (one batch footer read — no inference scan
    of the data pages, and no hand-declared schema that silently coerces
    a changed physical encoding into garbage: a forced ``ts BIGINT`` over
    µs-timestamp parquet once collapsed every timestamp 1000×).

    ``ts_utc`` is the watermark/window clock: a proper TimestampType
    instant whose epoch-µs equals the schema-adaptive ``event_ts_us``
    reading (wall-clock µs for NTZ encodings, ``div 1000`` for raw-nanos
    BIGINT) — so downstream ``unix_micros`` round-trips to the same
    integers the DuckDB oracle computes with ``epoch_us``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_dir).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(events_dir)
    )
    return raw.withColumn("ts_utc", F.timestamp_micros(event_ts_us(raw)))


def hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour per-type aggregates with late-data tolerance =
    the reprocessing lookback. Works on both a stream (stateful, late
    rows folded in until the watermark passes) and a batch frame (plain
    window agg) — one definition, two execution modes."""
    return (
        events.withWatermark("ts_utc", WATERMARK)
        .groupBy(F.window("ts_utc", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("eventos"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("valor"),
        )
        .select(
            F.col("w.start").alias("hora_inicio"),
            "event_type",
            "eventos",
            "valor",
        )
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Session rebuild via ``session_window``: consecutive events of a
    user closer than the gap merge into one interval — the streaming
    form of the consumo_detalle session fact (and of the batch
    gaps-and-islands query ``sessionization``)."""
    return (
        events.withWatermark("ts_utc", WATERMARK)
        .groupBy(F.session_window("ts_utc", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("eventos"))
        .select(
            "user_id",
            F.col("w.start").alias("inicio"),
            F.col("w.end").alias("fin"),
            "eventos",
        )
    )


def daily_users_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact dedup of (user_id, day): ``dropDuplicates`` keyed
    on the pair plus a DAY-GRANULAR event-time column, so the first
    occurrence wins and Spark evicts a day's keys once the watermark
    passes it — state is bounded by users × watermark-horizon days, not
    the stream's lifetime (dia_ts is functionally determined by day_num,
    so adding it to the subset changes eviction, not the dedup key).
    Day numbers are pure integer epoch-day math via the schema-adaptive
    accessor — immune to the session timezone, same as the batch queries."""
    base = events.select(
        "user_id",
        event_day_num(events).cast("bigint").alias("day_num"),
    ).withColumn(
        "dia_ts", F.timestamp_micros(F.col("day_num") * F.lit(86_400_000_000))
    )
    return base.withWatermark("dia_ts", WATERMARK).dropDuplicates(
        ["user_id", "day_num", "dia_ts"]
    )


def run_hourly_refresh(
    spark: SparkSession,
    events_dir: str,
    out_path: str,
    checkpoint: str,
    tx: bool = True,
) -> None:
    """End-to-end micro-batch pipeline: stream → hourly aggregates →
    per-batch day-window refresh, availableNow (runs until the source is
    drained, then stops — a catch-up run). Each micro-batch replaces
    exactly the day-window it touches, so re-running after failure is
    idempotent (K3 semantics).

    DEFAULT SINK IS THE TRANSACTIONAL TABLE (tx=True, flipped after the
    round-4 soak of ``run_hourly_refresh_tx``): every micro-batch lands
    as one atomic manifest flip — readers never observe the
    delete/append gap the plain layout has between partition overwrite
    sub-steps — and the result is read back with
    ``TxTable(out_path).read(spark)``. ``tx=False`` keeps the original
    dynamic-partition-overwrite directory readable via plain
    ``spark.read.parquet`` for sinks that must stay a bare directory
    (external consumers that list files)."""
    if tx:
        run_hourly_refresh_tx(spark, events_dir, out_path, checkpoint)
        return
    agg = hourly_counts(read_events_stream(spark, events_dir))
    with_dia = agg.withColumn("dia", F.to_date("hora_inicio"))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        refresh_window(batch_df, out_path, ["dia"], cluster_cols=["event_type"])

    q = (
        with_dia.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Drain a streaming frame into an in-memory table (availableNow,
    complete mode) and return the final batch result — used by tests and
    by the oracle-checked ``streaming_hourly`` query entry to prove the
    streaming plan reproduces the batch answer."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_to_memory_append(stream_df: DataFrame, name: str):
    """Drain an APPEND-mode stream (watermark-gated emission — the mode
    where state eviction is observable) and return (result table,
    per-batch stateOperators metrics). The metrics are the executable
    form of the 100 TB memory-bound claim: state rows must track the
    watermark horizon, not the stream's lifetime."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state_metrics = [
        {
            "batch_id": p["batchId"],
            "state_rows": sum(op["numRowsTotal"] for op in p["stateOperators"]),
            "rows_removed": sum(
                op.get("numRowsRemoved", 0) for op in p["stateOperators"]
            ),
        }
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    return spark.table(name), state_metrics


def table_dir_for(sf_dir: str, table: str) -> str:
    """The file-stream source requires a DIRECTORY of files (its
    listing-based discovery model); the testdata ships one parquet file
    per table, so expose it through a per-sf symlink directory. In
    production this is simply the landing directory micro-batches drop
    into (consumo_detalle's 12-hour chunks, reference
    consumo_detalle.py:44-77)."""
    tag = sf_dir.strip("/").replace("/", "_")
    stream_dir = os.path.join("/tmp", "spark_graft_streams", f"{tag}_{table}")
    os.makedirs(stream_dir, exist_ok=True)
    src = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(src):
        # a directory-shaped drop (e.g. a Spark-written replica, as the
        # 10× scale probe produces): link its part files individually —
        # a symlinked SUBDIRECTORY would need recursiveFileLookup and
        # breaks the batch schema read
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                link = os.path.join(stream_dir, f)
                if not os.path.exists(link):
                    os.symlink(os.path.join(src, f), link)
    else:
        link = os.path.join(stream_dir, f"{table}.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
    return stream_dir


def events_dir_for(sf_dir: str) -> str:
    return table_dir_for(sf_dir, "events")


# --------------------------------------------------------------------------
# Custom stateful operator — exact expanding distinct via GroupState
# --------------------------------------------------------------------------

ACUM_OUT_SCHEMA = "mes BIGINT, usuarios_acumulados BIGINT"
ACUM_STATE_SCHEMA = "seen ARRAY<BIGINT>"


def _acum_fn(key, pdfs, state):
    """applyInPandasWithState worker: per month-key, fold each batch's
    user_ids into the running seen-set and emit the cumulative distinct
    count. State = the sorted seen array (exact; at production scale a
    sketch or RocksDB state store backs the same shape)."""
    import pandas as pd

    seen = set(state.get[0]) if state.exists else set()
    for pdf in pdfs:
        seen.update(int(u) for u in pdf["user_id"])
    state.update((sorted(seen),))
    yield pd.DataFrame({"mes": [key[0]], "usuarios_acumulados": [len(seen)]})


def expanding_distinct_stream(events: DataFrame) -> DataFrame:
    """A7's streaming twin as a CUSTOM STATEFUL OPERATOR: exact
    month-to-date distinct audience maintained in GroupState across
    micro-batches (the reference re-scans growing windows instead,
    acumulado_diario.py:318-326). Output mode 'update': each batch
    emits the refreshed cumulative count per month."""
    with_mes = events.select(
        (event_day_num(events) / 30).cast("bigint").alias("mes"),
        "user_id",
    )
    return with_mes.groupBy("mes").applyInPandasWithState(
        _acum_fn,
        outputStructType=ACUM_OUT_SCHEMA,
        stateStructType=ACUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def run_to_memory_update(stream_df: DataFrame, name: str) -> DataFrame:
    """Drain an update-mode stateful stream into memory and return the
    final cumulative row per key. Update mode appends every batch's
    emission to the memory sink; the cumulative count is monotonically
    nondecreasing per key, so max() recovers the final state regardless
    of how many micro-batches ran."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("mes")
        .agg(F.max("usuarios_acumulados").cast("bigint").alias("usuarios_acumulados"))
    )


def run_hourly_refresh_tx(
    spark: SparkSession,
    events_dir: str,
    table_path: str,
    checkpoint: str,
) -> None:
    """`run_hourly_refresh` on the TRANSACTIONAL table (operators/txlog):
    each micro-batch lands as one `replace_where` commit over the
    day-window it touches — readers see every batch atomically (one
    manifest flip), a crashed batch leaves only invisible orphans, and
    the stats-pruned rewrite touches only the day files the batch hits.
    This is the K3 idempotent-refresh contract with the delete+append
    race removed by construction; re-running a batch replaces the same
    window with the same rows (idempotent)."""
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable

    agg = hourly_counts(read_events_stream(spark, events_dir))
    with_dia = agg.withColumn(
        "dia_num", F.datediff(F.to_date("hora_inicio"), F.lit("1970-01-01"))
    )
    table = TxTable(table_path, stats_cols=["dia_num"])

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bounds = batch_df.agg(
            F.min("dia_num").alias("lo"), F.max("dia_num").alias("hi")
        ).first()
        table.replace_where(
            spark, batch_df, "dia_num", int(bounds["lo"]), int(bounds["hi"])
        )

    q = (
        with_dia.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --------------------------------------------------------------------------
# Streaming KMV sketch — bounded-state approximate distinct per key
# --------------------------------------------------------------------------
# The exact expanding distinct above (`expanding_distinct_stream`) keeps
# every seen id in GroupState — correct, but state grows with true
# cardinality. The KMV form is the production shape for unbounded keys:
# GroupState holds only the K+1 SMALLEST 60-bit hashes per key (the
# mergeable bottom-k sketch of extras.sketch_kmv_distinct), so state is
# O(K) forever while the estimate stays deterministic — the drained
# stream answer equals the batch sketch bit-for-bit, which is what lets
# a DuckDB oracle check a streaming approximation exactly.

KMV_STREAM_K = 64
KMV_OUT_SCHEMA = "event_type STRING, vistos BIGINT, usuarios_estimados BIGINT"
KMV_STATE_SCHEMA = "bottom ARRAY<BIGINT>, vistos BIGINT"
_KMV_SPACE = 1152921504606846976.0  # 16^15 = 2^60, the md5-prefix domain


def _kmv_fn(key, pdfs, state):
    """applyInPandasWithState worker: fold each batch's user_id hashes
    into the bottom-(K+1) set. Keeping K+1 (not K) values preserves the
    exact-vs-estimate decision: len ≤ K ⇒ we have seen every distinct
    value; len = K+1 ⇒ truncated, use the kth-minimum estimator."""
    import hashlib
    import math

    import pandas as pd

    if state.exists:
        bottom, vistos = set(state.get[0]), int(state.get[1])
    else:
        bottom, vistos = set(), 0
    for pdf in pdfs:
        vistos += len(pdf)
        for u in pdf["user_id"]:
            bottom.add(
                int(hashlib.md5(str(int(u)).encode()).hexdigest()[:15], 16)
            )
    trimmed = sorted(bottom)[: KMV_STREAM_K + 1]
    state.update((trimmed, vistos))
    if len(trimmed) <= KMV_STREAM_K:
        est = len(trimmed)
    else:
        kth = trimmed[KMV_STREAM_K - 1]  # the K-th minimum
        est = math.floor((KMV_STREAM_K - 1) * _KMV_SPACE / kth)
    yield pd.DataFrame(
        {"event_type": [key[0]], "vistos": [vistos], "usuarios_estimados": [est]}
    )


def kmv_distinct_stream(events: DataFrame) -> DataFrame:
    """Approximate distinct users per event_type as a CUSTOM STATEFUL
    STREAMING OPERATOR with O(K) state per key — the bounded twin of
    `expanding_distinct_stream`. Update mode: each batch emits the
    refreshed estimate plus the monotone rows-processed counter the
    drain uses to pick each key's final emission."""
    return events.select("event_type", "user_id").groupBy(
        "event_type"
    ).applyInPandasWithState(
        _kmv_fn,
        outputStructType=KMV_OUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def run_validated_ingest(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint: str,
    rules: list[tuple[str, str]] | None = None,
) -> dict:
    """Micro-batch ingest behind a DATA-QUALITY GATE (the streaming face
    of validacion_esperada): every batch evaluates declarative
    constraint expressions; a batch with ANY violation is quarantined —
    appended to ``<out>/cuarentena`` with the failing rule names — and
    the MAIN table's manifest never flips for it, so downstream readers
    only ever see rows that passed every rule. A clean batch appends
    atomically. Both paths are txlog commits carrying a
    txnAppId/txnVersion fence: crash-safe AND exactly-once on restart —
    a crash between the manifest flip and the streaming-checkpoint
    commit re-delivers the batch, and the fence (last applied batch_id
    recorded in the manifest itself) turns the replay into a no-op
    rather than a duplicate append/quarantine.

    ``rules``: (name, SQL boolean expr that is TRUE for a VIOLATION).
    Defaults: null user_id, negative value. Shape: rule evaluation is a
    map-side conditional aggregate over the batch (one count per rule),
    the same partial-aggregable scan as the batch validator — the gate
    adds no shuffle to ingest."""
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable

    rules = rules or [
        ("no_nulo_user", "user_id IS NULL"),
        ("rango_valor", "value IS NULL OR value < 0"),
    ]
    main = TxTable(os.path.join(out_path, "datos"))
    cuarentena = TxTable(os.path.join(out_path, "cuarentena"))
    stats = {"commits": 0, "cuarentenas": 0}

    # CHECKPOINT-keyed fence: batch ids only mean anything within one
    # checkpoint lineage, so a fresh checkpoint is a NEW logical stream
    # (reprocesses everything — point it at a fresh sink or accept
    # duplicates). Safe under ANY source evolution.
    app_id = f"validated_ingest:{os.path.abspath(checkpoint)}"

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # txnAppId/txnVersion fence: a crash after the manifest flip but
        # before the streaming checkpoint commit replays this batch_id —
        # the table remembers it and the append becomes a no-op, on
        # WHICHEVER of the two tables (main/quarantine) took the batch.
        if (
            main.txn_version(app_id) >= batch_id
            or cuarentena.txn_version(app_id) >= batch_id
        ):
            return
        counts = batch_df.agg(
            *[
                F.sum(F.when(F.expr(cond), 1).otherwise(0)).alias(name)
                for name, cond in rules
            ]
        ).collect()[0]
        rotas = [name for name, _ in rules if (counts[name] or 0) > 0]
        txn = (app_id, batch_id)
        if rotas:
            marcado = batch_df.withColumn(
                "reglas_rotas", F.lit(",".join(rotas))
            )
            if cuarentena.version() >= 0:
                cuarentena.append(marcado, txn=txn)
            else:
                cuarentena.overwrite(marcado, txn=txn)
            stats["cuarentenas"] += 1
        else:
            if main.version() >= 0:
                main.append(batch_df, txn=txn)
            else:
                main.overwrite(batch_df, txn=txn)
            stats["commits"] += 1
        _maintain_sink(spark, cuarentena if rotas else main)

    _drain_landed(spark, src_dir, checkpoint, gate)
    return stats


def run_ann_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint: str,
) -> None:
    """STREAMING VECTOR-INDEX INGEST: embeddings arrive as files and
    each micro-batch joins the persistent ANN index — assignment runs
    map-only against the STORED centroids (operators/ann_index) and the
    postings land as ONE atomic manifest flip per batch, so searches
    never observe a half-ingested batch; the append is fenced with
    (app_id, batch_id), so a batch replayed from the checkpoint after a
    crash past its flip is a no-op. The quantizer is never refit on
    the hot path; sustained drift is a scheduled rebuild, measurable
    across index versions. State: none beyond the stream's own file
    tracking — the index tables ARE the state."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        add_to_ivf_index,
    )

    # SRC-keyed fence (see run_hybrid_serve for the trade-off)
    app_id = f"ann_ingest:{os.path.abspath(src_dir)}"

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        add_to_ivf_index(spark, batch_df, index_path, txn=(app_id, batch_id))

    _drain_landed(spark, src_dir, checkpoint, ingest)


def run_lex_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint: str,
) -> None:
    """STREAMING LEXICAL-INDEX INGEST — run_ann_ingest's inverted-
    postings twin: documents arrive as landed files and each micro-
    batch tokenizes ONLY the batch (operators/lex_index.add_to_lex_index
    — the stored corpus is never retokenized), appending its postings
    (token, doc_id, tf, dl) to the one postings table as one manifest
    flip; the token-range compaction and the shared keep+slack
    auto-vacuum ride the same call, so a continuously-fed lexical index
    keeps pruned serve reads AND a bounded on-disk footprint without
    operator intervention. The append is fenced with (app_id,
    batch_id), so a batch replayed from the checkpoint after a crash
    past its flip is a no-op; n/avgdl survive a crash between the flip
    and the metadata write because a version without a metadata entry
    is recounted from its own postings snapshot (lex_meta_current)."""
    from etl_python_airflow_bigquery_spark.operators.lex_index import (
        add_to_lex_index,
    )

    # SRC-keyed fence (see run_hybrid_serve for the trade-off)
    app_id = f"lex_ingest:{os.path.abspath(src_dir)}"

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        add_to_lex_index(spark, batch_df, index_path, txn=(app_id, batch_id))

    _drain_landed(spark, src_dir, checkpoint, ingest)


def run_hybrid_serve(
    spark: SparkSession,
    src_dir: str,
    sf_dir: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    nprobe: int | None = None,
    lex_path: str | None = None,
) -> None:
    """STREAMING HYBRID SERVE — ``busqueda_hibrida_indexada_multi``
    per micro-batch (the registry row ``busqueda_hibrida_indexada`` is
    its one-query batch), completing the stored-index streaming quartet
    (index growth, semantic-dedup gate, weak labels, HYBRID RETRIEVAL):
    more-like-this query anchors arrive as landed files (rows carrying
    ``query_id``), and each micro-batch RRF-fuses the shared multi-query
    BM25 lexical ranking with a dense probe of the STORED IVF tables —
    never a corpus rescan, never a refit — then appends the fused
    top-k rows (query_id, doc_id, rrf_micro, pos_fusion, pos_lex,
    pos_vec) to a txlog table as ONE atomic manifest flip, fenced with
    txnAppId/txnVersion so a crash-replayed batch is a no-op (the
    run_label_ingest contract).

    Per-query independence makes batch/stream equivalence EXACT: a
    query's fused ranking depends only on the query and the stored
    corpus/index, never on batch-mates, so the drained table equals the
    one-shot ``busqueda_hibrida_indexada_multi`` call row for row
    (test-pinned)."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        busqueda_hibrida_indexada_multi,
    )
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable

    from etl_python_airflow_bigquery_spark.queries.similarity import (
        hibrida_corpus_stats,
    )

    sink = TxTable(out_path)
    # SRC-keyed fence: survives checkpoint LOSS (wipe + redeliver is a
    # fenced no-op) at the cost of a constraint — the landing dir must
    # be append-stable (new files list strictly after old ones, the
    # mtime/path-monotone landing pattern), or a fresh checkpoint's
    # renumbered batches misfence. validated/span_cut show the
    # checkpoint-keyed alternative trade-off.
    app_id = f"hybrid_serve:{os.path.abspath(src_dir)}"
    corpus = None
    if lex_path is None:
        # no stored lexical index: corpus stats compute ONCE for the
        # whole stream (static-side localCheckpoint discipline) — a
        # per-batch recompute would rescan the corpus on every batch
        tf, dl, n, avgdl_mili = hibrida_corpus_stats(spark, sf_dir)
        corpus = (
            tf.localCheckpoint(eager=True),
            dl.localCheckpoint(eager=True),
            n,
            avgdl_mili,
        )

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        qids = batch_df.select("query_id").distinct()
        # nprobe passes through UNRESOLVED (ADVICE r13): the serve
        # resolves explicit > calibrated > default per batch, so a
        # calibrate_index run mid-stream reaches the next batch
        out = busqueda_hibrida_indexada_multi(
            spark, sf_dir, index_path, qids, nprobe=nprobe, corpus=corpus,
            lex_path=lex_path,
        )
        sink.append(out, txn=(app_id, batch_id))
        _maintain_sink(spark, sink)

    _drain_landed(spark, src_dir, checkpoint, serve)


def run_semdedup_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint: str,
    tau: float = 0.35,
) -> None:
    """STREAMING SEMANTIC-DEDUP GATE — ``dedup_semantico``'s production
    read path, run against the STORED ANN index instead of a per-batch
    refit (the add_to_ivf_index discipline): each micro-batch of
    arriving embeddings

    1. assigns against the stored centroids (map-only, O(batch·k));
    2. joins the stored postings WITHIN its cells — an arrival at
       cosine ≥ ``tau`` to anything already indexed is a semantic
       duplicate and is DROPPED (SemDeDup's keep-first, which in a
       stream is keep-EARLIEST-ARRIVED — the only causal choice);
    3. dedupes within the batch itself the same way (keep min vec_id
       among same-cell pairs at ≥ tau);
    4. appends the survivors to the postings table as ONE atomic
       manifest flip, fenced with txnAppId/txnVersion so a crash
       between the flip and the checkpoint commit replays into a
       NO-OP, never a double-append (run_span_cut_ingest's contract).

    Requires a built index (build_ivf_index) — same prerequisite as
    add_to_ivf_index; the index IS the dedup memory, so the gate's
    state is bounded by the index, not the stream. Candidate volume is
    Σ cell-local products per batch — never batch × corpus."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _COMPACT_FILE_GATE as _ANN_FILE_GATE,
    )
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        _stored_centroids,
        _tables,
        maybe_auto_vacuum,
    )
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        _assign_cells,
        _assign_cells_2probe,
        _int_vectors,
        cosine_from_ints,
    )

    _, vec_tx = _tables(index_path)
    # SRC-keyed fence (see run_hybrid_serve): checkpoint-loss recovery
    # is test-pinned here, and the gate is additionally idempotent at
    # the DATA level — a replayed arrival is dropped as a duplicate of
    # its own stored twin — so misfencing cannot corrupt the index.
    app_id = f"semdedup:{os.path.abspath(src_dir)}"

    def _dot(a: str, b: str):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # per batch (a cached, version-keyed read): an in-place
        # build_ivf_index rebuild mid-stream reaches the next batch, so
        # arrivals are never assigned to old cells against new postings
        cent = _stored_centroids(spark, index_path)
        enteros = _int_vectors(batch_df)
        asig = (
            _assign_cells(enteros, cent, keep_ev=True)
            .select("vec_id", "celda", "ev")
            .localCheckpoint(eager=False)
        )
        # DUP CHECKS probe the arrival's TWO nearest cells (round-9
        # 2-probe upgrade): with a 1-cell check, a stored twin sitting
        # just across the boundary of the arrival's primary cell was
        # silently admitted — exactly the class cobertura_sondas
        # measures. The APPEND still records the primary cell only
        # (postings stay one row per vector; the probe is a read-side
        # recall device, not a storage change).
        sondas = (
            _assign_cells_2probe(enteros, cent)
            .select("vec_id", "celda")
            .join(enteros, "vec_id")
            .localCheckpoint(eager=False)
        )
        con_norma = sondas.withColumn("nn", _dot("ev", "ev"))
        stored = vec_tx.read(spark).select(
            "celda",
            F.col("vec_id").alias("vid_s"),
            F.col("ev").alias("ev_s"),
        ).withColumn("nn_s", _dot("ev_s", "ev_s"))
        dup_stored = (
            con_norma.join(stored, "celda")
            .where(
                cosine_from_ints(_dot("ev", "ev_s"), F.col("nn"), F.col("nn_s"))
                >= tau
            )
            .select("vec_id")
            .distinct()
        )
        a = con_norma.select(
            "celda", F.col("vec_id").alias("va"),
            F.col("ev").alias("ev_a"), F.col("nn").alias("nn_a"),
        )
        b = con_norma.select(
            F.col("celda").alias("celda_b"), F.col("vec_id").alias("vb"),
            F.col("ev").alias("ev_b"), F.col("nn").alias("nn_b"),
        )
        dup_batch = (
            a.join(b, (F.col("celda") == F.col("celda_b"))
                   & (F.col("va") < F.col("vb")))
            .where(
                cosine_from_ints(
                    _dot("ev_a", "ev_b"), F.col("nn_a"), F.col("nn_b")
                )
                >= tau
            )
            .select(F.col("vb").alias("vec_id"))
            .distinct()
        )
        survivors = asig.join(
            dup_stored.unionByName(dup_batch).distinct(),
            "vec_id",
            "left_anti",
        ).select("vec_id", "celda", "ev")
        v = vec_tx.append(survivors, txn=(app_id, batch_id))
        # same maintenance as add_to_ivf_index: celda-clustered compact
        # past the gate, then the shared keep+slack auto-vacuum — the
        # gate table IS the index, so its footprint policy is the
        # index's, not the generic sink's
        if len(vec_tx._manifest(v)["files"]) >= _ANN_FILE_GATE:
            vec_tx.optimize_compact(
                spark, n_files=max(1, len(cent) // 8), cluster_col="celda"
            )
        maybe_auto_vacuum(index_path)

    _drain_landed(spark, src_dir, checkpoint, gate)


def run_label_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    labels_df: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int = 3,
) -> None:
    """STREAMING WEAK-LABEL INGEST — ``etiquetar_por_vecinos``'s
    production face, completing the stored-index ingest trio (semantic
    dedup gate, index growth, label propagation): unlabeled embeddings
    arrive as landed files, each micro-batch takes the majority label of
    its k nearest INDEXED neighbors (2-probe candidates, stats-pruned
    posting read), and the labeled rows (vec_id, label_pred, votos)
    append to a txlog table as ONE atomic manifest flip, fenced with
    txnAppId/txnVersion so a crash-replayed batch is a no-op (the
    run_span_cut_ingest contract).

    Per-arrival independence makes batch/stream equivalence EXACT: a
    vote depends only on the arrival and the STORED postings, never on
    batch-mates, so the drained table equals the one-shot batch call
    row for row (test-pinned). The quantizer is never refit on the hot
    path, and ``labels_df`` stays outside the posting table — a
    re-annotation never rewrites postings."""
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        etiquetar_por_vecinos,
    )
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable

    sink = TxTable(out_path)
    # SRC-keyed fence (see run_hybrid_serve for the trade-off).
    app_id = f"labels:{os.path.abspath(src_dir)}"

    def label(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = etiquetar_por_vecinos(
            spark, batch_df.select("vec_id", "embedding"), index_path,
            labels_df, k=k,
        )
        sink.append(out, txn=(app_id, batch_id))
        _maintain_sink(spark, sink)

    _drain_landed(spark, src_dir, checkpoint, label)


def run_span_cut_ingest(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint: str,
    index_df: DataFrame | None = None,
) -> dict:
    """PRODUCTION streaming span-cut gate — the TxTable-writing face of
    the `streaming_cortes_subcadenas` query: documents arrive as landed
    files, every micro-batch excises the windows the stored corpus
    index already knows (shared `subcadena_hashes` + `_cut_output`
    tile-cut logic), and the CLEANED documents append atomically to a
    txlog table — one manifest flip per batch, crash-replay idempotent
    via a txnAppId/txnVersion fence IN the manifest (the checkpoint
    alone is not enough: a crash between the manifest flip and the
    checkpoint commit re-delivers the batch, and the fence turns that
    replay into a no-op instead of a double-append); downstream
    training-shard readers never see an uncleaned or half-ingested
    batch (run_validated_ingest's contract applied to span dedup).

    ``index_df``: the corpus window-hash index (one ``h`` column). By
    default it builds from the already-ingested table's own content —
    the self-maintaining form — falling back to empty (first batches
    pass through whole) when the table has no commits yet."""
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.queries.text import (
        _rebuild_sin_cortes,
        subcadena_hashes,
    )

    tabla = TxTable(os.path.join(out_path, "limpios"))
    if index_df is None:
        if tabla.version() >= 0:
            index_df = (
                subcadena_hashes(tabla.read(spark))
                .select("h")
                .distinct()
            )
        else:
            index_df = spark.createDataFrame([], "h BIGINT")
    indice = index_df.localCheckpoint(eager=True)
    stats = {"commits": 0, "docs": 0}

    app_id = f"span_cut_ingest:{os.path.abspath(checkpoint)}"

    def cortar(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # txnAppId/txnVersion fence (Delta's pattern): a crash after the
        # txlog manifest commit but before the streaming checkpoint
        # commit re-delivers this batch_id; the manifest remembers it
        # and the replayed append is a no-op instead of a double-ingest.
        if tabla.txn_version(app_id) >= batch_id:
            return
        hs = subcadena_hashes(batch_df)
        cortes = (
            hs.join(indice, "h")
            .select(
                "doc_id",
                F.explode(
                    F.array(F.col("i"), F.col("i") + F.lit(1))
                ).alias("tile"),
            )
            .groupBy("doc_id")
            .agg(F.collect_set("tile").alias("cortes"))
        )
        limpio = (
            batch_df.join(cortes, "doc_id", "left")
            .select(
                "doc_id",
                _rebuild_sin_cortes().alias("text"),
                *[c for c in batch_df.columns if c not in ("doc_id", "text")],
            )
        )
        if tabla.version() >= 0:
            tabla.append(limpio, txn=(app_id, batch_id))
        else:
            tabla.overwrite(limpio, txn=(app_id, batch_id))
        _maintain_sink(spark, tabla)
        stats["commits"] += 1
        stats["docs"] += limpio.count()

    _drain_landed(spark, src_dir, checkpoint, cortar)
    return stats


# --------------------------------------------------------------------------
# transformWithState — the Spark 4 typed-state API (ST2, modern form)
# --------------------------------------------------------------------------

TWS_OUT_SCHEMA = "event_type STRING, eventos_acumulados BIGINT, lote BIGINT"


from pyspark.sql.streaming import StatefulProcessor as _StatefulProcessor


class _ContadorProcessor(_StatefulProcessor):
    """StatefulProcessor for transformWithStateInPandas — the Spark 4
    successor to applyInPandasWithState, with TYPED state handles
    (ValueState here; ListState/MapState/TTL/timers are the same
    handle) instead of a single packed GroupState tuple. Per event-type
    key: fold each batch's row count into a running ValueState total
    and emit (key, cumulative, batches_seen) — the minimal operator
    that proves the new API's lifecycle (init → handleInputRows per
    batch → state persisted in the checkpoint across batches)."""

    def init(self, handle) -> None:
        from pyspark.sql.types import LongType, StructField, StructType

        self._estado = handle.getValueState(
            "acumulado",
            StructType(
                [
                    StructField("total", LongType()),
                    StructField("lotes", LongType()),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        n = 0
        for pdf in rows:
            n += len(pdf)
        prev = self._estado.get() if self._estado.exists() else (0, 0)
        total, lotes = int(prev[0]) + n, int(prev[1]) + 1
        self._estado.update((total, lotes))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "eventos_acumulados": [total],
                "lote": [lotes],
            }
        )

    def close(self) -> None:
        pass


def conteo_estado_stream(events: DataFrame) -> DataFrame:
    """Cumulative per-event-type counts as a transformWithStateInPandas
    operator (update mode): the modern typed-state twin of
    `expanding_distinct_stream`'s applyInPandasWithState. Both ship
    with the engine so a consumer on either API has a worked example;
    at production scale the ValueState lives in the RocksDB state store
    and the operator's shape is unchanged.

    Requires protobuf (the transformWithState wire format) and the
    RocksDB state-store provider; with protobuf absent Spark runs the
    operator as a silent no-op (observed: zero output rows, no error),
    so the guard below turns the missing dependency into a LOUD typed
    failure instead of an empty result."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            "transformWithStateInPandas requires the protobuf package, "
            "which is not installed in this environment — use "
            "expanding_distinct_stream (applyInPandasWithState) for the "
            "same stateful shape on the v1 API"
        ) from exc
    return events.select("event_type").groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=_ContadorProcessor(),
        outputStructType=TWS_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# --------------------------------------------------------------------------
# Custom stateful operator — streaming per-source token-budget admission
# --------------------------------------------------------------------------

CUOTA_STREAM_CAP = 1000  # fixed admission budget per source (a stream
# cannot derive cuotas_fuentes' corpus//(2n) cap from unseen future
# data — production feeds the budget from the mixture plan's config)
CUOTA_OUT_SCHEMA = (
    "source STRING, docs_vistos BIGINT, tokens_vistos BIGINT, "
    "docs_cap BIGINT, tokens_cap BIGINT"
)
CUOTA_STATE_SCHEMA = (
    "docs_vistos BIGINT, tokens_vistos BIGINT, "
    "docs_cap BIGINT, tokens_cap BIGINT"
)


def _cuota_fn(key, pdfs, state):
    """applyInPandasWithState worker: per source, fold each batch's
    docs IN doc_id ORDER into the running seen/admitted totals — a doc
    admits iff the tokens seen BEFORE it are still under the budget
    (cuotas_fuentes' prefix-sum rule, held in GroupState instead of a
    window). Batch rows are concatenated and sorted before folding so
    partition interleaving within a trigger cannot reorder admission;
    across triggers, arrival order IS the contract (a stream admits
    first-come). All four totals are monotonic, so update-mode drains
    recover the final state with max()."""
    import pandas as pd

    dv, tv, dc, tc = (
        (int(state.get[0]), int(state.get[1]), int(state.get[2]), int(state.get[3]))
        if state.exists
        else (0, 0, 0, 0)
    )
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
    for t in rows["t"]:
        t = int(t)
        if tv < CUOTA_STREAM_CAP:
            dc += 1
            tc += t
        dv += 1
        tv += t
    state.update((dv, tv, dc, tc))
    yield pd.DataFrame(
        {
            "source": [key[0]],
            "docs_vistos": [dv],
            "tokens_vistos": [tv],
            "docs_cap": [dc],
            "tokens_cap": [tc],
        }
    )


def cuota_stream(docs: DataFrame) -> DataFrame:
    """cuotas_fuentes' STREAMING twin as a custom stateful operator:
    the per-source admitted-token budget lives in GroupState across
    micro-batches, so the gate needs no rescan of history — state is
    four int64s per source regardless of corpus size (the bounded-state
    discipline of streaming_expanding_distinct, minus even the array)."""
    tok = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("t"),
    )
    return tok.groupBy("source").applyInPandasWithState(
        _cuota_fn,
        outputStructType=CUOTA_OUT_SCHEMA,
        stateStructType=CUOTA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
