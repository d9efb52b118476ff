"""Oracle-checked streaming entries: each runs a real Structured
Streaming job (file source → stateful agg → availableNow drain) and
returns the final result as a batch DataFrame, so the driver's DuckDB
oracle validates the STREAMING plan's answer — proof the micro-batch
path reproduces batch semantics exactly (SURVEY.md §5: "tumbling 1h
counts equal the batch answer on the same data").

Timestamps are emitted as epoch-µs BIGINTs: window()/session_window()
bucket on the epoch instant (tz-independent), but a TimestampType output
column would re-render in the driver's session zone — integers can't.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.queries import register
from etl_python_airflow_bigquery_spark.streaming.jobs import (
    events_dir_for,
    files_per_trigger_for,
    hourly_counts,
    read_events_stream,
    run_to_memory,
    run_to_memory_update,
    sessionize,
)

_HOURLY_ORACLE = """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hora_us,
       event_type,
       CAST(count(*) AS BIGINT) AS eventos,
       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS valor
FROM events
GROUP BY 1, 2
"""


@register("streaming_hourly", oracle=_HOURLY_ORACLE, ops=("ST1", "W2"), driver=False)
def streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregates computed BY THE STREAMING ENGINE
    (readStream → withWatermark → window → availableNow drain), checked
    against the batch oracle — late-data tolerance comes from the
    watermark instead of the reference's delete-and-reload lookback."""
    stream = read_events_stream(
        spark, events_dir_for(sf_dir),
        files_per_trigger_for(events_dir_for(sf_dir)),
    )
    agg = hourly_counts(stream).select(
        F.unix_micros("hora_inicio").alias("hora_us"),
        "event_type",
        "eventos",
        "valor",
    )
    return run_to_memory(agg, f"hourly_{uuid.uuid4().hex[:8]}")


_SESSIONS_ORACLE = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS t_us FROM events
),
marcado AS (
    SELECT user_id, t_us,
           CASE WHEN t_us - lag(t_us, 1, t_us)
                         OVER (PARTITION BY user_id ORDER BY t_us)
                     >= 1800000000
                THEN 1 ELSE 0 END AS nueva
    FROM ev
),
islas AS (
    SELECT user_id, t_us,
           sum(nueva) OVER (PARTITION BY user_id ORDER BY t_us
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sesion
    FROM marcado
)
SELECT user_id,
       CAST(min(t_us) AS BIGINT) AS inicio_us,
       CAST(max(t_us) + 1800000000 AS BIGINT) AS fin_us,
       CAST(count(*) AS BIGINT) AS eventos
FROM islas
GROUP BY user_id, sesion
"""


@register("streaming_sessions", oracle=_SESSIONS_ORACLE, ops=("ST2", "W1"),
          driver=True)
def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session intervals rebuilt BY ``session_window`` in a streaming
    job, oracle-checked against the gaps-and-islands batch formulation.
    session_window semantics: events merge while the next arrives
    strictly inside the previous event's 30-min horizon, and the session
    end extends 30 min past the last event — the oracle mirrors both."""
    stream = read_events_stream(
        spark, events_dir_for(sf_dir),
        files_per_trigger_for(events_dir_for(sf_dir)),
    )
    ses = sessionize(stream).select(
        "user_id",
        F.unix_micros("inicio").alias("inicio_us"),
        F.unix_micros("fin").alias("fin_us"),
        "eventos",
    )
    return run_to_memory(ses, f"sessions_{uuid.uuid4().hex[:8]}")


_DEDUP_STREAM_ORACLE = """
SELECT epoch_us(ts) // 86400000000 AS day_num,
       CAST(count(DISTINCT user_id) AS BIGINT) AS usuarios
FROM events
GROUP BY 1
"""


@register("streaming_dedup_daily", oracle=_DEDUP_STREAM_ORACLE, ops=("ST2", "DD1"),
          driver=False)
def streaming_dedup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` over (user_id, day)
    with day-granular watermark eviction runs IN the stream (append
    mode — each pair is emitted exactly once, the first time it's
    seen); the daily distinct-user count over the drained pairs must
    equal the batch COUNT(DISTINCT). This is the streaming half of DD1:
    the same first-occurrence-wins contract as `dedup_exact`, held as
    bounded operator state instead of a shuffle."""
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        daily_users_dedup,
        run_to_memory_append,
    )

    stream = read_events_stream(
        spark, events_dir_for(sf_dir),
        files_per_trigger_for(events_dir_for(sf_dir)),
    )
    pairs = daily_users_dedup(stream)
    tabla, _metrics = run_to_memory_append(
        pairs, f"dedup_{uuid.uuid4().hex[:8]}"
    )
    return tabla.groupBy("day_num").agg(
        F.count(F.lit(1)).cast("bigint").alias("usuarios")
    )


_ACUM_STREAM_ORACLE = """
SELECT (epoch_us(ts) // 86400000000) // 30 AS mes,
       CAST(count(DISTINCT user_id) AS BIGINT) AS usuarios_acumulados
FROM events
GROUP BY 1
"""


@register("streaming_expanding_distinct", oracle=_ACUM_STREAM_ORACLE, ops=("ST2", "A7"))
def streaming_expanding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    exact per-month expanding distinct audience held in GroupState.
    The source drains in one availableNow run, so the final emitted
    cumulative counts equal the batch month-distinct — which is exactly
    what the oracle checks."""
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        expanding_distinct_stream,
    )

    stream = read_events_stream(
        spark, events_dir_for(sf_dir),
        files_per_trigger_for(events_dir_for(sf_dir)),
    )
    out = expanding_distinct_stream(stream.select("ts", "user_id"))
    df = run_to_memory_update(out, f"acum_{uuid.uuid4().hex[:8]}")
    return df


_ENRIQUECIDO_ORACLE = """
WITH seg AS (
    SELECT c_custkey AS user_id, c_mktsegment AS segmento FROM customer
)
SELECT (epoch_us(e.ts) // 3600000000) * 3600000000 AS hora_us,
       s.segmento,
       CAST(count(*) AS BIGINT) AS eventos,
       CAST(sum(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE) AS valor
FROM events e JOIN seg s ON s.user_id = e.user_id
GROUP BY 1, 2
"""


@register("streaming_enriquecido", oracle=_ENRIQUECIDO_ORACLE,
          ops=("ST1", "J1", "W2"), driver=False)
def streaming_enriquecido(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC dimension join — the enrichment shape every
    production stream runs: the event stream joins the static customer
    dim (broadcast; Structured Streaming re-plans the static side per
    micro-batch, so a dim refresh lands without restarting the query)
    BEFORE the watermarked tumbling-window aggregation per (hour,
    segment). Drained with availableNow and checked against the batch
    oracle — the micro-batch join + stateful agg must reproduce batch
    semantics exactly."""
    from etl_python_airflow_bigquery_spark.streaming.jobs import WATERMARK
    from etl_python_airflow_bigquery_spark.tables import load_table

    stream = read_events_stream(
        spark, events_dir_for(sf_dir),
        files_per_trigger_for(events_dir_for(sf_dir)),
    )
    seg = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segmento"),
    )
    joined = stream.join(F.broadcast(seg), "user_id")
    agg = (
        joined.withWatermark("ts_utc", WATERMARK)
        .groupBy(F.window("ts_utc", "1 hour").alias("w"), "segmento")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("eventos"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("valor"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("hora_us"),
            "segmento",
            "eventos",
            "valor",
        )
    )
    return run_to_memory(agg, f"enriquecido_{uuid.uuid4().hex[:8]}")


_ATRIBUCION_ORACLE = """
WITH v AS (
    SELECT user_id, epoch_us(ts) AS t_vista FROM events WHERE event_type = 'view'
),
c AS (
    SELECT user_id, epoch_us(ts) AS t_compra FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id,
       CAST(v.t_vista AS BIGINT) AS t_vista,
       CAST(c.t_compra AS BIGINT) AS t_compra
FROM v JOIN c ON c.user_id = v.user_id
             AND c.t_compra >= v.t_vista
             AND c.t_compra <= v.t_vista + 3600000000
"""


@register("streaming_atribucion", oracle=_ATRIBUCION_ORACLE,
          ops=("ST2", "J3"), driver=False)
def streaming_atribucion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join — purchase attribution: every
    purchase pairs with the same user's views from the preceding hour,
    both sides UNBOUNDED STREAMS with watermarks bounding the join
    state (the engine retains only the last watermark+range window of
    each side — the memory contract that makes stream-stream joins
    viable at 100 TB/day). Drained with availableNow in append mode;
    the emitted pairs hash-match the batch interval join exactly."""
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        WATERMARK,
        run_to_memory_append,
    )

    stream = read_events_stream(
        spark, events_dir_for(sf_dir),
        files_per_trigger_for(events_dir_for(sf_dir)),
    )
    vistas = (
        stream.where(F.col("event_type") == "view")
        .select("user_id", F.col("ts_utc").alias("ts_vista"))
        .withWatermark("ts_vista", WATERMARK)
    )
    compras = (
        stream.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("user_c"), F.col("ts_utc").alias("ts_compra"))
        .withWatermark("ts_compra", WATERMARK)
    )
    joined = vistas.join(
        compras,
        F.expr(
            "user_id = user_c AND "
            "ts_compra >= ts_vista AND "
            "ts_compra <= ts_vista + interval 1 hour"
        ),
    ).select(
        "user_id",
        F.unix_micros("ts_vista").alias("t_vista"),
        F.unix_micros("ts_compra").alias("t_compra"),
    )
    out, _metrics = run_to_memory_append(joined, f"atrib_{uuid.uuid4().hex[:8]}")
    return out


_KMV_STREAM_ORACLE = """
WITH hashes AS (
    SELECT DISTINCT event_type,
           CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
    FROM events
),
rk AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM hashes
)
SELECT event_type,
       CAST(CASE WHEN max(n) <= 64 THEN max(n)
                 ELSE CAST(floor(63 * 1152921504606846976.0
                                 / max(CASE WHEN rn = 64 THEN h END)) AS BIGINT)
            END AS BIGINT) AS usuarios_estimados
FROM rk WHERE rn <= 64
GROUP BY 1
"""


@register("streaming_kmv_distinct", oracle=_KMV_STREAM_ORACLE,
          ops=("ST2", "A2"), driver=False)
def streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-STATE approximate distinct as a custom stateful streaming
    operator: GroupState per event_type holds only the K+1 smallest
    md5-prefix hashes (the mergeable KMV bottom-k sketch), so state is
    O(K) however many users the stream ever sees — the production twin
    of `streaming_expanding_distinct`, whose exact state grows with true
    cardinality. Because KMV is deterministic given the hash, the
    drained stream's estimate equals the batch sketch BIT-FOR-BIT — a
    streaming approximation a DuckDB oracle can check exactly. The
    drain picks each key's final emission by the monotone
    rows-processed counter."""
    from pyspark.sql import Window
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        kmv_distinct_stream,
    )

    stream = read_events_stream(
        spark, events_dir_for(sf_dir),
        files_per_trigger_for(events_dir_for(sf_dir)),
    )
    name = f"kmv_{uuid.uuid4().hex[:8]}"
    q = (
        kmv_distinct_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    w = Window.partitionBy("event_type").orderBy(F.desc("vistos"))
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", "usuarios_estimados")
    )


_HOPPING_ORACLE = """
WITH anclas AS (
    SELECT event_type,
           (epoch_us(ts) // 3600000000) * 3600000000 AS hora_us
    FROM events
),
doble AS (
    SELECT event_type, hora_us AS inicio_us FROM anclas
    UNION ALL
    SELECT event_type, hora_us - 3600000000 FROM anclas
)
SELECT inicio_us, event_type, CAST(count(*) AS BIGINT) AS eventos
FROM doble
GROUP BY 1, 2
"""


@register("streaming_hopping", oracle=_HOPPING_ORACLE, ops=("ST1", "W2"),
          driver=False)
def streaming_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING (sliding) windows from the STREAMING ENGINE — 2-hour
    windows advancing every hour (`window(ts, '2 hours', '1 hour')`):
    each event lands in exactly two overlapping windows, the moving
    aggregate every ops dashboard draws. Completes the streaming window
    matrix (tumbling, session, interval-join, sliding-distinct — now
    hopping); state is bounded by watermark-horizon × hop count × key
    cardinality exactly like the tumbling case, ×2 for the overlap.
    Oracle: the two-anchor explode — an event at hour h belongs to the
    windows starting at h and h−1 — aggregated in batch SQL."""
    stream = read_events_stream(
        spark, events_dir_for(sf_dir),
        files_per_trigger_for(events_dir_for(sf_dir)),
    )
    agg = (
        stream.withWatermark("ts_utc", "4 days")
        .groupBy(
            F.window("ts_utc", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("eventos"))
        .select(
            F.unix_micros(F.col("w.start")).alias("inicio_us"),
            "event_type",
            "eventos",
        )
    )
    return run_to_memory(agg, f"hopping_{uuid.uuid4().hex[:8]}")


# --------------------------------------------------------------------------
# Streaming curation gate — the Gopher rules applied in-stream
# --------------------------------------------------------------------------

from etl_python_airflow_bigquery_spark.queries.text import (  # noqa: E402
    _STOP_LIST_SQL,
)

# The stop-word rule MUST use the same list as the Spark-side
# gopher_flags projection (queries/text.py STOPWORDS) — built from the
# shared _STOP_LIST_SQL constant so an edit to STOPWORDS cannot
# silently break batch/stream oracle parity.
_CALIDAD_STREAM_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
    FROM documents
),
por_doc AS (
    SELECT doc_id, source,
           CAST(count(*) FILTER (w != '') AS BIGINT) AS palabras,
           CAST(coalesce(sum(len(w)) FILTER (w != ''), 0) AS BIGINT) AS chars,
           CAST(count(*) FILTER (regexp_matches(w, '[#@%$]')) AS BIGINT)
               AS simbolos,
           CAST(count(*) FILTER (regexp_matches(w, '[A-Za-z]')) AS BIGINT)
               AS alfa,
           CAST(count(DISTINCT w)
                FILTER (list_contains({_STOP_LIST_SQL}, w))
                AS BIGINT) AS stops
    FROM tok GROUP BY doc_id, source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN palabras BETWEEN 5 AND 100000
                      AND 3 * palabras <= chars AND chars <= 12 * palabras
                      AND 10 * simbolos < palabras
                      AND 5 * alfa >= 4 * palabras
                      AND stops >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS aprobados,
       CAST(1000 * sum(CASE WHEN palabras BETWEEN 5 AND 100000
                      AND 3 * palabras <= chars AND chars <= 12 * palabras
                      AND 10 * simbolos < palabras
                      AND 5 * alfa >= 4 * palabras
                      AND stops >= 2 THEN 1 ELSE 0 END) // count(*) AS BIGINT)
           AS tasa_milli
FROM por_doc GROUP BY source
"""


@register("streaming_reglas_calidad", oracle=_CALIDAD_STREAM_ORACLE,
          ops=("ST1", "TX2", "A8"), driver=False)
def streaming_reglas_calidad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality gate running IN-STREAM — the curation
    ingest's shape: documents arrive as landed files, every micro-batch
    computes the rule bits with the SAME `gopher_flags` projection the
    batch query uses (stateless — append mode with no watermark, no
    operator state at all), and the drained per-doc flags roll up to
    per-source pass rates that must equal the batch oracle. At 100 TB
    this is the filter stage of a streaming curation pipeline: pure
    map work per batch, so throughput is bounded by the scan, not by
    state."""
    from etl_python_airflow_bigquery_spark.queries.text import gopher_flags
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        run_to_memory_append,
        table_dir_for,
    )

    docs_dir = table_dir_for(sf_dir, "documents")
    schema = spark.read.parquet(docs_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger_for(docs_dir))
        .parquet(docs_dir)
    )
    flags = gopher_flags(stream).select("doc_id", "source", "aprobado")
    tabla, _metrics = run_to_memory_append(
        flags, f"calidad_{uuid.uuid4().hex[:8]}"
    )
    return tabla.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum(F.when(F.col("aprobado"), 1).otherwise(0))
        .cast("bigint")
        .alias("aprobados"),
        F.expr("(1000 * sum(CASE WHEN aprobado THEN 1 ELSE 0 END)) div count(*)")
        .cast("bigint")
        .alias("tasa_milli"),
    )


# --------------------------------------------------------------------------
# Streaming span-cut gate — known duplicated spans excised in-stream
# --------------------------------------------------------------------------

from etl_python_airflow_bigquery_spark.queries.text import (  # noqa: E402
    _SIN_SUBC_INC_ORACLE,
)


@register("streaming_cortes_subcadenas", oracle=_SIN_SUBC_INC_ORACLE,
          ops=("ST1", "DD1", "TX4"), driver=False)
def streaming_cortes_subcadenas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPAN-CUT gate running IN-STREAM — the consumer
    `corpus_sin_subcadenas_incremental` promised: new documents (every
    10th doc_id) arrive as landed files, and every micro-batch excises
    the windows the STORED corpus index already knows before the text
    would reach a training shard. Identical cut logic to the batch op
    (shared `subcadena_hashes` + `_cut_output`), so the drained stream
    result equals the batch oracle row for row — the gopher-gate
    factoring (streaming_reglas_calidad) applied to span dedup.

    Shape: the corpus index builds ONCE (static side, localCheckpoint)
    and joins each micro-batch stream-side via foreachBatch (the
    aggregation-per-batch form run_validated_ingest uses — per-batch
    collect_set of cut tiles is batch-bounded, never corpus-sized).
    Each batch's cut rows APPEND TO A TxTABLE as one atomic manifest
    flip, fenced with (app_id, batch_id) so a replayed batch is a no-op
    (the run_semdedup_ingest contract; VERDICT r9 #6 / r10 #5 — the
    old shape collected every batch to a driver list, which is
    output-bounded at test scale but driver-resident at production
    scale). The oracle compare reads the table back; nothing crosses
    the driver but manifest metadata."""
    from etl_python_airflow_bigquery_spark.queries.text import (
        _cut_output,
        subcadena_hashes,
    )
    from etl_python_airflow_bigquery_spark.streaming.jobs import table_dir_for

    docs_dir = table_dir_for(sf_dir, "documents")
    static_docs = spark.read.parquet(docs_dir)
    indice = (
        subcadena_hashes(static_docs.where(F.col("doc_id") % 10 != 0))
        .select("h")
        .distinct()
        .localCheckpoint(eager=True)
    )
    stream = (
        spark.readStream.schema(static_docs.schema)
        .option("maxFilesPerTrigger", files_per_trigger_for(docs_dir))
        .parquet(docs_dir)
    )
    import os as _os
    import tempfile as _tempfile

    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable

    sink = TxTable(
        _os.path.join(_tempfile.mkdtemp(prefix="cortes_tx_"), "cortes")
    )
    app_id = f"cortes:{_os.path.abspath(sf_dir)}"

    def cortar(batch_df: DataFrame, batch_id: int) -> None:
        nuevos = batch_df.where(F.col("doc_id") % 10 == 0)
        if nuevos.isEmpty():
            return
        hs = subcadena_hashes(nuevos)
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
        # one atomic manifest flip per batch; the (app_id, batch_id)
        # fence turns a crash-replayed batch into a no-op
        sink.append(_cut_output(nuevos, cortes), txn=(app_id, batch_id))

    q = (
        stream.writeStream.foreachBatch(cortar)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    schema = "doc_id BIGINT, n_original BIGINT, n_limpio BIGINT, huella STRING"
    if sink.version() < 0:  # no batch carried a new doc
        return spark.createDataFrame([], schema)
    return sink.read(spark)


# --------------------------------------------------------------------------
# Streaming weak-label gate — the votos_debiles projection in-stream
# --------------------------------------------------------------------------

from etl_python_airflow_bigquery_spark.queries.text import (  # noqa: E402
    _DEBIL_ORACLE,
)


@register("streaming_etiquetado_debil", oracle=_DEBIL_ORACLE,
          ops=("ST1", "TX2", "A8"), driver=False)
def streaming_etiquetado_debil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weak-supervision vote audit running IN-STREAM — the
    labeling-function gate at ingest time: documents arrive as landed
    files, every micro-batch computes the SAME ``votos_debiles``
    projection the batch query uses (stateless — pure column
    expressions, append mode, no watermark, no operator state), and
    the drained per-doc votes roll up to the per-source coverage/
    conflict table that must equal the batch oracle row for row. The
    gopher_flags batch/stream factoring applied to weak supervision:
    one definition, two execution modes, zero drift possible. At
    100 TB this is pure map work per batch — throughput bounded by the
    scan, not by state."""
    from etl_python_airflow_bigquery_spark.queries.text import (
        _rollup_debil,
        votos_debiles,
    )
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        run_to_memory_append,
        table_dir_for,
    )

    docs_dir = table_dir_for(sf_dir, "documents")
    schema = spark.read.parquet(docs_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger_for(docs_dir))
        .parquet(docs_dir)
    )
    votos = votos_debiles(stream).select(
        "doc_id", "source", "suma", "abstuvo", "conflicto"
    )
    tabla, _metrics = run_to_memory_append(
        votos, f"debil_{uuid.uuid4().hex[:8]}"
    )
    return _rollup_debil(tabla)


# --------------------------------------------------------------------------
# Streaming token-budget admission — cuotas_fuentes' stateful twin
# --------------------------------------------------------------------------

from etl_python_airflow_bigquery_spark.streaming.jobs import (  # noqa: E402
    CUOTA_STREAM_CAP,
)

_CUOTA_STREAM_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS t
    FROM documents
),
acum AS (
    SELECT source, t,
           sum(t) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS cs
    FROM tok
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs_vistos,
       CAST(sum(t) AS BIGINT) AS tokens_vistos,
       CAST(sum(CASE WHEN cs - t < {CUOTA_STREAM_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_cap,
       CAST(sum(CASE WHEN cs - t < {CUOTA_STREAM_CAP} THEN t ELSE 0 END)
            AS BIGINT) AS tokens_cap
FROM acum GROUP BY 1
"""


@register("streaming_cuotas_fuentes", oracle=_CUOTA_STREAM_ORACLE,
          ops=("ST2", "A1", "W1"), driver=False)
def streaming_cuotas_fuentes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cuotas_fuentes' STREAMING twin — per-source token-budget
    admission as a CUSTOM STATEFUL OPERATOR (applyInPandasWithState):
    the running seen/admitted totals live in GroupState (four int64s
    per source, regardless of corpus size), each arriving doc admits
    iff the tokens seen before it are still under the fixed budget
    (prefix-sum admission without a window — the state IS the prefix).
    The budget is a config constant: a stream cannot derive the batch
    form's corpus//(2n) cap from unseen future data, which is exactly
    why production feeds the budget from the mixture plan. Admission
    order is arrival order (within a trigger, rows fold doc_id-sorted
    so partition interleaving cannot reorder); the fixture's single
    ordered file makes arrival = doc_id, which is what the batch
    window oracle models. Update-mode drain; all totals are monotonic,
    so max() per source recovers the final state."""
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        cuota_stream,
        table_dir_for,
    )

    docs_dir = table_dir_for(sf_dir, "documents")
    # Oracle contract (ADVICE r8): the batch oracle admits in GLOBAL
    # doc_id order, the stream admits in FILE-ARRIVAL order (doc_id-
    # sorted only within a trigger). They coincide only while the
    # documents fixture is ONE file — assert that, so a regenerated
    # multi-file fixture fails loudly here instead of silently
    # diverging from the oracle. (Production has no oracle to match:
    # arrival order IS the admission semantics there.)
    n_files = len([
        f for f in os.listdir(docs_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ])
    if n_files != 1:
        raise AssertionError(
            f"streaming_cuotas_fuentes oracle requires a single-file "
            f"documents fixture (found {n_files} in {docs_dir}): global "
            f"doc_id admission order != multi-file arrival order"
        )
    schema = spark.read.parquet(docs_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger_for(docs_dir))
        .parquet(docs_dir)
    )
    out = cuota_stream(stream)
    name = f"cuota_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).groupBy("source").agg(
        F.max("docs_vistos").cast("bigint").alias("docs_vistos"),
        F.max("tokens_vistos").cast("bigint").alias("tokens_vistos"),
        F.max("docs_cap").cast("bigint").alias("docs_cap"),
        F.max("tokens_cap").cast("bigint").alias("tokens_cap"),
    )


# --------------------------------------------------------------------------
# Streaming WINDOWED Gopher gate — per-day rule pass rates (tumbling day)
# --------------------------------------------------------------------------

from etl_python_airflow_bigquery_spark.queries.text import (  # noqa: E402
    _GOPHER_REGLAS_CTES,
)

# Synthetic ingest day for the documents table (which carries no event
# time): day = doc_id div 100, anchored at 2024-01-01 UTC expressed in
# EPOCH MICROSECONDS on both engines — timestamp_micros keeps the Spark
# side absolute (no session-timezone parse; the hostile-tz driver-sim
# lesson), and day boundaries land exactly on window starts because the
# anchor is a multiple of 86 400 s. doc_id is monotone in arrival order,
# so the synthetic event time never runs backwards and a watermark can
# never drop a day that is still filling.
_VENTANA_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_VENTANA_DIA_US = 86_400_000_000
_VENTANA_DIV = 100

_REGLAS_VENTANA_ORACLE = f"""
WITH {_GOPHER_REGLAS_CTES},
largo_v AS (
    SELECT doc_id, 'palabras' AS regla, r_palabras AS ok FROM reglas
    UNION ALL SELECT doc_id, 'longitud_media', r_longitud FROM reglas
    UNION ALL SELECT doc_id, 'simbolos', r_simbolos FROM reglas
    UNION ALL SELECT doc_id, 'alfabeticas', r_alfa FROM reglas
    UNION ALL SELECT doc_id, 'stopwords', r_stops FROM reglas
    UNION ALL SELECT doc_id, 'todas',
        r_palabras AND r_longitud AND r_simbolos AND r_alfa AND r_stops
    FROM reglas
)
SELECT CAST({_VENTANA_EPOCH_US} + (doc_id // {_VENTANA_DIV})
            * {_VENTANA_DIA_US} AS BIGINT) AS dia_us,
       regla,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS aprobados,
       CAST(1000 * sum(CASE WHEN ok THEN 1 ELSE 0 END) // count(*) AS BIGINT)
           AS tasa_milli
FROM largo_v GROUP BY 1, 2
"""


@register("streaming_reglas_ventana", oracle=_REGLAS_VENTANA_ORACLE,
          ops=("ST1", "TX2", "W2", "A8"), driver=False)
def streaming_reglas_ventana(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher gate's WINDOWED streaming form (VERDICT r8 #9) —
    completing the batch/stream twin pattern: where
    ``streaming_reglas_calidad`` is the stateless per-doc filter and
    ``reglas_gopher`` the global batch audit, this is the per-day
    OPERATIONAL readout a streaming curation pipeline actually watches
    — tumbling-day pass rates per rule, so a feed whose quality decays
    shows up as a dropping day-over-day tasa_milli on the specific rule
    that started eating it. The rule bits are the SAME shared
    ``gopher_flags`` projection (one definition, three execution
    modes); the windowed aggregate runs in the streaming engine
    (withWatermark + window — state is rules × open windows, four
    int64-ish values each, regardless of corpus size) and the drained
    result must equal the batch day-grouped oracle row for row."""
    from etl_python_airflow_bigquery_spark.queries.text import gopher_flags
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        run_to_memory,
        table_dir_for,
    )

    docs_dir = table_dir_for(sf_dir, "documents")
    schema = spark.read.parquet(docs_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger_for(docs_dir))
        .parquet(docs_dir)
    )
    reglas = gopher_flags(stream).withColumn(
        "ts",
        F.timestamp_micros(
            F.lit(_VENTANA_EPOCH_US)
            + F.expr(f"doc_id div {_VENTANA_DIV}") * F.lit(_VENTANA_DIA_US)
        ),
    )
    largo = reglas.select(
        "ts",
        F.explode(
            F.expr(
                "array(struct('palabras' AS regla, r_palabras AS ok), "
                "struct('longitud_media' AS regla, r_longitud AS ok), "
                "struct('simbolos' AS regla, r_simbolos AS ok), "
                "struct('alfabeticas' AS regla, r_alfa AS ok), "
                "struct('stopwords' AS regla, r_stops AS ok), "
                "struct('todas' AS regla, (r_palabras AND r_longitud "
                "AND r_simbolos AND r_alfa AND r_stops) AS ok))"
            )
        ).alias("e"),
    ).select("ts", F.col("e.regla").alias("regla"), F.col("e.ok").alias("ok"))
    agg = (
        largo.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day"), "regla")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0))
            .cast("bigint")
            .alias("aprobados"),
            F.expr(
                "(1000 * sum(CASE WHEN ok THEN 1 ELSE 0 END)) div count(*)"
            ).cast("bigint").alias("tasa_milli"),
        )
        .select(
            F.unix_micros("window.start").alias("dia_us"),
            "regla",
            "docs",
            "aprobados",
            "tasa_milli",
        )
    )
    return run_to_memory(agg, f"reglas_v_{uuid.uuid4().hex[:8]}")


# --------------------------------------------------------------------------
# Streaming repetition gate — the Gopher repetition signals in-stream
# --------------------------------------------------------------------------

from etl_python_airflow_bigquery_spark.queries.text import (  # noqa: E402
    _REPETICION_ORACLE,
)


@register("streaming_senales_repeticion", oracle=_REPETICION_ORACLE,
          ops=("ST1", "TX2", "A8"), driver=False)
def streaming_senales_repeticion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher REPETITION signals running IN-STREAM — documents
    arrive as landed files, every micro-batch computes the SAME
    ``repeticion_por_doc`` projection the batch query uses (stateless —
    pure higher-order array expressions, append mode, no watermark, no
    operator state), and the drained per-doc signals roll up through
    the SAME ``_rollup_repeticion`` census that must equal the batch
    oracle row for row. The gopher_flags / votos_debiles batch/stream
    factoring applied to the repetition family: one definition, two
    execution modes, zero drift possible. At 100 TB this is pure map
    work per batch — throughput bounded by the scan, not by state."""
    from etl_python_airflow_bigquery_spark.queries.text import (
        _rollup_repeticion,
        repeticion_por_doc,
    )
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        run_to_memory_append,
        table_dir_for,
    )

    docs_dir = table_dir_for(sf_dir, "documents")
    schema = spark.read.parquet(docs_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger_for(docs_dir))
        .parquet(docs_dir)
    )
    senales = repeticion_por_doc(stream).select(
        "doc_id", "source", "dup_mili", "bigrama_mili"
    )
    tabla, _metrics = run_to_memory_append(
        senales, f"repeticion_{uuid.uuid4().hex[:8]}"
    )
    return _rollup_repeticion(tabla)


# --------------------------------------------------------------------------
# Streaming HYBRID SERVE — per-batch RRF against the stored ANN index
# --------------------------------------------------------------------------

_HIB_STREAM_QUERIES = 3  # deterministic arrival set: ~3 anchors at any sf


def _hibrida_stream_oracle() -> str:
    """Build+serve replay for the STREAMING hybrid: the deterministic
    arrival set (doc_id % (n_docs // {q}) == 0) over the same
    query-keyed statement and stored-index dense side as the batch
    ``busqueda_hibrida_indexada`` oracle — the algebra cannot drift
    between the batch and streaming faces."""
    from etl_python_airflow_bigquery_spark.queries.serving import (
        _hibrida_ivf_vec_sql,
    )
    from etl_python_airflow_bigquery_spark.queries.similarity import (
        _hibrida_sql,
    )

    return _hibrida_sql(
        f"""qmodq AS (
    SELECT greatest(1, count(*) // {_HIB_STREAM_QUERIES}) AS m
    FROM documents
),
consultas AS (
    SELECT doc_id AS query_id FROM documents, qmodq WHERE doc_id % m = 0
)""",
        _hibrida_ivf_vec_sql(),
    )


@register("streaming_busqueda_hibrida", oracle=_hibrida_stream_oracle(),
          ops=("ST1", "NN2", "O7"), driver=True, bench=True)
def streaming_busqueda_hibrida(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL SERVED IN-STREAM from the stored ANN index —
    ``busqueda_hibrida_indexada``'s streaming face (ROADMAP r11 (d)),
    completing the stored-index streaming quartet: more-like-this query
    anchors (a deterministic doc_id % (n//{3}) == 0 set, one arrival
    file EACH so every anchor lands in its own micro-batch) stream
    through ``run_hybrid_serve``, where each batch RRF-fuses the shared
    multi-query BM25 lexical ranking with a dense probe of the PERSISTED
    IVF tables and appends the fused top-k atomically to a txlog sink
    (txn-fenced: a crash-replayed batch is a no-op). The drained table
    is compared against the full build+serve SQL replay — per-query
    independence makes batch/stream equivalence exact, and the
    batch-twin identity is separately test-pinned."""
    import os as _os
    import tempfile as _tempfile

    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.queries.serving import _served_indexes
    from etl_python_airflow_bigquery_spark.streaming.jobs import (
        run_hybrid_serve,
        table_dir_for,
    )

    docs = spark.read.parquet(table_dir_for(sf_dir, "documents"))
    n = docs.count()
    qmod = max(1, n // _HIB_STREAM_QUERIES)
    qids = sorted(
        r["doc_id"]
        for r in docs.where(F.col("doc_id") % qmod == 0)
        .select("doc_id").collect()
    )
    _schema = (
        "query_id BIGINT, doc_id BIGINT, rrf_micro BIGINT, "
        "pos_fusion BIGINT, pos_lex BIGINT, pos_vec BIGINT"
    )
    if not qids:  # empty corpus: nothing arrives, nothing to index
        return spark.createDataFrame([], _schema)
    index_path, lex_path = _served_indexes(spark, sf_dir)

    raiz = _tempfile.mkdtemp(prefix="hib_stream_")
    src = _os.path.join(raiz, "llegadas")
    _os.makedirs(src)
    # TWO arrival files → two micro-batches: multi-batch semantics stay
    # exercised (the per-anchor-batch case is separately test-pinned by
    # test_streaming_hybrid_serve_matches_batch) without paying one
    # giant-plan codegen pass per anchor — each micro-batch constructs
    # a fresh serve plan, and at 3-5 s of JIT per plan the per-anchor
    # form spent most of its wall on compilation, not serving.
    grupos = [qids[:1], qids[1:]] if len(qids) > 1 else [qids]
    # arrival files land via pyarrow on the DRIVER: the anchor list is
    # tiny and driver-known, and a LocalRelation routed through the JVM
    # write committer costs seconds of fixed overhead per file on this
    # filesystem (measured ~5 s each, r13) — a pure harness tax that was
    # charged to the streaming serve's bench row
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    for i, grupo in enumerate(grupos):
        if not grupo:
            continue
        _pq.write_table(
            _pa.table({"query_id": _pa.array(grupo, type=_pa.int64())}),
            f"{src}/q{i:03d}.parquet",
        )

    sink_path = _os.path.join(raiz, "servido")
    run_hybrid_serve(
        spark, src, sf_dir, index_path, sink_path,
        _os.path.join(raiz, "ck"), lex_path=lex_path,
    )
    return TxTable(sink_path).read(spark)
