"""Analytic-layer queries (SURVEY.md §7.1 step 8): the superposition
self-join pipeline, month-to-date expanding distinct, ranking/frame
windows, top-k, date-part joins, and cross-join grid completion.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.dims import day_part_blocks_dim, day_grid
from etl_python_airflow_bigquery_spark.functions import (
    dsum,
    event_day_num,
    event_ts_us,
    local_df,
)
from etl_python_airflow_bigquery_spark.operators.intervals import (
    DAY_TIER_MIN_DAYS,
    expand_day_atoms_to_hours,
    explode_to_hour_grid,
    sessions_from_events,
)
from etl_python_airflow_bigquery_spark.operators.checkpoints import (
    iter_checkpoint,
)
from etl_python_airflow_bigquery_spark.queries import register
from etl_python_airflow_bigquery_spark.queries.text import _hex_hash_sql, hex_hash
from etl_python_airflow_bigquery_spark.tables import load_table

# --------------------------------------------------------------------------
# J9/A13 — audience-overlap (superposición) matrix via self-join
# --------------------------------------------------------------------------

_SUPER_ORACLE = """
WITH sess AS (
    SELECT user_id,
           epoch_us(ts) AS s_us,
           epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS e_us
    FROM events
),
atoms AS (
    SELECT DISTINCT s.user_id,
           g.i // 24 AS day_num,
           g.i % 24 AS hora
    FROM sess s, LATERAL unnest(generate_series(s.s_us // 3600000000,
                                                (s.e_us - 1) // 3600000000)) AS g(i)
    WHERE s.e_us > s.s_us
)
SELECT a.hora AS periodo,
       b.hora AS periodo_referencia,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS usuarios
FROM atoms a
JOIN atoms b ON a.user_id = b.user_id AND a.day_num = b.day_num
GROUP BY 1, 2
"""


@register("superposicion_hora_selfjoin", oracle=_SUPER_ORACLE,
          ops=("J9", "A13", "A2"), driver=False)
def superposicion_hora_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every hour pair, how many distinct
    users listened in both hours of the same day (reference
    Complex_user_superposition_by_hour_etl.ipynb cells 2-4 — pandas
    self-merge + groupby nunique, the clearest memory-wall case in the
    reference; SURVEY.md §3.3).

    The JOIN-form J9 mechanics, kept at pytest tier: distinct user-hour
    atoms (bounded: ≤ users × 24 × days), self-joined on (user_id, day)
    — an equi hash join Catalyst shuffles on the join key, not a
    cartesian — then a distinct-count per pair. The DRIVER-tier
    ``superposicion_hora`` (queries/marts.py) computes the same matrix
    from the compound-bucketed mart with the join shuffle amortized into
    the mart build."""
    sessions = sessions_from_events(load_table(spark, sf_dir, "events"))
    atoms = (
        explode_to_hour_grid(sessions)
        .select(
            "user_id",
            F.floor(F.col("hour_idx") / 24).cast("bigint").alias("day_num"),
            (F.col("hour_idx") % 24).cast("bigint").alias("hora"),
        )
        .distinct()
    )
    a = atoms.alias("a")
    b = atoms.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.day_num") == F.col("b.day_num")),
    )
    return pairs.groupBy(
        F.col("a.hora").alias("periodo"),
        F.col("b.hora").alias("periodo_referencia"),
    ).agg(F.countDistinct(F.col("a.user_id")).cast("bigint").alias("usuarios"))


# --------------------------------------------------------------------------
# A7/W1 — month-to-date expanding distinct audience
# --------------------------------------------------------------------------

_ACUMULADO_ORACLE = """
WITH daily AS (
    SELECT DISTINCT user_id,
           epoch_us(ts) // 86400000000 AS day_num
    FROM events
),
firstseen AS (
    SELECT user_id,
           (day_num // 30) AS mes,
           min(day_num) AS first_day
    FROM daily GROUP BY 1, 2
),
per_day AS (
    SELECT mes, first_day AS day_num, count(*) AS nuevos
    FROM firstseen GROUP BY 1, 2
),
dias AS (SELECT DISTINCT (day_num // 30) AS mes, day_num FROM daily)
SELECT d.day_num,
       CAST(sum(p.nuevos) AS BIGINT) AS usuarios_acumulados
FROM dias d
JOIN per_day p ON p.mes = d.mes AND p.day_num <= d.day_num
GROUP BY d.day_num
"""


@register("acumulado_diario", oracle=_ACUMULADO_ORACLE, ops=("A7", "W1", "A2"),
          driver=False)
def acumulado_diario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-to-date expanding distinct audience per day.

    The reference re-scans a growing [month_start, D) window per day
    (acumulado_diario.py:125-167,318-326) — O(days × month of data).
    Spark-first: each user's FIRST active day per month is found once
    (one groupBy), then a cumulative window sum over the day series
    yields the same curve in two shuffles total, independent of the
    number of days. (Months here are fixed 30-day epoch blocks — the
    synthetic calendar's convention.)"""
    events = load_table(spark, sf_dir, "events")
    daily = events.select(
        "user_id", event_day_num(events).alias("day_num")
    ).distinct()
    mes = (F.col("day_num") / 30).cast("bigint")
    firstseen = daily.groupBy("user_id", mes.alias("mes")).agg(
        F.min("day_num").alias("first_day")
    )
    per_day = firstseen.groupBy("mes", F.col("first_day").alias("day_num")).agg(
        F.count(F.lit(1)).alias("nuevos")
    )
    dias = daily.select(mes.alias("mes"), "day_num").distinct()
    w = Window.partitionBy("mes").orderBy("day_num").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        dias.join(per_day, ["mes", "day_num"], "left")
        .withColumn("nuevos", F.coalesce(F.col("nuevos"), F.lit(0)))
        .withColumn("usuarios_acumulados", F.sum("nuevos").over(w).cast("bigint"))
        .select("day_num", "usuarios_acumulados")
    )


# --------------------------------------------------------------------------
# W — ranking / analytic / frame windows (general capability parity)
# --------------------------------------------------------------------------

_RANKING_ORACLE = """
SELECT c_custkey, c_nationkey,
       CAST(row_number() OVER w AS BIGINT) AS pos,
       CAST(rank() OVER w AS BIGINT) AS ranking,
       lag(c_acctbal, 1, 0.0) OVER w AS saldo_anterior,
       CAST(sum(CAST(c_acctbal AS DECIMAL(28,6)))
            OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS saldo_acumulado
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
"""


@register("ranking_ventanas", oracle=_RANKING_ORACLE, ops=("W1",), driver=False)
def ranking_ventanas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/analytic/frame windows — absent from the reference's SQL
    (SURVEY.md §2.6: no OVER anywhere) but required for capability
    parity; the idiomatic form of its manual expanding/cumulative
    patterns. Deterministic total order via the (balance, key) tiebreak."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return customer.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).cast("bigint").alias("pos"),
        F.rank().over(w).cast("bigint").alias("ranking"),
        F.lag("c_acctbal", 1, 0.0).over(w).alias("saldo_anterior"),
        F.sum(F.col("c_acctbal").cast("decimal(28,6)"))
        .over(wsum)
        .cast("double")
        .alias("saldo_acumulado"),
    )


# --------------------------------------------------------------------------
# O7 — top-k
# --------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT l_partkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS ingresos
FROM lineitem
GROUP BY l_partkey
ORDER BY ingresos DESC, l_partkey
LIMIT 10
"""


@register("top_contenidos", oracle=_TOPK_ORACLE, ops=("O7", "O1", "A1"))
def top_contenidos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 contents by revenue — orderBy+limit compiles to
    TakeOrderedAndProject (a per-partition top-k + single-driver merge,
    never a full sort) — the scale-correct top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(dsum("l_extendedprice").alias("ingresos"))
        .orderBy(F.col("ingresos").desc(), F.col("l_partkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# J12 — date-part equi join (calendar month alignment)
# --------------------------------------------------------------------------

_DATEPART_ORACLE = """
WITH mensual AS (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS anio,
           CAST(month(o_orderdate) AS INTEGER) AS mes,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_mes
    FROM orders GROUP BY 1, 2
)
SELECT o.o_orderkey, m.anio, m.mes,
       floor(o.o_totalprice / m.total_mes * 1000) / 1000 AS participacion
FROM orders o
JOIN mensual m ON year(o.o_orderdate) = m.anio AND month(o.o_orderdate) = m.mes
"""


@register("date_part_join", oracle=_DATEPART_ORACLE, ops=("J12", "A1"),
          driver=False)
def date_part_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows aligned to their calendar month's aggregate by an
    EXTRACT-on-both-sides equi join (reference
    programas_live.py:409-412,422-426). o_orderdate is TIMESTAMP_NTZ so
    year()/month() are tz-independent on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    mensual = orders.groupBy(
        F.year("o_orderdate").alias("anio"), F.month("o_orderdate").alias("mes")
    ).agg(dsum("o_totalprice").alias("total_mes"))
    return (
        orders.join(
            F.broadcast(mensual),
            (F.year("o_orderdate") == mensual.anio)
            & (F.month("o_orderdate") == mensual.mes),
        )
        .select(
            "o_orderkey",
            "anio",
            "mes",
            (F.floor(F.col("o_totalprice") / F.col("total_mes") * 1000) / 1000).alias(
                "participacion"
            ),
        )
    )


# --------------------------------------------------------------------------
# J6/A13 — cross-join grid completion with zero-fill
# --------------------------------------------------------------------------

_GRID_ORACLE = """
WITH dias AS (
    SELECT d FROM generate_series(19723, 19753) t(d)
),
bloques(bloque, h_lo, h_hi) AS (
    VALUES ('6a7', 6, 7), ('7a9', 7, 9), ('9a12', 9, 12), ('12a14', 12, 14),
           ('14a18', 14, 18), ('18a21', 18, 21), ('21a06', 21, 30)
),
grid AS (SELECT d.d AS day_num, b.bloque FROM dias d CROSS JOIN bloques b),
sess AS (
    SELECT user_id,
           epoch_us(ts) AS s_us,
           epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS e_us
    FROM events
),
atoms AS (
    SELECT DISTINCT s.user_id, g.i // 24 AS day_num,
           CASE WHEN g.i % 24 = 6 THEN '6a7'
                WHEN g.i % 24 BETWEEN 7 AND 8 THEN '7a9'
                WHEN g.i % 24 BETWEEN 9 AND 11 THEN '9a12'
                WHEN g.i % 24 BETWEEN 12 AND 13 THEN '12a14'
                WHEN g.i % 24 BETWEEN 14 AND 17 THEN '14a18'
                WHEN g.i % 24 BETWEEN 18 AND 20 THEN '18a21'
                ELSE '21a06' END AS bloque
    FROM sess s, LATERAL unnest(generate_series(s.s_us // 3600000000,
                                                (s.e_us - 1) // 3600000000)) AS g(i)
    WHERE s.e_us > s.s_us
),
counts AS (
    SELECT day_num, bloque, count(DISTINCT user_id) AS usuarios
    FROM atoms GROUP BY 1, 2
)
SELECT g.day_num, g.bloque,
       CAST(coalesce(c.usuarios, 0) AS BIGINT) AS usuarios
FROM grid g
LEFT JOIN counts c ON g.day_num = c.day_num AND g.bloque = c.bloque
"""


@register("grid_completion", oracle=_GRID_ORACLE, ops=("J6", "J11", "A13"),
          driver=False)
def grid_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (day × day-part block) cell with zero-filled distinct
    audience — the superposition notebooks' df_comb grid pattern
    (cells 5-6, 10-13): cross-join the full period grid, left-join the
    sparse counts, fill zeros so downstream consumers see a dense
    matrix.

    Rides the shared (user_id, day_num)-bucketed atom mart (mart
    amortization: the hour-atom dedup shuffle is paid once per dataset,
    not per query) — the block tag derives map-side from the mart's
    hora column."""
    from etl_python_airflow_bigquery_spark.queries.marts import atomos_usuario_mart
    from etl_python_airflow_bigquery_spark.queries.reshape import _bloque_col

    atoms = atomos_usuario_mart(spark, sf_dir).select(
        "user_id",
        "day_num",
        _bloque_col(F.col("hora").cast("int")).alias("bloque"),
    )
    counts = atoms.groupBy("day_num", "bloque").agg(
        F.countDistinct("user_id").alias("usuarios")
    )
    dias = day_grid(spark, 19723, 19753).select(F.col("day_num").cast("bigint"))
    bloques = day_part_blocks_dim(spark).select(
        F.regexp_replace(F.col("bloque"), " ", "").alias("bloque")
    )
    grid = dias.crossJoin(bloques)
    return (
        grid.join(counts, ["day_num", "bloque"], "left")
        .select(
            "day_num",
            "bloque",
            F.coalesce(F.col("usuarios"), F.lit(0)).cast("bigint").alias("usuarios"),
        )
    )


# --------------------------------------------------------------------------
# J9/J11/A13 full fidelity — per-segment superposition matrices
# --------------------------------------------------------------------------

_SUPER_SEG_ORACLE = """
WITH sess AS (
    SELECT user_id,
           epoch_us(ts) AS s_us,
           epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS e_us
    FROM events
),
atoms AS (
    SELECT DISTINCT s.user_id, g.i // 24 AS day_num, g.i % 24 AS hora
    FROM sess s, LATERAL unnest(generate_series(s.s_us // 3600000000,
                                                (s.e_us - 1) // 3600000000)) AS g(i)
    WHERE s.e_us > s.s_us
),
usuarios AS (
    SELECT c_custkey AS user_id,
           CASE WHEN c_custkey % 2 = 0 THEN 'f' ELSE 'm' END AS sexo,
           t.tramo
    FROM customer
    JOIN (VALUES ('13 a 17', 13, 17), ('18 a 24', 18, 24), ('25 a 34', 25, 34),
                 ('35 a 44', 35, 44), ('45 a 54', 45, 54), ('55 a 64', 55, 64),
                 ('65 o mas', 65, 200)) t(tramo, lo, hi)
      ON (c_custkey % 80 + 10) BETWEEN t.lo AND t.hi
),
membresia AS (
    SELECT user_id, 'total' AS segmento FROM usuarios
    UNION ALL SELECT user_id, sexo FROM usuarios
    UNION ALL SELECT user_id, tramo FROM usuarios
    UNION ALL SELECT user_id, sexo || ' ' || tramo FROM usuarios
),
pares AS (
    SELECT a.user_id, a.hora AS periodo, b.hora AS periodo_referencia
    FROM atoms a JOIN atoms b ON a.user_id = b.user_id AND a.day_num = b.day_num
),
conteos AS (
    SELECT m.segmento, p.periodo, p.periodo_referencia,
           count(DISTINCT p.user_id) AS usuarios
    FROM pares p JOIN membresia m ON m.user_id = p.user_id
    GROUP BY 1, 2, 3
),
grid AS (
    SELECT s.segmento, h1.h AS periodo, h2.h AS periodo_referencia
    FROM (SELECT DISTINCT segmento FROM membresia) s
    CROSS JOIN generate_series(0, 23) h1(h)
    CROSS JOIN generate_series(0, 23) h2(h)
)
SELECT g.segmento, g.periodo, g.periodo_referencia,
       CAST(coalesce(c.usuarios, 0) AS BIGINT) AS usuarios
FROM grid g
LEFT JOIN conteos c ON c.segmento = g.segmento AND c.periodo = g.periodo
                    AND c.periodo_referencia = g.periodo_referencia
"""


@register(
    "superposicion_segmentos",
    driver=False,
    oracle=_SUPER_SEG_ORACLE,
    ops=("J9", "J11", "J5", "A13", "J6"),
)
def superposicion_segmentos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL superposition pipeline of the reference notebook
    (Complex_user_superposition_by_hour_etl.ipynb cells 2-14): hour-pair
    audience overlap per demographic segment (total, gender, age
    bracket, gender×bracket), zero-filled over the dense
    segment×24×24 grid.

    Where the reference slices 23 pandas frames and re-merges each
    (its memory wall), Spark computes the PAIRS ONCE, joins the 4-row
    per-user segment membership, and aggregates all segments in one
    shuffle. The dense grid is a broadcast cross join of literals.
    The atom spine comes from the shared (user_id, day_num)-bucketed
    mart, so the self-join's equi keys match the bucket keys exactly —
    zero Exchange on either side of the pair join."""
    from etl_python_airflow_bigquery_spark.dims import age_brackets_dim
    from etl_python_airflow_bigquery_spark.queries.marts import atomos_usuario_mart

    atoms = atomos_usuario_mart(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    usuarios = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.when(F.col("c_custkey") % 2 == 0, "f").otherwise("m").alias("sexo"),
        (F.col("c_custkey") % 80 + 10).cast("int").alias("edad"),
    ).join(
        F.broadcast(age_brackets_dim(spark)),
        F.col("edad").between(F.col("edad_inf"), F.col("edad_sup")),
    )
    membresia = usuarios.select(
        "user_id",
        F.explode(
            F.array(
                F.lit("total"),
                F.col("sexo"),
                F.col("tramo"),
                F.concat_ws(" ", "sexo", "tramo"),
            )
        ).alias("segmento"),
    )
    a = atoms.alias("a")
    b = atoms.alias("b")
    pares = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.day_num") == F.col("b.day_num")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.hora").alias("periodo"),
        F.col("b.hora").alias("periodo_referencia"),
    )
    conteos = pares.join(membresia, "user_id").groupBy(
        "segmento", "periodo", "periodo_referencia"
    ).agg(F.countDistinct("user_id").alias("usuarios"))
    horas = spark.range(24).select(F.col("id").alias("h"))
    grid = (
        membresia.select("segmento")
        .distinct()
        .crossJoin(F.broadcast(horas.select(F.col("h").alias("periodo"))))
        .crossJoin(F.broadcast(horas.select(F.col("h").alias("periodo_referencia"))))
    )
    return grid.join(
        conteos, ["segmento", "periodo", "periodo_referencia"], "left"
    ).select(
        "segmento",
        "periodo",
        "periodo_referencia",
        F.coalesce(F.col("usuarios"), F.lit(0)).cast("bigint").alias("usuarios"),
    )


# --------------------------------------------------------------------------
# mapa_consumo — day-of-week × hour listening heatmap
# --------------------------------------------------------------------------

_MAPA_ORACLE = """
WITH sess AS (
    SELECT user_id,
           epoch_us(ts) AS s_us,
           epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS e_us
    FROM events
),
atoms AS (
    SELECT s.user_id, g.i AS hour_idx,
           greatest(least(s.e_us, (g.i + 1) * 3600000000)
                    - greatest(s.s_us, g.i * 3600000000), 0) AS clip_us
    FROM sess s, LATERAL unnest(generate_series(s.s_us // 3600000000,
                                                (s.e_us - 1) // 3600000000)) AS g(i)
    WHERE s.e_us > s.s_us
)
SELECT CAST(dayofweek(DATE '1970-01-01' + CAST(hour_idx // 24 AS INT)) AS INTEGER)
           AS dia_semana,
       CAST(hour_idx % 24 AS INTEGER) AS hora,
       CAST(sum(clip_us) AS DOUBLE) / 60000000.0 AS minutos,
       CAST(count(DISTINCT user_id) AS BIGINT) AS usuarios
FROM atoms
GROUP BY 1, 2
"""


@register("mapa_consumo", oracle=_MAPA_ORACLE, ops=("A1", "A2", "A4", "W2"),
          driver=True)
def mapa_consumo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumption heatmap: clipped listening minutes + distinct
    audience per (day-of-week, hour) cell — the reference's
    mapa_consumo mart (mapa_consumo.py:81-185). Same exploded-atom
    spine as the flagship; the 7×24 output is constant at any scale.
    DuckDB dayofweek is 0=Sunday; Spark dayofweek is 1=Sunday — aligned
    by subtracting 1 on the Spark side.

    Rides the day-tiered atom spine: day atoms re-expand to their 24
    hour rows only at the end of the map chain (bounded ≤24 fan-out,
    before the one hash-agg shuffle) — every earlier stage sees O(days)
    atoms per pathological session."""
    sessions = sessions_from_events(load_table(spark, sf_dir, "events"))
    atoms = expand_day_atoms_to_hours(
        explode_to_hour_grid(sessions, day_tier_min_days=DAY_TIER_MIN_DAYS)
    )
    dia_semana = (
        F.dayofweek(
            F.date_add(
                F.to_date(F.lit("1970-01-01")),
                F.floor(F.col("hour_idx") / 24).cast("int"),
            )
        )
        - 1
    )
    return atoms.groupBy(
        dia_semana.cast("int").alias("dia_semana"),
        (F.col("hour_idx") % 24).cast("int").alias("hora"),
    ).agg(
        (F.sum("clip_us").cast("double") / F.lit(60_000_000.0)).alias("minutos"),
        F.countDistinct("user_id").cast("bigint").alias("usuarios"),
    )


# --------------------------------------------------------------------------
# EWMA trend — recursive per-key state as a single fold expression
# --------------------------------------------------------------------------
# An exponentially weighted moving average is RECURSIVE (s_t depends on
# s_{t-1}), which no window frame can express — the naive escape hatch
# is a Python UDAF. The engine's form: collect each user's ordered
# daily series once and run the recurrence as a codegen'd `aggregate`
# fold — one shuffle (the groupBy), zero Python, state bounded by the
# per-user day count. The same shape serves any per-key sequential
# metric (decaying engagement scores, session quality chains).
# Integer milli-units everywhere: s_0 = 1000·x_0, s_t = (300·1000·x_t +
# 700·s_{t-1}) div 1000 — exact, so DuckDB's list_reduce over the same
# ordered list matches bit-for-bit.

_EWMA_ORACLE = """
WITH diario AS (
    SELECT user_id, epoch_us(ts) // 86400000000 AS dia,
           CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
serie AS (
    SELECT user_id, count(*) AS dias,
           list(x * 1000 ORDER BY dia) AS xs
    FROM diario GROUP BY 1
)
SELECT user_id, CAST(dias AS BIGINT) AS dias,
       CAST(list_reduce(xs, (s, x) -> (300 * x + 700 * s) // 1000)
            AS BIGINT) AS ewma_mili
FROM serie
"""


@register("tendencia_ewma", oracle=_EWMA_ORACLE, ops=("W1", "A1"),
          driver=False)
def tendencia_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of daily event counts (α=0.3) — the RECURSIVE
    metric window frames cannot express, computed without a UDF: one
    groupBy(user) collects the day-ordered series and an `aggregate`
    fold runs the recurrence inside whole-stage codegen. DuckDB's
    `list_reduce` seeds the accumulator with the first element, so the
    Spark fold carries a first-element flag to match exactly; all
    arithmetic is integer milli-units (div = // on non-negatives).
    At 100 TB: one shuffle on user_id, per-user state = its day count
    (bounded by the calendar, not the event volume — counts pre-
    aggregate per day map-side)."""
    events = load_table(spark, sf_dir, "events")
    diario = events.groupBy(
        "user_id", event_day_num(events).alias("dia")
    ).agg(F.count(F.lit(1)).alias("x"))
    serie = diario.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dias"),
        F.expr("sort_array(collect_list(struct(dia, x * 1000L AS x)))")
        .alias("xs"),
    )
    fold = (
        "aggregate(xs, "
        "struct(true AS primero, CAST(0 AS BIGINT) AS s), "
        "(acc, t) -> CASE WHEN acc.primero "
        "THEN struct(false AS primero, t.x AS s) "
        "ELSE struct(false AS primero, (300 * t.x + 700 * acc.s) div 1000 AS s) "
        "END).s"
    )
    return serie.select(
        "user_id",
        "dias",
        F.expr(fold).cast("bigint").alias("ewma_mili"),
    )


# --------------------------------------------------------------------------
# Event-sequence transition matrix — first-order Markov estimation
# --------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH ordenado AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS siguiente
    FROM events
),
trans AS (
    SELECT event_type AS origen, siguiente AS destino,
           CAST(count(*) AS BIGINT) AS transiciones
    FROM ordenado WHERE siguiente IS NOT NULL
    GROUP BY 1, 2
)
SELECT origen, destino, transiciones,
       CAST(floor(transiciones * 1000.0 /
                  sum(transiciones) OVER (PARTITION BY origen))
            AS BIGINT) AS prob_mili
FROM trans
"""


_SECUENCIAS_TOP = 15
_SECUENCIAS_MIN_USERS = 3

_SECUENCIAS_ORACLE = f"""
WITH ordenado AS (
    SELECT user_id, event_type,
           lead(event_type, 1) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS e2,
           lead(event_type, 2) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS e3
    FROM events
),
trigramas AS (
    SELECT user_id, event_type AS e1, e2, e3
    FROM ordenado WHERE e2 IS NOT NULL AND e3 IS NOT NULL
),
patrones AS (
    SELECT e1, e2, e3,
           CAST(count(*) AS BIGINT) AS ocurrencias,
           CAST(count(DISTINCT user_id) AS BIGINT) AS usuarios
    FROM trigramas GROUP BY 1, 2, 3
)
SELECT e1, e2, e3, ocurrencias, usuarios, pos FROM (
    SELECT *, CAST(row_number() OVER (
        ORDER BY ocurrencias DESC, e1, e2, e3) AS BIGINT) AS pos
    FROM patrones WHERE usuarios >= {_SECUENCIAS_MIN_USERS}
) WHERE pos <= {_SECUENCIAS_TOP}
"""


@register("secuencias_frecuentes", oracle=_SECUENCIAS_ORACLE,
          ops=("W1", "A2", "O7"), driver=False)
def secuencias_frecuentes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL PATTERN MINING, trigram grain — the contiguous-window
    special case of PrefixSpan-style frequent-sequence mining, and what
    `cadena_markov`'s first-order transitions structurally cannot see:
    a Markov chain scores view→click and click→purchase independently,
    while the trigram table distinguishes view→click→purchase (the
    converting path) from view→click→view (the browse loop) directly.
    Patterns need ≥{_SECUENCIAS_MIN_USERS} distinct users (frequent-
    pattern support, which also makes the readout privacy-safer than
    raw paths); top-{_SECUENCIAS_TOP} by occurrence with deterministic
    tie-break.

    Shape: ONE user-partitioned ordered window produces both lookahead
    columns (no self-joins — the window shuffles each user's events
    once); the pattern roll-up is map-side combinable on the tiny
    (types³) key space; the final top-k is a constant-size sort. At
    100 TB the only full-data stage is the per-user window — the same
    shuffle sessionization already pays."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(event_ts_us(events), "event_id")
    ordenado = events.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    patrones = ordenado.groupBy("e1", "e2", "e3").agg(
        F.count(F.lit(1)).cast("bigint").alias("ocurrencias"),
        F.countDistinct("user_id").cast("bigint").alias("usuarios"),
    )
    w_top = Window.orderBy(F.desc("ocurrencias"), "e1", "e2", "e3")
    return (
        patrones.where(F.col("usuarios") >= _SECUENCIAS_MIN_USERS)
        .withColumn("pos", F.row_number().over(w_top).cast("bigint"))
        .where(F.col("pos") <= _SECUENCIAS_TOP)
        .select("e1", "e2", "e3", "ocurrencias", "usuarios", "pos")
    )


@register("cadena_markov", oracle=_MARKOV_ORACLE, ops=("W1", "A3"),
          driver=False)
def cadena_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER MARKOV transition matrix over each user's event
    sequence: `lead` within the (user, time, event_id)-ordered stream
    pairs every event with its successor (the event_id tiebreak makes
    same-timestamp sequences deterministic — a requirement for any
    reproducible sequence model), one aggregation counts transitions,
    and the per-origin row-normalization runs over the |types|² matrix,
    not the events. At 100 TB: exactly one shuffle on user_id (the
    sequence window) and one on the transition pair — the standard
    shape for next-event-prediction features, funnels over arbitrary
    state sets, and session-flow dashboards."""
    from etl_python_airflow_bigquery_spark.functions import event_ts_us

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(event_ts_us(events), "event_id")
    ordenado = events.select(
        "event_type", F.lead("event_type").over(w).alias("siguiente")
    )
    trans = (
        ordenado.where(F.col("siguiente").isNotNull())
        .groupBy(
            F.col("event_type").alias("origen"),
            F.col("siguiente").alias("destino"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("transiciones"))
    )
    w_o = Window.partitionBy("origen")
    return trans.select(
        "origen",
        "destino",
        "transiciones",
        F.floor(
            F.col("transiciones") * 1000.0 / F.sum("transiciones").over(w_o)
        ).cast("bigint").alias("prob_mili"),
    )


# --------------------------------------------------------------------------
# Trailing-window anomaly detection — integer-exact z-score test
# --------------------------------------------------------------------------

_ANOM_ORACLE = """
WITH diario AS (
    SELECT event_type, epoch_us(ts) // 86400000000 AS dia,
           CAST(count(*) AS BIGINT) AS eventos
    FROM events GROUP BY 1, 2
),
ventana AS (
    SELECT event_type, dia, eventos,
           count(*)       OVER w AS n,
           sum(eventos)   OVER w AS s,
           sum(eventos * eventos) OVER w AS q
    FROM diario
    WINDOW w AS (PARTITION BY event_type ORDER BY dia
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, dia, eventos,
       CAST(eventos * n - s AS BIGINT) AS desvio_n,
       CAST((eventos * n - s) > 0
            AND (eventos * n - s) * (eventos * n - s) > 9 * (n * q - s * s)
            AS BOOLEAN) AS es_anomalia
FROM ventana WHERE n = 7
"""


@register("anomalias_trafico", oracle=_ANOM_ORACLE, ops=("W1", "A1"),
          driver=False)
def anomalias_trafico(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAILING-WINDOW ANOMALY DETECTION on daily per-type traffic: each
    day tests against the 7 preceding observed days' mean and variance.
    The z > 3 spike test is algebraically cleared of divisions and
    square roots — (x·n − s)² > 9·(n·q − s²) over integer count sums —
    so the flag is EXACT and engine-identical (a floated z-score would
    hash-mismatch at boundary days; this is the same integer-clearing
    discipline as the interval clipping and cosine scaling). Shape: the
    day-grain pre-aggregation collapses events map-side, then one
    window over (type, day) rows — days × types, not events — make the
    frame computation free at any event volume."""
    events = load_table(spark, sf_dir, "events")
    diario = events.groupBy(
        "event_type", event_day_num(events).alias("dia")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("eventos"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("dia")
        .rowsBetween(-7, -1)
    )
    ventana = diario.select(
        "event_type",
        "dia",
        "eventos",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("eventos").over(w).alias("s"),
        F.sum(F.col("eventos") * F.col("eventos")).over(w).alias("q"),
    ).where(F.col("n") == 7)
    desvio = F.col("eventos") * F.col("n") - F.col("s")
    return ventana.select(
        "event_type",
        "dia",
        "eventos",
        desvio.cast("bigint").alias("desvio_n"),
        (
            (desvio > 0)
            & (desvio * desvio
               > 9 * (F.col("n") * F.col("q") - F.col("s") * F.col("s")))
        ).alias("es_anomalia"),
    )


# --------------------------------------------------------------------------
# Multi-touch attribution — position-weighted credit over an interval join
# --------------------------------------------------------------------------

US_HORA = 3_600_000_000

_MULTITOQUE_ORACLE = f"""
WITH compras AS (
    SELECT event_id AS compra_id, user_id, epoch_us(ts) AS t_us
    FROM events WHERE event_type = 'purchase'
),
vistas AS (
    SELECT event_id AS vista_id, user_id, epoch_us(ts) AS t_us
    FROM events WHERE event_type = 'view'
),
pares AS (
    SELECT c.compra_id, v.vista_id, v.t_us AS t_vista
    FROM compras c
    JOIN vistas v ON v.user_id = c.user_id
                 AND v.t_us >= c.t_us - {US_HORA}
                 AND v.t_us < c.t_us
),
rankeado AS (
    SELECT compra_id,
           row_number() OVER (PARTITION BY compra_id
                              ORDER BY t_vista DESC, vista_id) AS posicion,
           count(*)    OVER (PARTITION BY compra_id) AS m
    FROM pares
)
SELECT CAST(posicion AS BIGINT) AS posicion,
       CAST(count(*) AS BIGINT) AS pares,
       CAST(sum(2000 * (m - posicion + 1) // (m * (m + 1))) AS BIGINT)
           AS credito_mili_total
FROM rankeado
GROUP BY 1
"""


@register("atribucion_multitoque", oracle=_MULTITOQUE_ORACLE,
          ops=("J3", "W1", "A12"), driver=True)
def atribucion_multitoque(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TOUCH ATTRIBUTION: every purchase distributes its credit
    over the same user's views in the preceding hour, linearly decaying
    by recency position (weight 2·(m−i+1)/(m·(m+1)) — integer
    milli-credit, floor-divided, so the allocation is exact and sums
    audit cleanly). The interval pairing is the scale-shaped form: a
    view fans out to ITS OWN hour bucket and the next (map-side ×2),
    purchases stay single-bucket, and the candidate join is equi on
    (user, bucket) — each true pair matches in exactly one bucket, so
    no dedup pass — then the exact [t−1h, t) refinement filters. The
    output is the attribution CURVE (credit mass per touch position),
    constant-size however many pairs exist."""
    from etl_python_airflow_bigquery_spark.functions import event_ts_us

    events = load_table(spark, sf_dir, "events")
    t_us = event_ts_us(events)
    base = events.select(
        "event_id", "user_id", "event_type", t_us.alias("t_us")
    )
    compras = base.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("compra_id"),
        "user_id",
        "t_us",
        F.expr(f"t_us div {US_HORA}").alias("b"),
    )
    vistas = base.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("vista_id"),
        "user_id",
        F.col("t_us").alias("t_vista"),
        F.explode(
            F.array(
                F.expr(f"t_us div {US_HORA}"),
                F.expr(f"t_us div {US_HORA} + 1"),
            )
        ).alias("b"),
    )
    pares = compras.join(vistas, ["user_id", "b"]).where(
        (F.col("t_vista") >= F.col("t_us") - US_HORA)
        & (F.col("t_vista") < F.col("t_us"))
    )
    w_pos = Window.partitionBy("compra_id").orderBy(
        F.desc("t_vista"), "vista_id"
    )
    w_m = Window.partitionBy("compra_id")
    rankeado = pares.select(
        "compra_id",
        F.row_number().over(w_pos).alias("posicion"),
        F.count(F.lit(1)).over(w_m).alias("m"),
    )
    credito = F.expr("(2000 * (m - posicion + 1)) div (m * (m + 1))")
    return rankeado.groupBy(F.col("posicion").cast("bigint").alias("posicion")).agg(
        F.count(F.lit(1)).cast("bigint").alias("pares"),
        F.sum(credito).cast("bigint").alias("credito_mili_total"),
    )


# --------------------------------------------------------------------------
# Item-item collaborative filtering — cosine over interaction vectors
# --------------------------------------------------------------------------

_ITEM_CF_ORACLE = """
WITH interaccion AS (
    SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
normas AS (
    SELECT event_type, CAST(sum(c * c) AS BIGINT) AS nn
    FROM interaccion GROUP BY 1
),
pares AS (
    SELECT a.event_type AS item_a, b.event_type AS item_b,
           CAST(sum(a.c * b.c) AS BIGINT) AS punto
    FROM interaccion a
    JOIN interaccion b
      ON b.user_id = a.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.item_a, p.item_b, p.punto,
       floor(CAST(p.punto AS DOUBLE)
             / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) * 1e6)
           / 1e6 AS similitud
FROM pares p
JOIN normas na ON na.event_type = p.item_a
JOIN normas nb ON nb.event_type = p.item_b
"""


@register("similitud_items_cf", oracle=_ITEM_CF_ORACLE, ops=("J9", "A1"),
          driver=False)
def similitud_items_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-ITEM COLLABORATIVE FILTERING: each item (event type) is a
    sparse vector of per-user interaction counts; item-pair similarity
    is the exact integer-cosine of those vectors, computed the
    scale-correct way — the self-join keys on user_id, so the shuffle
    carries each user's ITEM LIST (bounded by the catalog) and the pair
    space materializes only through co-occurring users, never as
    items² × users. Integer dot products and ⌊·10⁶⌋ cosines keep both
    engines bit-identical (the similarity.py discipline). This is the
    neighborhood model behind 'users who played X also played Y' — at
    catalog scale the same plan feeds a top-k per item instead of the
    full matrix."""
    events = load_table(spark, sf_dir, "events")
    inter = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    normas = inter.groupBy("event_type").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("nn")
    )
    a = inter.select(
        F.col("event_type").alias("item_a"), "user_id", F.col("c").alias("ca")
    )
    b = inter.select(
        F.col("event_type").alias("item_b"), "user_id", F.col("c").alias("cb")
    )
    pares = (
        a.join(b, "user_id")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("punto"))
    )
    na = normas.select(F.col("event_type").alias("item_a"), F.col("nn").alias("na"))
    nb = normas.select(F.col("event_type").alias("item_b"), F.col("nn").alias("nb"))
    return (
        pares.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .select(
            "item_a",
            "item_b",
            "punto",
            (
                F.floor(
                    F.col("punto").cast("double")
                    / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
                    * 1e6
                )
                / 1e6
            ).alias("similitud"),
        )
    )


# --------------------------------------------------------------------------
# A/B experiment read-out — integer-exact two-proportion z-test
# --------------------------------------------------------------------------

_AB_ORACLE = """
WITH por_usuario AS (
    SELECT user_id,
           CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 2 AS variante,
           max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS cs,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cp
    FROM events GROUP BY 1
),
variantes AS (
    SELECT variante, count(*) AS n, sum(cs) AS c_signup, sum(cp) AS c_purchase
    FROM por_usuario GROUP BY 1
),
lados AS (
    SELECT max(CASE WHEN variante = 0 THEN n END) AS n_a,
           max(CASE WHEN variante = 1 THEN n END) AS n_b,
           max(CASE WHEN variante = 0 THEN c_signup END) AS ca_signup,
           max(CASE WHEN variante = 1 THEN c_signup END) AS cb_signup,
           max(CASE WHEN variante = 0 THEN c_purchase END) AS ca_purchase,
           max(CASE WHEN variante = 1 THEN c_purchase END) AS cb_purchase
    FROM variantes
),
metricas AS (
    SELECT 'signup' AS metrica, n_a, n_b,
           ca_signup AS conv_a, cb_signup AS conv_b FROM lados
    UNION ALL
    SELECT 'purchase', n_a, n_b, ca_purchase, cb_purchase FROM lados
)
SELECT metrica,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
       CAST(CASE WHEN conv_a > 0 AND n_b > 0
                 THEN (1000 * conv_b * n_a) // (conv_a * n_b) - 1000
            END AS BIGINT) AS lift_mili,
       CAST(n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
            AND conv_a + conv_b < n_a + n_b
            AND 625 * CAST(n_a + n_b AS HUGEINT)
                    * CAST(conv_a * n_b - conv_b * n_a AS HUGEINT)
                    * CAST(conv_a * n_b - conv_b * n_a AS HUGEINT)
                > 2401 * CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
                    * CAST(conv_a + conv_b AS HUGEINT)
                    * CAST(n_a + n_b - conv_a - conv_b AS HUGEINT)
            AS BOOLEAN) AS significativo
FROM metricas
"""


@register("prueba_ab", oracle=_AB_ORACLE, ops=("A8", "A3"), driver=False)
def prueba_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B EXPERIMENT READ-OUT: users split deterministically by hash
    bucket (md5 of the unit id — the production assignment that is
    stable across sessions and re-computation), conversion measured per
    metric (signup / purchase), and the two-proportion z-test decided
    with the inequality ALGEBRAICALLY CLEARED of divisions and square
    roots: z² > z²₀.₀₅ = 3.8416 = 2401/625 becomes

        625·N·(c₁n₂ − c₂n₁)² > 2401·n₁·n₂·c·(N − c)

    over pure integer counts (N = n₁+n₂, c = c₁+c₂) — exact and
    engine-identical at boundary values, same discipline as
    anomalias_trafico's z-test. Relative lift ships in floor-divided
    milli-units for the same reason. Degenerate experiments (zero or
    total conversion, an empty arm) are non-significant by definition.

    Shape: ONE user-keyed shuffle (per-user conversion flags with
    map-side partial aggregation), then a 2-row variant aggregate —
    the test statistic never touches event grain. Intermediates ride
    decimal(38,0)/HUGEINT so the cleared products stay exact far past
    int64 (overflow bound ~1e9 users per arm)."""
    events = load_table(spark, sf_dir, "events")
    from etl_python_airflow_bigquery_spark.queries.text import hex_hash

    por_usuario = events.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("cs"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("cp"),
    ).select(
        (hex_hash(F.col("user_id").cast("string")) % 2).alias("variante"),
        "cs",
        "cp",
    )
    variantes = por_usuario.groupBy("variante").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cs").alias("c_signup"),
        F.sum("cp").alias("c_purchase"),
    )
    lados = variantes.agg(
        F.max(F.when(F.col("variante") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variante") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variante") == 0, F.col("c_signup"))).alias("ca_signup"),
        F.max(F.when(F.col("variante") == 1, F.col("c_signup"))).alias("cb_signup"),
        F.max(F.when(F.col("variante") == 0, F.col("c_purchase"))).alias("ca_purchase"),
        F.max(F.when(F.col("variante") == 1, F.col("c_purchase"))).alias("cb_purchase"),
    )
    metricas = lados.selectExpr(
        "stack(2, 'signup', ca_signup, cb_signup,"
        "         'purchase', ca_purchase, cb_purchase)"
        " AS (metrica, conv_a, conv_b)",
        "n_a",
        "n_b",
    )
    d38 = "decimal(38,0)"
    diff = (F.col("conv_a") * F.col("n_b") - F.col("conv_b") * F.col("n_a")).cast(d38)
    c = (F.col("conv_a") + F.col("conv_b")).cast(d38)
    n_tot = (F.col("n_a") + F.col("n_b")).cast(d38)
    lhs = F.lit(625).cast(d38) * n_tot * diff * diff
    rhs = (
        F.lit(2401).cast(d38)
        * F.col("n_a").cast(d38)
        * F.col("n_b").cast(d38)
        * c
        * (n_tot - c)
    )
    return metricas.select(
        "metrica",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("conv_a").cast("bigint").alias("conv_a"),
        F.col("conv_b").cast("bigint").alias("conv_b"),
        F.when(
            (F.col("conv_a") > 0) & (F.col("n_b") > 0),
            F.expr("(1000 * conv_b * n_a) div (conv_a * n_b)") - 1000,
        ).cast("bigint").alias("lift_mili"),
        (
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (F.col("conv_a") + F.col("conv_b") > 0)
            & (F.col("conv_a") + F.col("conv_b") < F.col("n_a") + F.col("n_b"))
            & (lhs > rhs)
        ).alias("significativo"),
    )


# --------------------------------------------------------------------------
# PageRank — iterative graph centrality with integer-exact mass updates
# --------------------------------------------------------------------------

_PR_ITER = 3          # fixed rounds; the oracle unrolls the same count
_PR_MASS = 10**12     # total initial integer mass (floor-loss << 1 ulp/node)


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (the Lloyd-round
    oracle pattern from similarity_ivf_kmeans): r_{t+1}(v) = BASE +
    (85·Σ_{u→v} r_t(u)//deg(u))//100, all floor divisions."""
    rounds = []
    for t in range(_PR_ITER):
        prev = f"r{t}"
        rounds.append(f"""
r{t + 1} AS (
    SELECT a.dst AS nodo,
           (SELECT (15 * init) // 100 FROM params)
           + (85 * sum(r.r // g.deg)) // 100 AS r
    FROM aristas a
    JOIN {prev} r ON r.nodo = a.src
    JOIN grado g ON g.nodo = a.src
    GROUP BY 1
)""")
    return f"""
WITH dirigidas AS (
    SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
aristas AS (
    SELECT src, dst FROM dirigidas
    UNION ALL
    SELECT dst AS src, src AS dst FROM dirigidas
),
nodos AS (SELECT DISTINCT src AS nodo FROM aristas),
grado AS (SELECT src AS nodo, count(*) AS deg FROM aristas GROUP BY 1),
params AS (SELECT {_PR_MASS} // count(*) AS init FROM nodos),
r0 AS (SELECT nodo, (SELECT init FROM params) AS r FROM nodos),
{",".join(rounds)}
SELECT CASE WHEN nodo % 2 = 0 THEN 'cliente' ELSE 'proveedor' END AS tipo,
       CAST(nodo // 2 AS BIGINT) AS id,
       CAST(r AS BIGINT) AS rango
FROM r{_PR_ITER}
"""


@register("grafo_pagerank", oracle=_pagerank_oracle(), ops=("J1", "A1"),
          bench=True, driver=False)
def grafo_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGERANK over the bipartite customer↔supplier purchase graph
    (edges = distinct trading pairs from lineitem⋈orders, walked
    undirected): the canonical ITERATIVE graph algorithm, next to
    dedup_clusters' pointer-jumping CC. Mass updates are INTEGER —
    r' = base + (85·Σ r//deg)//100 over a fixed total mass of 1e12 —
    so every floor division lands identically in both engines and the
    DuckDB oracle (the fixed iteration count unrolled as chained CTEs,
    the similarity_ivf_kmeans Lloyd-round pattern) checks ranks
    bit-for-bit. Floor leakage makes Σr drift below 1e12 by < 1 unit
    per node per round — deterministic, not an error.

    Shape per iteration: ONE shuffle — the rank vector (8 bytes/node)
    equi-joins edges on src and re-aggregates on dst; degree and edge
    frames are built once and lineage-truncated via iter_checkpoint
    (localCheckpoint by default; SPARK_GRAFT_CHECKPOINT_DIR switches to a
    fault-tolerant reliable checkpoint — see operators/checkpoints.py) (the _shingles
    pattern) so Catalyst doesn't replay the lineitem⋈orders join into
    every round's lineage. At cluster scale both sides of that join
    pre-partition on the node key and iterations reuse the exchange;
    the driver holds one scalar (the node count), never the vector."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    dirigidas = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    aristas = dirigidas.unionAll(
        dirigidas.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # degree rides ON the edge list (src, dst, deg), materialized once —
    # each iteration is then exactly ONE join + ONE aggregation; without
    # this, every round re-aggregates the edge list for degrees and pays
    # a second join (visible as an extra Exchange per round in EXPLAIN)
    w_src = Window.partitionBy("src")
    aristas_deg = iter_checkpoint(
        aristas.select("src", "dst", F.count(F.lit(1)).over(w_src).alias("deg"))
    )
    nodos = aristas_deg.select(F.col("src").alias("nodo")).distinct()
    n = nodos.count()
    if n == 0:
        return spark.createDataFrame([], "tipo string, id bigint, rango bigint")
    init = _PR_MASS // n
    base = (15 * init) // 100
    ranks = nodos.select("nodo", F.lit(init).alias("r"))
    for _ in range(_PR_ITER):
        contrib = aristas_deg.join(
            ranks, aristas_deg.src == ranks.nodo
        ).select(F.col("dst"), F.expr("r div deg").alias("con"))
        ranks = contrib.groupBy(F.col("dst").alias("nodo")).agg(
            (F.lit(base) + F.expr("(85 * sum(con)) div 100")).alias("r")
        )
    return ranks.select(
        F.when(F.col("nodo") % 2 == 0, "cliente").otherwise("proveedor").alias("tipo"),
        F.expr("nodo div 2").cast("bigint").alias("id"),
        F.col("r").cast("bigint").alias("rango"),
    )


# --------------------------------------------------------------------------
# Association rules — market-basket support / confidence / lift
# --------------------------------------------------------------------------

_ASOC_MIN_SOPORTE = 10

_ASOC_ORACLE = f"""
WITH canastas AS (
    SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS dia, event_type
    FROM events
),
n_canastas AS (
    SELECT count(*) AS n FROM (SELECT DISTINCT user_id, dia FROM canastas)
),
soporte_item AS (
    SELECT event_type, count(*) AS s FROM canastas GROUP BY 1
),
pares AS (
    SELECT a.event_type AS antecedente, b.event_type AS consecuente,
           count(*) AS s_ab
    FROM canastas a
    JOIN canastas b ON a.user_id = b.user_id AND a.dia = b.dia
                    AND a.event_type != b.event_type
    GROUP BY 1, 2
)
SELECT p.antecedente, p.consecuente,
       CAST(p.s_ab AS BIGINT) AS soporte,
       CAST((1000 * p.s_ab) // sa.s AS BIGINT) AS confianza_mili,
       CAST((1000 * p.s_ab * n.n) // (sa.s * sc.s) AS BIGINT) AS lift_mili
FROM pares p
JOIN soporte_item sa ON sa.event_type = p.antecedente
JOIN soporte_item sc ON sc.event_type = p.consecuente
CROSS JOIN n_canastas n
WHERE p.s_ab >= {_ASOC_MIN_SOPORTE}
"""


@register("asociacion_reglas", oracle=_ASOC_ORACLE, ops=("J9", "A3"),
          driver=False)
def asociacion_reglas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASSOCIATION RULES over (user, day) baskets of event types — the
    market-basket trio every recommender audit starts with: support
    (co-occurring baskets), confidence (P(B|A), floor-milli) and lift
    (observed/independent, floor-milli; >1000 ⇒ genuinely associated).
    Pairs below the support floor are pruned — the Apriori property
    applied at the pair tier. Differs from similitud_items_cf in what
    it measures (directional rule quality vs symmetric vector cosine)
    but shares the scale-correct shape: the self-join keys on the
    BASKET, so the shuffle carries each basket's item list (bounded by
    the catalog) and pairs materialize only through co-occurrence.
    Integer floor divisions keep both engines bit-identical; at real
    catalog sizes the same plan feeds top-k rules per antecedent."""
    events = load_table(spark, sf_dir, "events")
    canastas = events.select(
        "user_id", event_day_num(events).alias("dia"), "event_type"
    ).distinct()
    n_canastas = canastas.select("user_id", "dia").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    soporte_item = canastas.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("s")
    )
    a = canastas.select("user_id", "dia", F.col("event_type").alias("antecedente"))
    b = canastas.select("user_id", "dia", F.col("event_type").alias("consecuente"))
    pares = (
        a.join(b, ["user_id", "dia"])
        .where(F.col("antecedente") != F.col("consecuente"))
        .groupBy("antecedente", "consecuente")
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .where(F.col("s_ab") >= _ASOC_MIN_SOPORTE)
    )
    sa = soporte_item.select(
        F.col("event_type").alias("antecedente"), F.col("s").alias("s_a")
    )
    sc = soporte_item.select(
        F.col("event_type").alias("consecuente"), F.col("s").alias("s_c")
    )
    return (
        pares.join(F.broadcast(sa), "antecedente")
        .join(F.broadcast(sc), "consecuente")
        .crossJoin(F.broadcast(n_canastas))
        .select(
            "antecedente",
            "consecuente",
            F.col("s_ab").cast("bigint").alias("soporte"),
            F.expr("CAST((1000 * s_ab) div s_a AS BIGINT)").alias(
                "confianza_mili"
            ),
            F.expr("CAST((1000 * s_ab * n) div (s_a * s_c) AS BIGINT)").alias(
                "lift_mili"
            ),
        )
    )


# --------------------------------------------------------------------------
# Holt linear-trend forecast — two-state recursive fold (EWMA's big sibling)
# --------------------------------------------------------------------------
# True floor division in BOTH dialects regardless of sign: subtract the
# positive modulus first, then the (now exact) integer division. Spark's
# `div` and DuckDB's `//` disagree on negative operands (truncation vs
# floor), but on an exactly-divisible numerator they agree.


def _fd_sql(e: str, div_op: str) -> str:
    return f"((({e}) - ((({e}) % 1000 + 1000) % 1000)) {div_op} 1000)"


def _holt_duck() -> str:
    fd = lambda e: _fd_sql(e, "//")  # noqa: E731
    lnew = fd("300 * s.ym + 700 * (p.l + p.b)")
    bnew = fd(f"100 * ({lnew} - p.l) + 900 * p.b")
    return f"""
WITH RECURSIVE diario AS (
    SELECT event_type AS tipo, epoch_us(ts) // 86400000000 AS dia,
           CAST(count(*) AS BIGINT) * 1000 AS ym
    FROM events GROUP BY 1, 2
),
serie AS (
    SELECT tipo, dia, ym,
           row_number() OVER (PARTITION BY tipo ORDER BY dia) AS rn,
           count(*) OVER (PARTITION BY tipo) AS n
    FROM diario
),
paso AS (
    SELECT tipo, rn, n, ym AS l, CAST(0 AS BIGINT) AS b
    FROM serie WHERE rn = 1
    UNION ALL
    SELECT s.tipo, s.rn, s.n, {lnew} AS l, {bnew} AS b
    FROM paso p JOIN serie s ON s.tipo = p.tipo AND s.rn = p.rn + 1
)
SELECT tipo, CAST(n AS BIGINT) AS dias,
       CAST(l AS BIGINT) AS nivel_mili,
       CAST(b AS BIGINT) AS tendencia_mili,
       CAST(l + b AS BIGINT) AS pronostico_1,
       CAST(l + 2 * b AS BIGINT) AS pronostico_2,
       CAST(l + 3 * b AS BIGINT) AS pronostico_3
FROM paso WHERE rn = n
"""


@register("pronostico_holt", oracle=_holt_duck(), ops=("W1", "A1"),
          driver=False)
def pronostico_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT LINEAR-TREND FORECAST per event type — the TWO-state
    recursive metric (level + trend) that window frames cannot express
    and that extends tendencia_ewma's single-state fold: lₜ = ⌊(0.3·yₜ
    + 0.7·(l+b))⌋, bₜ = ⌊(0.1·Δl + 0.9·b)⌋ in integer milli-units, then
    a 3-day-ahead linear projection. The trend can go NEGATIVE, so both
    engines use the explicit floor-division identity (subtract the
    positive modulus, then divide — Spark `div` truncates while DuckDB
    `//` floors, but they agree on exactly-divisible numerators); the
    oracle runs the same recurrence as a recursive CTE because DuckDB
    1.0's `list_reduce` mutates struct accumulator fields IN ORDER
    (later fields read already-updated state — found while building
    this and worth recording).

    Shape: day-grain pre-aggregation map-side, one shuffle to collect
    each type's day-ordered series, the fold runs inside whole-stage
    codegen; per-key state is bounded by the calendar."""
    fd = lambda e: _fd_sql(e, "div")  # noqa: E731
    lnew = fd("300 * x.y + 700 * (acc.l + acc.b)")
    bnew = fd(f"100 * ({lnew} - acc.l) + 900 * acc.b")
    events = load_table(spark, sf_dir, "events")
    diario = events.groupBy(
        F.col("event_type").alias("tipo"), event_day_num(events).alias("dia")
    ).agg((F.count(F.lit(1)) * 1000).cast("bigint").alias("ym"))
    serie = diario.groupBy("tipo").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(dia, ym))),"
            " p -> struct(CAST(p.ym AS BIGINT) AS y))"
        ).alias("xs")
    )
    fold = f"""
aggregate(
  slice(xs, 2, size(xs) - 1),
  struct(CAST(element_at(xs, 1).y AS BIGINT) AS l, CAST(0 AS BIGINT) AS b),
  (acc, x) -> struct(CAST({lnew} AS BIGINT) AS l, CAST({bnew} AS BIGINT) AS b))
"""
    return serie.select(
        "tipo",
        F.size("xs").cast("bigint").alias("dias"),
        F.expr(fold).alias("st"),
    ).select(
        "tipo",
        "dias",
        F.col("st.l").cast("bigint").alias("nivel_mili"),
        F.col("st.b").cast("bigint").alias("tendencia_mili"),
        (F.col("st.l") + F.col("st.b")).cast("bigint").alias("pronostico_1"),
        (F.col("st.l") + 2 * F.col("st.b")).cast("bigint").alias("pronostico_2"),
        (F.col("st.l") + 3 * F.col("st.b")).cast("bigint").alias("pronostico_3"),
    )


# --------------------------------------------------------------------------
# BFS shortest paths — early-exit frontier iteration over the trade graph
# --------------------------------------------------------------------------

_BFS_MAX_D = 6

_BFS_ORACLE = f"""
WITH RECURSIVE dirigidas AS (
    SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
aristas AS (
    SELECT src, dst FROM dirigidas
    UNION ALL
    SELECT dst AS src, src AS dst FROM dirigidas
),
semillas AS (
    -- seed nation = the smallest present, so the query is non-degenerate
    -- at every scale factor
    SELECT DISTINCT s.s_suppkey * 2 + 1 AS nodo
    FROM supplier s
    JOIN aristas a ON a.src = s.s_suppkey * 2 + 1
    WHERE s.s_nationkey = (SELECT min(s_nationkey) FROM supplier)
),
alcance(nodo, d) AS (
    SELECT nodo, 0 FROM semillas
    UNION
    SELECT a.dst, r.d + 1
    FROM alcance r JOIN aristas a ON a.src = r.nodo
    WHERE r.d < {_BFS_MAX_D}
)
SELECT CASE WHEN nodo % 2 = 0 THEN 'cliente' ELSE 'proveedor' END AS tipo,
       CAST(nodo // 2 AS BIGINT) AS id,
       CAST(min(d) AS BIGINT) AS distancia
FROM alcance
GROUP BY 1, 2
"""


@register("grafo_bfs", oracle=_BFS_ORACLE, ops=("J1", "A1"), bench=True,
          driver=False)
def grafo_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS SHORTEST PATHS over the customer↔supplier trade graph from a
    seed set (the smallest present nation's suppliers — non-degenerate at
    every scale factor; the one driver-side scalar): the EARLY-EXIT iterative class, the
    complement of grafo_pagerank's fixed-round iteration — rounds are
    data-dependent (the diameter), each round expands only the current
    FRONTIER (newly discovered nodes), and the loop stops the first
    round the frontier comes back empty. Per round: one equi join
    frontier⋈edges + one anti join against the settled set — the
    frontier shrinks to nothing in ~diameter rounds (small-world trade
    graphs: 3-4), so total work is O(edges·diameter) with each node
    settled exactly once. The depth cap mirrors the oracle's recursion
    bound (a loud guard, not a silent truncation — the test would
    hash-mismatch if a real graph exceeded it).

    Oracle: the textbook recursive-CTE shortest path with UNION dedup
    and the same depth bound."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    dirigidas = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    aristas = iter_checkpoint(
        dirigidas.unionAll(
            dirigidas.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    nacion_semilla = supplier.agg(F.min("s_nationkey")).collect()[0][0]
    # graph membership via left_semi: suppliers are unique per key, so
    # the semi join IS the old inner-join-against-distinct-src —
    # without the O(edges) distinct pass over the edge list (guide §2.4)
    semillas = (
        supplier.where(F.col("s_nationkey") == F.lit(nacion_semilla))
        .select((F.col("s_suppkey") * 2 + 1).alias("nodo"))
        .join(aristas.select(F.col("src").alias("nodo")), "nodo", "left_semi")
    )
    # settled = the list of per-round frontier checkpoints, union'ed
    # lazily where consumed: the old per-round
    # iter_checkpoint(settled ∪ frontier) re-materialized the WHOLE
    # settled set every round — O(nodes · diameter) copied rows and one
    # extra eager job per round; each frontier is already checkpointed,
    # so the union of d tiny frames costs only plan nodes (guide §2.4)
    frontier = iter_checkpoint(semillas.select("nodo", F.lit(0).alias("d")))
    capas = [frontier]
    for d in range(1, _BFS_MAX_D + 1):
        settled_ids = reduce(
            lambda a, b: a.unionByName(b), (c.select("nodo") for c in capas)
        )
        siguiente = (
            frontier.join(aristas, frontier.nodo == aristas.src)
            .select(F.col("dst").alias("nodo"))
            .distinct()
            .join(settled_ids, "nodo", "left_anti")
            .select("nodo", F.lit(d).alias("d"))
        )
        siguiente = iter_checkpoint(siguiente)
        if siguiente.isEmpty():
            break
        capas.append(siguiente)
        frontier = siguiente
    settled = reduce(lambda a, b: a.unionByName(b), capas)
    return settled.select(
        F.when(F.col("nodo") % 2 == 0, "cliente").otherwise("proveedor").alias("tipo"),
        F.expr("nodo div 2").cast("bigint").alias("id"),
        F.col("d").cast("bigint").alias("distancia"),
    )


# --------------------------------------------------------------------------
# CUSUM changepoint — sustained-shift detection (anomalias' complement)
# --------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH RECURSIVE diario AS (
    SELECT event_type AS tipo, epoch_us(ts) // 86400000000 AS dia,
           CAST(count(*) AS BIGINT) * 1000 AS xm
    FROM events GROUP BY 1, 2
),
base AS (
    SELECT tipo, CAST(sum(xm) // count(*) AS BIGINT) AS mu,
           count(*) AS dias
    FROM diario GROUP BY 1
),
serie AS (
    SELECT d.tipo, d.xm, b.mu, b.dias,
           row_number() OVER (PARTITION BY d.tipo ORDER BY d.dia) AS rn
    FROM diario d JOIN base b USING (tipo)
),
paso AS (
    SELECT tipo, rn, dias, mu,
           greatest(CAST(0 AS BIGINT), xm - mu - mu // 10) AS sp,
           greatest(CAST(0 AS BIGINT), mu - xm - mu // 10) AS sn,
           greatest(CAST(0 AS BIGINT), xm - mu - mu // 10) AS mp,
           greatest(CAST(0 AS BIGINT), mu - xm - mu // 10) AS mn
    FROM serie WHERE rn = 1
    UNION ALL
    SELECT s.tipo, s.rn, s.dias, s.mu,
           greatest(CAST(0 AS BIGINT), p.sp + s.xm - s.mu - s.mu // 10),
           greatest(CAST(0 AS BIGINT), p.sn + s.mu - s.xm - s.mu // 10),
           greatest(p.mp, greatest(CAST(0 AS BIGINT),
                                   p.sp + s.xm - s.mu - s.mu // 10)),
           greatest(p.mn, greatest(CAST(0 AS BIGINT),
                                   p.sn + s.mu - s.xm - s.mu // 10))
    FROM paso p JOIN serie s ON s.tipo = p.tipo AND s.rn = p.rn + 1
)
SELECT tipo, CAST(dias AS BIGINT) AS dias, CAST(mu AS BIGINT) AS media_mili,
       CAST(mp AS BIGINT) AS cusum_alza_max,
       CAST(mn AS BIGINT) AS cusum_baja_max,
       CAST(mp > 5 * mu OR mn > 5 * mu AS BOOLEAN) AS cambio_detectado
FROM paso WHERE rn = dias
"""


@register("cambio_estructural", oracle=_CUSUM_ORACLE, ops=("W1", "A1"),
          driver=False)
def cambio_estructural(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGEPOINT DETECTION per event type — the SUSTAINED-shift
    complement of anomalias_trafico's single-day spike test: two-sided
    cumulative sums sₜ = max(0, sₜ₋₁ + (xₜ − μ − k)) with slack
    k = μ/10, flagged when either side's running MAXIMUM exceeds 5μ (a
    level shift accumulates drift day after day; a one-day spike decays
    immediately under the clamp). Arithmetic is pure integer add /
    greatest — μ and the slack are the only divisions, both outside the
    recursion — so both engines agree bit-for-bit with NO float or
    floor-division subtleties at all. Spark runs the 4-state
    (sum⁺, sum⁻, max⁺, max⁻) fold inside codegen; the oracle is the
    same recurrence as a recursive CTE (the pronostico_holt pattern —
    DuckDB 1.0's list_reduce struct mutation rules out the lambda
    form).

    Shape: day-grain pre-aggregation map-side, one per-type mean pass,
    one fold over calendar-bounded series — events never reach the
    recursion."""
    events = load_table(spark, sf_dir, "events")
    diario = events.groupBy(
        F.col("event_type").alias("tipo"), event_day_num(events).alias("dia")
    ).agg((F.count(F.lit(1)) * 1000).cast("bigint").alias("xm"))
    base = diario.groupBy("tipo").agg(
        F.expr("CAST(sum(xm) div count(*) AS BIGINT)").alias("mu"),
        F.count(F.lit(1)).cast("bigint").alias("dias"),
    )
    serie = diario.join(base, "tipo").groupBy("tipo").agg(
        F.max("mu").alias("mu"),
        F.max("dias").alias("dias"),
        F.expr(
            "transform(sort_array(collect_list(struct(dia, xm))),"
            " p -> CAST(p.xm AS BIGINT))"
        ).alias("xs"),
    )
    fold = """
aggregate(
  xs,
  struct(CAST(0 AS BIGINT) AS sp, CAST(0 AS BIGINT) AS sn,
         CAST(0 AS BIGINT) AS mp, CAST(0 AS BIGINT) AS mn),
  (acc, x) -> struct(
    greatest(CAST(0 AS BIGINT), acc.sp + x - mu - mu div 10) AS sp,
    greatest(CAST(0 AS BIGINT), acc.sn + mu - x - mu div 10) AS sn,
    greatest(acc.mp, greatest(CAST(0 AS BIGINT),
                              acc.sp + x - mu - mu div 10)) AS mp,
    greatest(acc.mn, greatest(CAST(0 AS BIGINT),
                              acc.sn + mu - x - mu div 10)) AS mn))
"""
    return serie.select(
        "tipo",
        F.col("dias").cast("bigint").alias("dias"),
        F.col("mu").cast("bigint").alias("media_mili"),
        F.expr(fold).alias("st"),
    ).select(
        "tipo",
        "dias",
        "media_mili",
        F.col("st.mp").cast("bigint").alias("cusum_alza_max"),
        F.col("st.mn").cast("bigint").alias("cusum_baja_max"),
        (
            (F.col("st.mp") > 5 * F.col("media_mili"))
            | (F.col("st.mn") > 5 * F.col("media_mili"))
        ).alias("cambio_detectado"),
    )


# --------------------------------------------------------------------------
# Robust outliers — median/MAD (the distribution-free anomaly tier)
# --------------------------------------------------------------------------

_MAD_ORACLE = """
WITH diario AS (
    SELECT event_type AS tipo, epoch_us(ts) // 86400000000 AS dia,
           CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
med AS (
    SELECT tipo, CAST(2 * quantile_cont(x, 0.5) AS BIGINT) AS med2
    FROM diario GROUP BY 1
),
desv AS (
    SELECT d.tipo, d.x, m.med2, abs(2 * d.x - m.med2) AS dev2
    FROM diario d JOIN med m USING (tipo)
),
escala AS (
    SELECT tipo, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad2
    FROM desv GROUP BY 1
)
SELECT d.tipo,
       CAST(count(*) AS BIGINT) AS dias,
       CAST(max(d.med2) AS BIGINT) AS mediana2,
       CAST(max(e.mad2) AS BIGINT) AS mad2,
       CAST(sum(CASE WHEN 2 * d.dev2 > 3 * e.mad2 THEN 1 ELSE 0 END)
            AS BIGINT) AS dias_atipicos
FROM desv d JOIN escala e USING (tipo)
GROUP BY 1
"""


@register("anomalias_mad", oracle=_MAD_ORACLE, ops=("A3", "A1"),
          driver=False)
def anomalias_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier detection on daily traffic: median ± 3·MAD — the
    distribution-free tier next to the parametric z-test
    (anomalias_trafico) and the sequential CUSUM (cambio_estructural);
    MAD survives the very outliers a mean/variance test absorbs. Made
    INTEGER-EXACT by the doubled-median trick: 2·median of integers is
    always an integer (middle element ×2, or the middle pair's sum), so
    med2 = 2·median, dev2 = |2x − med2|, mad2 = 2·median(dev2), and
    the flag |x − med| > 3·MAD clears to 2·dev2 > 3·mad2 — both
    engines' type-7 quantile agrees exactly on the doubled values. A
    constant series has MAD 0 and flags any deviation — the standard
    MAD caveat, deterministic on both sides.

    Shape: day-grain pre-aggregation, exact per-type medians over
    calendar-bounded groups (approx_percentile is the documented swap
    if a group ever outgrows memory), two broadcast-sized joins back."""
    events = load_table(spark, sf_dir, "events")
    diario = events.groupBy(
        F.col("event_type").alias("tipo"), event_day_num(events).alias("dia")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    med = diario.groupBy("tipo").agg(
        F.expr("CAST(2 * percentile(x, 0.5D) AS BIGINT)").alias("med2")
    )
    desv = diario.join(F.broadcast(med), "tipo").select(
        "tipo", "x", "med2", F.abs(2 * F.col("x") - F.col("med2")).alias("dev2")
    )
    escala = desv.groupBy("tipo").agg(
        F.expr("CAST(2 * percentile(dev2, 0.5D) AS BIGINT)").alias("mad2")
    )
    return (
        desv.join(F.broadcast(escala), "tipo")
        .groupBy("tipo")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dias"),
            F.max("med2").cast("bigint").alias("mediana2"),
            F.max("mad2").cast("bigint").alias("mad2"),
            F.sum(
                F.when(2 * F.col("dev2") > 3 * F.col("mad2"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("dias_atipicos"),
        )
    )


# --------------------------------------------------------------------------
# Correlation matrix — integer-cleared Pearson test between type series
# --------------------------------------------------------------------------

_CORR_ORACLE = """
WITH diario AS (
    SELECT event_type AS tipo, epoch_us(ts) // 86400000000 AS dia,
           CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
pares AS (
    SELECT a.tipo AS tipo_a, b.tipo AS tipo_b, a.x AS xa, b.x AS xb
    FROM diario a JOIN diario b ON a.dia = b.dia AND a.tipo < b.tipo
),
resumen AS (
    SELECT tipo_a, tipo_b, count(*) AS n,
           sum(xa) AS sa, sum(xb) AS sb,
           sum(CAST(xa AS HUGEINT) * xb) AS sab,
           sum(CAST(xa AS HUGEINT) * xa) AS saa,
           sum(CAST(xb AS HUGEINT) * xb) AS sbb
    FROM pares GROUP BY 1, 2
)
SELECT tipo_a, tipo_b, CAST(n AS BIGINT) AS dias,
       CAST(n * sab - CAST(sa AS HUGEINT) * sb AS BIGINT) AS covarianza_n,
       CAST(CASE WHEN n * sab - CAST(sa AS HUGEINT) * sb > 0 THEN 1
                 WHEN n * sab - CAST(sa AS HUGEINT) * sb < 0 THEN -1
                 ELSE 0 END AS INT) AS signo,
       CAST(4 * (n * sab - CAST(sa AS HUGEINT) * sb)
              * (n * sab - CAST(sa AS HUGEINT) * sb)
            > (n * saa - CAST(sa AS HUGEINT) * sa)
              * (n * sbb - CAST(sb AS HUGEINT) * sb) AS BOOLEAN)
           AS correlacion_fuerte
FROM resumen
"""


@register("correlacion_tipos", oracle=_CORR_ORACLE, ops=("J12", "A3"))
def correlacion_tipos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRWISE PEARSON CORRELATION TEST between event types' daily
    series, with the decision ALGEBRAICALLY CLEARED of square roots:
    |r| > 0.5 ⟺ 4·(n·Σxy − ΣxΣy)² > (n·Σx² − (Σx)²)·(n·Σy² − (Σy)²) —
    pure integer comparisons over day-grain sums (the prueba_ab /
    anomalias discipline), so which metrics MOVE TOGETHER is decided
    exactly and engine-identically; the scaled covariance and its sign
    ship alongside for direction. Quadratic sums ride HUGEINT/decimal38.

    Shape: day-grain pre-aggregation map-side, a day-keyed self-join
    whose shuffle carries per-day TYPE vectors (bounded by the metric
    catalog — the similitud_items_cf key choice), then a types²-sized
    aggregate."""
    events = load_table(spark, sf_dir, "events")
    diario = events.groupBy(
        F.col("event_type").alias("tipo"), event_day_num(events).alias("dia")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    a = diario.select(F.col("tipo").alias("tipo_a"), "dia", F.col("x").alias("xa"))
    b = diario.select(F.col("tipo").alias("tipo_b"), "dia", F.col("x").alias("xb"))
    d38 = "decimal(38,0)"
    resumen = (
        a.join(b, "dia")
        .where(F.col("tipo_a") < F.col("tipo_b"))
        .groupBy("tipo_a", "tipo_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xa").alias("sa"),
            F.sum("xb").alias("sb"),
            F.sum(F.col("xa").cast(d38) * F.col("xb")).alias("sab"),
            F.sum(F.col("xa").cast(d38) * F.col("xa")).alias("saa"),
            F.sum(F.col("xb").cast(d38) * F.col("xb")).alias("sbb"),
        )
    )
    cov = F.col("n").cast(d38) * F.col("sab") - F.col("sa").cast(d38) * F.col("sb")
    var_a = F.col("n").cast(d38) * F.col("saa") - F.col("sa").cast(d38) * F.col("sa")
    var_b = F.col("n").cast(d38) * F.col("sbb") - F.col("sb").cast(d38) * F.col("sb")
    return resumen.select(
        "tipo_a",
        "tipo_b",
        F.col("n").cast("bigint").alias("dias"),
        cov.cast("bigint").alias("covarianza_n"),
        F.when(cov > 0, 1).when(cov < 0, -1).otherwise(0).cast("int").alias("signo"),
        (F.lit(4).cast(d38) * cov * cov > var_a * var_b).alias(
            "correlacion_fuerte"
        ),
    )


# --------------------------------------------------------------------------
# Year-over-year growth — LAG against the same period one cycle back
# --------------------------------------------------------------------------

_INTERANUAL_ORACLE = """
WITH ord AS (
    SELECT epoch_us(o_orderdate) // 86400000000 // 30 AS periodo,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS centavos
    FROM orders
),
por_periodo AS (
    SELECT periodo, CAST(sum(centavos) AS BIGINT) AS ingreso,
           CAST(count(*) AS BIGINT) AS ordenes
    FROM ord GROUP BY 1
),
con_lag AS (
    SELECT periodo, ingreso, ordenes,
           lag(ingreso, 12) OVER (ORDER BY periodo) AS ingreso_previo,
           lag(periodo, 12) OVER (ORDER BY periodo) AS periodo_previo
    FROM por_periodo
)
SELECT CAST(periodo AS BIGINT) AS periodo, ingreso, ordenes,
       CAST(ingreso_previo AS BIGINT) AS ingreso_previo,
       CASE WHEN periodo_previo = periodo - 12 AND ingreso_previo > 0
            THEN CAST(((ingreso - ingreso_previo) * 1000) // ingreso_previo
                      AS BIGINT) END AS crecimiento_mili
FROM con_lag
"""


@register("crecimiento_interanual", oracle=_INTERANUAL_ORACLE,
          ops=("W1", "A1", "P3"), driver=False)
def crecimiento_interanual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YEAR-OVER-YEAR GROWTH per 30-day period: revenue LAGged twelve
    periods back (the integer-period calendar every time-derived column
    here uses — day_num // 30, session-tz-proof by construction).
    Growth only reports when the lagged row is EXACTLY 12 periods
    earlier (a gap in the period sequence would otherwise silently
    compare against the wrong year — lag() counts rows, not periods;
    the periodo_previo equality check converts row-lag into time-lag)
    and the base is positive; floor-milli integer rate. Shape: one
    centavos aggregation to period grain (periods-sized — tiny at any
    corpus size), one ordered window over that tiny frame; the single
    global sort is over periods, never rows."""
    from etl_python_airflow_bigquery_spark.functions import micros

    orders = load_table(spark, sf_dir, "orders")
    c = "o_orderdate"
    dia = (
        (micros(c) - micros(c) % 86_400_000_000) / 86_400_000_000
    ).cast("bigint")
    por_periodo = (
        orders.select(
            (dia / 30).cast("bigint").alias("periodo"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("centavos"),
        )
        .groupBy("periodo")
        .agg(
            F.sum("centavos").cast("bigint").alias("ingreso"),
            F.count(F.lit(1)).cast("bigint").alias("ordenes"),
        )
    )
    w = Window.orderBy("periodo")
    con_lag = por_periodo.select(
        "periodo",
        "ingreso",
        "ordenes",
        F.lag("ingreso", 12).over(w).alias("ingreso_previo"),
        F.lag("periodo", 12).over(w).alias("periodo_previo"),
    )
    return con_lag.select(
        F.col("periodo").cast("bigint").alias("periodo"),
        "ingreso",
        "ordenes",
        F.col("ingreso_previo").cast("bigint").alias("ingreso_previo"),
        F.when(
            (F.col("periodo_previo") == F.col("periodo") - 12)
            & (F.col("ingreso_previo") > 0),
            F.expr("((ingreso - ingreso_previo) * 1000) div ingreso_previo"),
        )
        .cast("bigint")
        .alias("crecimiento_mili"),
    )


# --------------------------------------------------------------------------
# Degree distribution — the graph-shape audit (log2-binned)
# --------------------------------------------------------------------------


# moved to functions.py (shared with ley_zipf without an import cycle);
# re-exported here for the existing consumers
from etl_python_airflow_bigquery_spark.functions import _log2_ladder  # noqa: E402


_GRADOS_ORACLE = f"""
WITH dirigidas AS (
    SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
aristas AS (
    SELECT src, dst FROM dirigidas
    UNION ALL
    SELECT dst AS src, src AS dst FROM dirigidas
),
grados AS (
    SELECT src AS nodo, count(*) AS grado FROM aristas GROUP BY 1
)
SELECT CASE WHEN nodo % 2 = 0 THEN 'cliente' ELSE 'proveedor' END AS tipo,
       CAST({_log2_ladder("grado")} AS INT) AS banda_log2,
       CAST(count(*) AS BIGINT) AS nodos,
       CAST(min(grado) AS BIGINT) AS grado_min,
       CAST(max(grado) AS BIGINT) AS grado_max
FROM grados
GROUP BY 1, 2
"""


@register("grafo_grados", oracle=_GRADOS_ORACLE, ops=("A1", "A3"),
          driver=False)
def grafo_grados(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE DISTRIBUTION of the trade graph, log2-binned per node side
    — the graph-shape audit that precedes any graph algorithm rollout
    (PageRank/BFS cost models assume bounded skew; a fat tail here is
    the early warning to salt hot nodes). Binning uses the pure-
    comparison floor-log2 ladder (the busqueda_bm25 discipline), so
    bins are exact at power-of-two boundaries where float log2 drifts
    by an ulp. One edge aggregation + a bands-sized roll-up."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    dirigidas = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    aristas = dirigidas.unionAll(
        dirigidas.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    grados = aristas.groupBy(F.col("src").alias("nodo")).agg(
        F.count(F.lit(1)).alias("grado")
    )
    return grados.groupBy(
        F.when(F.col("nodo") % 2 == 0, "cliente").otherwise("proveedor").alias("tipo"),
        F.expr(_log2_ladder("grado")).cast("int").alias("banda_log2"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("nodos"),
        F.min("grado").cast("bigint").alias("grado_min"),
        F.max("grado").cast("bigint").alias("grado_max"),
    )


# --------------------------------------------------------------------------
# Triangle counting — degree-ordered orientation over the co-supply graph
# --------------------------------------------------------------------------

_TRIANGULOS_ORACLE = """
WITH inst AS (
    SELECT a.l_orderkey AS ok, a.l_suppkey AS u, b.l_suppkey AS v
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_suppkey < b.l_suppkey
),
soporte AS (
    SELECT u, v, CAST(count(DISTINCT ok) AS BIGINT) AS s
    FROM inst GROUP BY 1, 2
),
lados AS (
    SELECT u AS nodo, v AS vecino, s FROM soporte
    UNION ALL SELECT v, u, s FROM soporte
),
top5 AS (
    SELECT nodo, vecino
    FROM (SELECT nodo, vecino, row_number() OVER (
              PARTITION BY nodo ORDER BY s DESC, vecino) AS rn
          FROM lados)
    WHERE rn <= 5
),
pares AS (
    SELECT DISTINCT least(nodo, vecino) AS u, greatest(nodo, vecino) AS v
    FROM top5
),
grados AS (
    SELECT nodo, CAST(count(*) AS BIGINT) AS deg
    FROM (SELECT u AS nodo FROM pares UNION ALL SELECT v FROM pares)
    GROUP BY 1
),
orientadas AS (
    SELECT CASE WHEN (gu.deg, p.u) < (gv.deg, p.v) THEN p.u ELSE p.v END AS src,
           CASE WHEN (gu.deg, p.u) < (gv.deg, p.v) THEN p.v ELSE p.u END AS dst,
           CASE WHEN (gu.deg, p.u) < (gv.deg, p.v) THEN gv.deg ELSE gu.deg END
               AS deg_dst
    FROM pares p
    JOIN grados gu ON gu.nodo = p.u
    JOIN grados gv ON gv.nodo = p.v
),
cunas AS (
    SELECT o1.dst AS v, o2.dst AS w
    FROM orientadas o1 JOIN orientadas o2 ON o1.src = o2.src
    WHERE (o1.deg_dst, o1.dst) < (o2.deg_dst, o2.dst)
),
tri AS (
    SELECT count(*) AS triangulos
    FROM cunas c JOIN orientadas o ON c.v = o.src AND c.w = o.dst
),
tot AS (
    SELECT CAST((SELECT count(*) FROM pares) AS BIGINT) AS aristas,
           CAST((SELECT sum(deg * (deg - 1) // 2) FROM grados) AS BIGINT)
               AS cunas_totales
)
SELECT t.aristas,
       CAST(tr.triangulos AS BIGINT) AS triangulos,
       t.cunas_totales,
       CAST((3000 * tr.triangulos) // t.cunas_totales AS BIGINT)
           AS coef_agrupamiento_milli
FROM tot t CROSS JOIN tri tr
"""


@register("grafo_triangulos", oracle=_TRIANGULOS_ORACLE, ops=("J9", "A6", "A1"),
          driver=False, bench=True)
def grafo_triangulos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNT + global clustering coefficient over the
    BACKBONE of the co-supply graph. Two scale decisions stack:

    1. **Backbone extraction**: the raw co-supply relation (suppliers
       sharing an order) is a near-CLIQUE under uniform synthetic keys
       — a dense graph has Θ(n³) triangles and no algorithm makes
       counting them cheap. Production graph mining sparsifies first;
       here each node keeps its top-5 strongest ties by co-order
       support (deterministic tiebreak), the union of top-lists is
       symmetrized, and the backbone is ≤ 5n directed picks — sparse
       at every scale while keeping the strongest structure.
    2. **Degree-ordered orientation** (the MapReduce triangle-counting
       literature's answer to wedge explosion): every backbone edge
       orients from its lower-(deg, id) endpoint to the higher, so
       wedge generation — the self-join on the oriented source — is
       bounded by Σ outdeg² = O(m^1.5) even if a hub concentrates
       in-ties. Each triangle forms exactly one wedge at its
       lowest-rank vertex and closes against one oriented edge: exact
       count, no post-hoc division.

    Output: backbone edges, triangles, total wedges (Σ deg·(deg−1)/2),
    and the milli-floored global clustering coefficient
    3·triangles/wedges."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    # pre-distinct (order, supplier) once: the pair join then produces
    # each (order, u, v) exactly once, so support is a plain count —
    # the countDistinct Expand over the joined pair stream (3-6 rows
    # per order) collapses into one distinct over ~1 row per lineitem
    presencia = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("u")
    ).distinct()
    soporte = (
        presencia.join(presencia.withColumnRenamed("u", "v"), "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("s"))
    )
    lados = soporte.select(
        F.col("u").alias("nodo"), F.col("v").alias("vecino"), "s"
    ).unionAll(
        soporte.select(F.col("v").alias("nodo"), F.col("u").alias("vecino"), "s")
    )
    w_top = Window.partitionBy("nodo").orderBy(F.col("s").desc(), "vecino")
    top5 = lados.withColumn("rn", F.row_number().over(w_top)).where(
        F.col("rn") <= 5
    )
    # the backbone is ≤5n rows and feeds FIVE consumers (degrees, the
    # orientation join, the wedge self-join's two sides, the edge
    # count); without a materialization Spark re-executes the whole
    # co-supply aggregation per consumer (measured: zero ReusedExchange
    # in the static plan). localCheckpoint pins the tiny frame in
    # executor blocks — the _shingles discipline, executor-local, freed
    # on GC; at cluster scale the same role is persist(MEMORY_AND_DISK)
    pares = (
        top5.select(
            F.least("nodo", "vecino").alias("u"),
            F.greatest("nodo", "vecino").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    grados = (
        pares.select(F.col("u").alias("nodo"))
        .unionAll(pares.select(F.col("v").alias("nodo")))
        .groupBy("nodo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    gu = grados.select(F.col("nodo").alias("u"), F.col("deg").alias("deg_u"))
    gv = grados.select(F.col("nodo").alias("v"), F.col("deg").alias("deg_v"))
    con_grados = pares.join(gu, "u").join(gv, "v")
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    orientadas = con_grados.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_dst"),
    )
    o1 = orientadas.select(
        "src", F.col("dst").alias("v"), F.col("deg_dst").alias("dv")
    )
    o2 = orientadas.select(
        "src", F.col("dst").alias("w"), F.col("deg_dst").alias("dw")
    )
    cunas = o1.join(o2, "src").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    ).select("v", "w")
    tri = cunas.join(
        orientadas.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    ).agg(F.count(F.lit(1)).cast("bigint").alias("triangulos"))
    tot = pares.agg(F.count(F.lit(1)).cast("bigint").alias("aristas")).crossJoin(
        grados.agg(
            F.sum(F.expr("deg * (deg - 1) div 2"))
            .cast("bigint")
            .alias("cunas_totales")
        )
    )
    return tot.crossJoin(F.broadcast(tri)).select(
        "aristas",
        "triangulos",
        "cunas_totales",
        F.expr("(3000 * triangulos) div cunas_totales")
        .cast("bigint")
        .alias("coef_agrupamiento_milli"),
    )


# --------------------------------------------------------------------------
# k-core peeling — the iterative density filter on the trade graph
# --------------------------------------------------------------------------
# The peeling class is NEW among the graph ops (PageRank = fixpoint
# iteration, BFS = frontier expansion, CC = label propagation,
# triangles = orientation counting; peeling = iterative node DELETION):
# each round drops every node whose current degree is below k, which
# can cascade — removing a weak node demotes its neighbors. Community
# detection / anti-abuse pipelines use the k-core as the "dense enough
# to matter" backbone. k derives from the DATA (half the average degree
# + 1, integer-exact on both engines — the ANN corpus-policy
# discipline), so the peel actually fires at every scale factor;
# rounds are FIXED and unrolled in the oracle (the k-means discipline).

_KCORE_ROUNDS = 4

# k policy: (directed-edge rows // nodes) // 2 + 1 == half the average
# degree + 1. Average-degree+1 over-peels a hub-and-spoke bipartite
# graph to empty in one round (every customer sits below the
# supplier-inflated average); half of it keeps the denser half engaged.
_KCORE_K_SQL = "count(*) // count(DISTINCT src) // 2 + 1"


def _kcore_oracle(rounds: int) -> str:
    parts = [
        """dirigidas AS (
    SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)""",
        """a0 AS (
    SELECT src, dst FROM dirigidas
    UNION ALL
    SELECT dst AS src, src AS dst FROM dirigidas
)""",
        f"kp AS (SELECT {_KCORE_K_SQL} AS k FROM a0)",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"g{t} AS (SELECT src AS nodo, count(*) AS grado"
            f" FROM a{t - 1} GROUP BY 1)"
        )
        parts.append(
            f"v{t} AS (SELECT nodo FROM g{t}"
            f" WHERE grado >= (SELECT k FROM kp))"
        )
        parts.append(
            f"a{t} AS (SELECT a.src, a.dst FROM a{t - 1} a"
            f" JOIN v{t} s ON a.src = s.nodo"
            f" JOIN v{t} d ON a.dst = d.nodo)"
        )
    sel = " UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS ronda,"
        f" CAST((SELECT count(DISTINCT src) FROM a{t}) AS BIGINT) AS nodos,"
        f" CAST((SELECT count(*) // 2 FROM a{t}) AS BIGINT) AS aristas"
        for t in range(0, rounds + 1)
    )
    return "WITH " + ",\n".join(parts) + "\nSELECT * FROM (" + sel + ")"


@register("grafo_kcore", oracle=_kcore_oracle(_KCORE_ROUNDS),
          ops=("J1", "A1", "A6"), driver=True, bench=True)
def grafo_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE PEELING on the customer-supplier trade graph: round by
    round, every node whose degree fell below the data-derived k (half
    the average degree + 1) is removed along with its edges; the output
    traces (ronda, surviving nodes, surviving undirected edges) for 4
    fixed rounds — the densification curve an anti-abuse or community
    pipeline reads to pick its core threshold, with convergence visible
    as repeated identical rows.

    Scale shape: per round ONE degree aggregation (partial-agg
    combinable) + two node-keyed joins; lineage truncates per round via
    iter_checkpoint (replayable under SPARK_GRAFT_CHECKPOINT_DIR, like
    PageRank/BFS). The edge list only ever SHRINKS, and once a round
    removes nothing the remaining rounds are provably identical — the
    loop EARLY-EXITS and pads the trace instead of recomputing a fixed
    point (the oracle unrolls all rounds; the answers are equal by the
    fixpoint argument). Driver state: two counts per round."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    dirigidas = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    aristas = iter_checkpoint(
        dirigidas.unionAll(
            dirigidas.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    fila = aristas.agg(
        F.countDistinct("src").alias("n"),
        F.count(F.lit(1)).alias("e2"),
    ).first()
    nodos, e2 = int(fila["n"] or 0), int(fila["e2"] or 0)
    k = (e2 // nodos) // 2 + 1 if nodos else 1
    trace: list[tuple[int, int, int]] = [(0, nodos, e2 // 2)]
    for t in range(1, _KCORE_ROUNDS + 1):
        prev_n = trace[-1][1]
        if prev_n == 0:
            trace.append((t, 0, 0))
            continue
        grados = aristas.groupBy("src").agg(F.count(F.lit(1)).alias("grado"))
        vivos = grados.where(F.col("grado") >= k).select(
            F.col("src").alias("nodo")
        )
        aristas = iter_checkpoint(
            aristas.join(vivos.withColumnRenamed("nodo", "src"), "src")
            .join(vivos.withColumnRenamed("nodo", "dst"), "dst")
            .select("src", "dst")
        )
        fila = aristas.agg(
            F.countDistinct("src").alias("n"), F.count(F.lit(1)).alias("e2")
        ).first()
        n_t, e2_t = int(fila["n"] or 0), int(fila["e2"] or 0)
        trace.append((t, n_t, e2_t // 2))
        if n_t == prev_n:
            # fixpoint: no node was removed, so every later round is
            # identical — pad without recomputing
            for u in range(t + 1, _KCORE_ROUNDS + 1):
                trace.append((u, n_t, e2_t // 2))
            break
    return local_df(spark, trace, "ronda BIGINT, nodos BIGINT, aristas BIGINT")


# --------------------------------------------------------------------------
# Deterministic negative sampling — contrastive training-pair builder
# --------------------------------------------------------------------------
# The training-data op every two-tower / CF / contrastive pipeline runs
# after assembling positives: for each observed (customer, part) pair,
# draw k pseudo-random candidate negatives and THROW OUT the ones that
# are secretly positives (the classic "accidental hit" correction).
# Sampling is a deterministic hash chain — reproducible across runs,
# engines, and cluster topologies, the same discipline as
# barajado_global's shard shuffle.

_NEG_K = 3

_NEGATIVOS_ORACLE = f"""
WITH positivos AS (
    SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM part),
cand AS (
    SELECT p.custkey, p.partkey, j.j,
           {_hex_hash_sql(
               "CAST(p.custkey AS VARCHAR) || '#' || "
               "CAST(p.partkey AS VARCHAR) || '#' || CAST(j.j AS VARCHAR)"
           )} % (SELECT n FROM np) + 1 AS negativo
    FROM positivos p, LATERAL unnest(generate_series(1, {_NEG_K})) AS j(j)
),
marcado AS (
    SELECT c.j, c.negativo,
           CASE WHEN p2.partkey IS NOT NULL THEN 1 ELSE 0 END AS colision
    FROM cand c
    LEFT JOIN positivos p2
      ON p2.custkey = c.custkey AND p2.partkey = c.negativo
)
SELECT CAST(j AS BIGINT) AS j,
       CAST(count(*) AS BIGINT) AS generados,
       CAST(sum(colision) AS BIGINT) AS colisiones,
       CAST(count(*) - sum(colision) AS BIGINT) AS netos,
       CAST(count(DISTINCT negativo) AS BIGINT) AS items_distintos
FROM marcado GROUP BY 1
"""


@register("muestreo_negativos", oracle=_NEGATIVOS_ORACLE,
          ops=("J7", "A8", "A2"), driver=False, bench=True)
def muestreo_negativos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC NEGATIVE SAMPLING for contrastive training pairs:
    each positive (customer, part) interaction draws k=3 candidate
    negatives via an md5 hash chain over (custkey, partkey, j) mapped
    into the contiguous part-key space ``hash % n_parts + 1`` — the
    actual key range [1, n_parts], so candidate 0 (a nonexistent item
    that could never be an accidental positive) is unreachable and
    part n_parts is sampled — and candidates that are
    ACCIDENTAL POSITIVES for that customer are detected with one
    (custkey, candidate)-keyed left join and excluded from the net
    count — the correction in-batch samplers approximate and this
    materialized form gets exactly. Per draw index j: candidates
    generated, collisions excluded, net negatives, distinct items hit
    (the coverage read-out).

    Scale shape: candidate generation is MAP-SIDE (a k-way literal
    explode per positive — fan-out k, reproducible by construction);
    the collision check is an equi left join back to the positives on
    the candidate key; the roll-up is k rows. No randomness API, no
    driver state beyond the part count scalar."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # the distinct-positives build (join + distinct, the query's
    # dominant cost) feeds BOTH the candidate generator and the
    # accidental-hit collision join — localCheckpoint materializes it
    # once instead of letting each consumer re-execute the lineage
    # (grafo_triangulos' backbone discipline; same-session A/B: ~10%
    # at both sf0.1 and sf1 — AQE's exchange reuse recovers most of
    # the duplication here, the checkpoint takes the rest)
    positivos = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_parts = load_table(spark, sf_dir, "part").count()
    cand = positivos.select(
        "custkey",
        "partkey",
        F.explode(
            F.array(*[F.lit(j) for j in range(1, _NEG_K + 1)])
        ).alias("j"),
    ).select(
        "custkey",
        "j",
        (
            hex_hash(
                F.concat_ws(
                    "#",
                    F.col("custkey").cast("string"),
                    F.col("partkey").cast("string"),
                    F.col("j").cast("string"),
                )
            )
            % F.lit(n_parts)
            + F.lit(1)
        ).alias("negativo"),
    )
    marcado = cand.join(
        positivos.select(
            "custkey", F.col("partkey").alias("negativo"), F.lit(1).alias("col")
        ),
        ["custkey", "negativo"],
        "left",
    )
    return marcado.groupBy("j").agg(
        F.count(F.lit(1)).cast("bigint").alias("generados"),
        F.sum(F.coalesce("col", F.lit(0))).cast("bigint").alias("colisiones"),
        (F.count(F.lit(1)) - F.sum(F.coalesce("col", F.lit(0))))
        .cast("bigint")
        .alias("netos"),
        F.countDistinct("negativo").cast("bigint").alias("items_distintos"),
    ).select(
        F.col("j").cast("bigint").alias("j"),
        "generados",
        "colisiones",
        "netos",
        "items_distintos",
    )
