"""Source connectors (SURVEY.md §2.1 S1-S11).

The reference pulls from a metrics REST API (JSON + CSV-export), GA
report APIs, a holidays API, Postgres, and local CSV/Excel, always
landing in a driver-side frame before the heavy work. The engine keeps
the same split: a THIN driver-side fetch (HTTP/JDBC — never on the hot
path), then ``functions.local_df`` / ``spark.read`` with an EXPLICIT
schema so Catalyst sees typed columns from row one (§1.3: explicit
schemas on every source read; inference is an extra scan at scale).

No network exists in this environment — fetchers are injectable
callables, exercised in tests with fakes; the retry/chunking logic
(which IS the reference's operational value) runs for real.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

from etl_python_airflow_bigquery_spark.functions import local_df

US_PER_HOUR = 3_600_000_000

JsonFetcher = Callable[[dict], list[dict]]


def with_retry(
    fn: Callable[[], list[dict]],
    retries: int = 5,
    delay_s: float = 0.0,
    backoff: float = 2.0,
) -> list[dict]:
    """G4: the reference's retry-with-backoff loop around flaky
    extraction (programas_live.py:328-336, consumo_detalle.py:119-143;
    Airflow retries=5 audio_digital.py:577-585)."""
    err: Exception | None = None
    for attempt in range(retries):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001
            err = exc
            if delay_s:
                time.sleep(delay_s * (backoff**attempt))
    raise RuntimeError(f"source fetch failed after {retries} attempts") from err


def gen_windows(start_us: int, end_us: int, width_us: int = 12 * US_PER_HOUR) -> list[tuple[int, int]]:
    """S3: split [start, end) into fixed chunks (the reference's 12-hour
    ``gen_qdates``, consumo_detalle.py:44-77) — bounded-memory ingestion;
    the empty-range guard of consumo_detalle_hora.py:58-62 is the
    ``start < end`` check."""
    out = []
    cur = start_us
    while cur < end_us:
        nxt = min(cur + width_us, end_us)
        out.append((cur, nxt))
        cur = nxt
    return out


def rest_metrics_source(
    spark: SparkSession,
    fetcher: JsonFetcher,
    query_spec: dict,
    schema: str,
    windows: Sequence[tuple[int, int]] | None = None,
    retries: int = 5,
) -> DataFrame:
    """S1/S3: REST JSON metrics source — per window, POST the query spec
    (dimensions/filters/range — a pushed-down remote query, reference
    gen_req audio_digital.py:126-188) with retry, then parallelize the
    JSON rows under an explicit schema. Fetching is driver-side by
    design: the remote API is the bottleneck, not Spark."""
    windows = list(windows or [(0, 0)])
    rows: list[dict] = []
    for w_start, w_end in windows:
        spec = dict(query_spec, date_start_us=w_start, date_end_us=w_end)
        rows.extend(with_retry(lambda s=spec: fetcher(s), retries=retries))
    return local_df(spark, rows, schema)


def csv_export_source(
    spark: SparkSession, path: str, schema: str, header: bool = True
) -> DataFrame:
    """S2/S9: CSV with explicit schema (the reference's metric/export
    CSV download, consumo_detalle.py:108-143, and local CSV merges).
    Distributed read — lands directly on executors, no driver hop."""
    return spark.read.csv(path, header=header, schema=schema)


def json_lines_source(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """S1 (landed form): JSON-lines files under an explicit schema."""
    return spark.read.schema(schema).json(path)


def jdbc_source(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S8: JDBC (the reference's CloudSQL Postgres pulls). At scale the
    partition_column/bounds split the table across executors — a single
    unpartitioned JDBC read is a driver-shaped bottleneck."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def ga_report_rows(report: dict) -> Iterator[dict]:
    """S5/S6: flatten a GA-style nested report (dimensionHeaders/
    metricHeaders/rows → flat dicts, reference
    trafico_digital.py:237-290,295-351)."""
    dims = [h["name"] for h in report.get("dimensionHeaders", [])]
    mets = [h["name"] for h in report.get("metricHeaders", [])]
    for row in report.get("rows", []):
        out = dict(zip(dims, (v["value"] for v in row.get("dimensionValues", []))))
        out.update(
            {
                m: float(v["value"])
                for m, v in zip(mets, row.get("metricValues", []))
            }
        )
        yield out


def ga_source(
    spark: SparkSession, reports: Sequence[dict], schema: str
) -> DataFrame:
    """S6: GA4/Firebase batch reports → typed DataFrame."""
    rows = [r for rep in reports for r in ga_report_rows(rep)]
    return local_df(spark, rows, schema)


def ga3_report_rows(report: dict) -> Iterator[dict]:
    """S5: flatten a GA3 (Universal Analytics / Reporting API v4) report —
    a DIFFERENT proto shape from GA4: headers live at
    ``columnHeader.dimensions`` + ``columnHeader.metricHeader.
    metricHeaderEntries[].name``, rows at ``data.rows[].dimensions`` /
    ``.metrics[0].values`` (reference trafico_digital.py:237-263)."""
    ch = report.get("columnHeader", {})
    dims = ch.get("dimensions", [])
    mets = [
        m.get("name")
        for m in ch.get("metricHeader", {}).get("metricHeaderEntries", [])
    ]
    for row in report.get("data", {}).get("rows", []):
        out = dict(zip(dims, row.get("dimensions", [])))
        vals = row.get("metrics", [{}])[0].get("values", [])
        out.update({m: float(v) for m, v in zip(mets, vals)})
        yield out


def ga3_source(
    spark: SparkSession, reports: Sequence[dict], schema: str
) -> DataFrame:
    """S5: GA3 batch reports → typed DataFrame (column names keep the
    ``ga:`` prefix — quote them with backticks in the DDL schema)."""
    rows = [r for rep in reports for r in ga3_report_rows(rep)]
    return local_df(spark, rows, schema)


def ga3_batch_tables(
    spark: SparkSession,
    response: dict,
    schemas: dict[str, str],
    drop_unknown_col: str | None = None,
) -> dict[str, DataFrame]:
    """S5: a GA3 batchGet response carries ONE report per demographic
    request; the reference zips request keys onto ``reports`` and builds
    one frame per key, dropping '(unknown)' demographic rows and empty
    reports (trafico_digital.py:236-262). Same contract here: request
    key → typed DataFrame, empties omitted."""
    from pyspark.sql import functions as F

    out: dict[str, DataFrame] = {}
    for key, report in zip(schemas, response.get("reports", [])):
        rows = list(ga3_report_rows(report))
        if not rows:
            continue
        df = local_df(spark, rows, schemas[key])
        if drop_unknown_col is not None and drop_unknown_col in (
            f.name for f in df.schema.fields
        ):
            df = df.where(F.col(f"`{drop_unknown_col}`") != "unknown")
        out[key] = df
    return out


def ga3_assemble_datetime(df: DataFrame, agreg: str) -> DataFrame:
    """S5: per-aggregation ``datetime`` reassembly from GA3 time
    dimensions (reference trafico_digital.py:264-280): mensual =
    yearMonth+'0100', diario = date+'00', hora = dateHour, 'mes hora' =
    yearMonth+'01'+hour — all parsed as yyyyMMddHH into TIMESTAMP_NTZ
    (GA3 times are property-local wall clock, never session-tz)."""
    from pyspark.sql import functions as F

    if agreg == "mensual":
        s, drop = F.concat(F.col("`ga:yearMonth`"), F.lit("0100")), ["ga:yearMonth"]
    elif agreg == "diario":
        s, drop = F.concat(F.col("`ga:date`"), F.lit("00")), ["ga:date"]
    elif agreg == "hora":
        s, drop = F.col("`ga:dateHour`"), ["ga:dateHour"]
    elif agreg == "mes hora":
        s = F.concat(
            F.col("`ga:yearMonth`"), F.lit("01"), F.lpad(F.col("`ga:hour`"), 2, "0")
        )
        drop = ["ga:yearMonth", "ga:hour"]
    else:
        raise ValueError(f"unknown GA3 aggregation level: {agreg!r}")
    return df.withColumn(
        "datetime", F.to_timestamp_ntz(s, F.lit("yyyyMMddHH"))
    ).drop(*drop)


def config_source(raw: str | dict) -> dict:
    """S11: engine config (the reference's JSON-valued Airflow Variables,
    funnel_property.py:126,202) — parsed once, driver-side."""
    return json.loads(raw) if isinstance(raw, str) else dict(raw)


def feriados_rows(payload: list[dict]) -> list[tuple]:
    """S7: normalize the gob.cl holidays-API JSON shape
    (ApiFeriados_etl_Bigquery.ipynb cell 4 ``response_to_dataframe``):
    each entry carries ``fecha`` ('YYYY-MM-DD'), ``nombre``, and
    ``irrenunciable`` — which the API serves as the STRINGS '1'/'0'
    (hence the reference's astype(int).astype(bool) dance). Emits
    (fecha, feriado=True, irrenunciable, descripcion) tuples."""
    out = []
    for r in payload:
        irr = r.get("irrenunciable", 0)
        out.append(
            (
                str(r["fecha"]),
                True,
                bool(int(irr or 0)),
                r.get("nombre"),
            )
        )
    return out


def feriados_source(
    spark: SparkSession,
    fetcher: Callable[[], list[dict]],
    date_start: str,
    date_end: str,
    retries: int = 5,
) -> DataFrame:
    """S7: the holidays-API ETL end to end (ApiFeriados notebook cells
    4-9): fetch-with-retry → normalize → RIGHT-join-complete against the
    full [date_start, date_end] calendar with feriado fillna(False)
    (``gen_rango_fechas`` + ``gen_df_final``; non-holiday rows keep NULL
    irrenunciable/descripcion exactly like the reference frame). Output
    adds ``day_num`` (epoch days) so it joins the engine's day-keyed
    queries (right_join_calendar's completion path) directly. The
    calendar explode is one literal sequence — dim-sized at any scale."""
    from pyspark.sql import functions as F

    payload = with_retry(fetcher, retries=retries)
    feriados = local_df(
        spark,
        feriados_rows(payload),
        "fecha STRING, feriado BOOLEAN, irrenunciable BOOLEAN, descripcion STRING",
    )
    grid = spark.sql(
        f"SELECT explode(sequence(to_date('{date_start}'), "
        f"to_date('{date_end}'), interval 1 day)) AS d"
    ).select(F.date_format("d", "yyyy-MM-dd").alias("fecha"))
    return (
        grid.join(F.broadcast(feriados), "fecha", "left")
        .select(
            F.unix_date(F.to_date("fecha")).cast("bigint").alias("day_num"),
            "fecha",
            F.coalesce(F.col("feriado"), F.lit(False)).alias("feriado"),
            "irrenunciable",
            "descripcion",
        )
    )
