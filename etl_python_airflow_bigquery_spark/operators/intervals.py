"""Interval operators — the engine's keystone (SURVEY.md §7.1).

The reference's signature operator is the interval-overlap join followed by
interval clipping: playback sessions ``[start_date, end_date)`` joined to
period rows ``[inicio, fin)`` on ``start < fin AND end >= inicio`` and the
overlap measured with ``LEAST/GREATEST`` diffs (reference
indicadores_cia.py:152-165, audio_digital.py:397-399,
consumo_registrados.py:165-170, q_registrados_.py:90-99).

Spark-first execution strategy, chosen for 100 TB scale:

* **Grid-aligned periods** (hora/diario/mensual buckets): don't join at
  all — ``explode`` each session into the buckets it covers
  (``sequence()`` over integer bucket indices). Cost is O(rows x
  buckets-per-session) map-side work, zero shuffle, and clipping makes the
  duplication semantically correct by design (SURVEY.md §7.4.1). This is
  strictly better than a broadcast nested-loop join against a grid dim,
  which would compare every session with every grid row.

* **Arbitrary intervals** (program airings, validity windows):
  bucket-refine. Both sides explode into coarse buckets, equi-join on the
  bucket key (a normal shuffled/broadcast hash join Catalyst can
  optimize), then the exact overlap predicate refines, and duplicate
  pairs (intervals sharing >1 bucket) are dropped. Turns an O(n*m)
  nested-loop into a hash join with bounded fan-out.

All arithmetic is epoch-microsecond integer math (see functions.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.functions import (
    US_PER_HOUR,
    clipped_micros,
    event_ts_us,
)


def sessions_from_events(events: DataFrame) -> DataFrame:
    """Model the ``events`` stream table as playback sessions: ``ts`` is the
    session start and ``value`` its duration in minutes (FIXTURES.md maps
    events → consumo_detalle, whose rows are [start_date, end_date] spans,
    reference consumo_detalle.py:270-306).

    Output adds ``s_us``/``e_us`` epoch-µs bounds. Duration uses
    floor(value*60e6) so both engines truncate identically. ``ts`` is read
    through the schema-adaptive accessor — never assume its physical type.
    """
    s_us = event_ts_us(events)
    dur = F.floor(F.col("value") * F.lit(60_000_000)).cast("long")
    return events.withColumn("s_us", s_us).withColumn("e_us", s_us + dur)


def explode_to_buckets(
    df: DataFrame,
    s_us: Column,
    e_us: Column,
    bucket_us: int,
    index_name: str = "bucket_idx",
) -> DataFrame:
    """Explode each half-open interval [s_us, e_us) into every fixed-width
    bucket it overlaps; emits the bucket index (epoch µs / width).

    This is the scale-path building block: per-row fan-out is bounded by
    interval length / bucket width, all map-side (no shuffle). The e_us-1
    keeps intervals ending exactly on a boundary out of the next bucket.
    """
    start_idx = F.floor(s_us / F.lit(bucket_us))
    end_idx = F.floor((e_us - 1) / F.lit(bucket_us))
    return df.where(e_us > s_us).withColumn(
        index_name, F.explode(F.sequence(start_idx, end_idx))
    )


# Sessions spanning at least this many calendar days qualify for the
# day tier (when the caller opts in): their fully-covered middle days
# emit ONE day-atom instead of 24 hour-atoms.
DAY_TIER_MIN_DAYS = 3

US_DAY = 24 * US_PER_HOUR


def explode_to_hour_grid(
    sessions: DataFrame, day_tier_min_days: int | None = None
) -> DataFrame:
    """Session rows → one row per (session, hour-bucket) with clipped
    overlap. Reproduces the hour-grid interval join of the superposition
    notebooks (GENERATE_TIMESTAMP_ARRAY ... interval join, cell 2) and the
    dicc_fechas hora join (indicadores_cia.py:130-165) without any join.

    TWO-TIER explode: sessions first split at day boundaries (fan-out =
    days covered), then each day slice explodes into its hours (fan-out
    ≤ 24). Output rows are identical to a single-stage hour explode, but
    no single ``sequence()`` array ever exceeds max(days, 24) elements —
    a week-long session materializes 7 + 7×24 small rows instead of one
    168-element array, and a pathological months-long interval cannot
    blow a task's memory on one row (SCALING.md: session-length
    pathologies).

    Adds: day_num (epoch-day of the bucket), hour_idx, hora_us (bucket
    start), clip_us (overlap µs within the bucket).

    ``day_tier_min_days`` opts into the DAY TIER for pathological
    intervals: a session spanning ≥ that many calendar days emits its
    fully-covered middle days as ONE atom each (``hour_idx``/``hora_us``
    NULL, ``clip_us`` = 86 400e6) and only its partial edge days as hour
    atoms — a 60-day interval becomes ~60+48 rows instead of 1440, so
    atom count going into a downstream aggregation is O(days), not
    O(days·24). Aggregations that are uniform across a full day's hours
    (per-day sums, day-distinct counts, day-part blocks — each full day
    covers every hour exactly once) consume day atoms either directly or
    via a bounded ≤24-way re-expansion; consumers that pair atoms by
    exact hour (superposition self-joins) keep the default exact grid.
    """
    days = explode_to_buckets(
        sessions, F.col("s_us"), F.col("e_us"), US_DAY, "__day_idx"
    )
    day_s = F.greatest(F.col("s_us"), (F.col("__day_idx") * US_DAY).cast("long"))
    day_e = F.least(F.col("e_us"), ((F.col("__day_idx") + 1) * US_DAY).cast("long"))
    hour_seq = F.sequence(
        F.floor(day_s / F.lit(US_PER_HOUR)),
        F.floor((day_e - 1) / F.lit(US_PER_HOUR)),
    )
    if day_tier_min_days is None:
        atom_arrays = hour_seq
    else:
        # one conditional-array explode: a fully-covered day of a
        # long-enough session yields [NULL] (the day atom), anything
        # else its hour indices — single pass, still map-only
        span_days = (
            F.floor((F.col("e_us") - 1) / F.lit(US_DAY))
            - F.floor(F.col("s_us") / F.lit(US_DAY))
            + 1
        )
        full_day = (day_s == (F.col("__day_idx") * US_DAY).cast("long")) & (
            day_e == ((F.col("__day_idx") + 1) * US_DAY).cast("long")
        )
        tiered = full_day & (span_days >= F.lit(day_tier_min_days))
        atom_arrays = F.when(tiered, F.array(F.lit(None).cast("long"))).otherwise(
            hour_seq
        )
    out = (
        days.withColumn("hour_idx", F.explode(atom_arrays))
        .withColumn(
            "day_num",
            F.when(F.col("hour_idx").isNull(), F.col("__day_idx"))
            .otherwise(F.floor(F.col("hour_idx") / 24))
            .cast("long"),
        )
        .drop("__day_idx")
    )
    hora_us = (F.col("hour_idx") * F.lit(US_PER_HOUR)).cast("long")
    return out.withColumn("hora_us", hora_us).withColumn(
        "clip_us",
        F.when(F.col("hour_idx").isNull(), F.lit(US_DAY).cast("long")).otherwise(
            clipped_micros(
                F.col("s_us"), F.col("e_us"), hora_us, hora_us + F.lit(US_PER_HOUR)
            )
        ),
    )


def expand_day_atoms_to_hours(atoms: DataFrame) -> DataFrame:
    """Restore the exact hour grid from a day-tiered atom frame: day
    atoms (``hour_idx`` NULL) re-expand into their 24 hour rows (clip =
    one full hour each — a full day covers every hour exactly), hour
    atoms pass through. Bounded ≤24-way map-side fan-out — for consumers
    that need per-hour rows only at the END of a plan (e.g. a final
    hour-of-day group), so the day-level compaction still shields every
    earlier stage."""
    expanded = atoms.withColumn(
        "hour_idx",
        F.explode(
            F.when(
                F.col("hour_idx").isNull(),
                F.sequence(
                    F.col("day_num") * 24, F.col("day_num") * 24 + F.lit(23)
                ),
            ).otherwise(F.array(F.col("hour_idx")))
        ),
    )
    hora_us = (F.col("hour_idx") * F.lit(US_PER_HOUR)).cast("long")
    return expanded.withColumn("hora_us", hora_us).withColumn(
        "clip_us",
        F.when(
            F.col("clip_us") == F.lit(US_DAY).cast("long"),
            F.lit(US_PER_HOUR).cast("long"),
        ).otherwise(F.col("clip_us")),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_us: int = 24 * US_PER_HOUR,
    extra_on: list[str] | None = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """General interval-overlap join: rows where [l_start,l_end) overlaps
    [r_start,r_end), both epoch-µs columns. The reference brute-forces this
    predicate in BigQuery (SURVEY.md §2.4 J3); OSS Catalyst would plan the
    raw non-equi predicate as a nested-loop/cartesian join, so we rewrite
    it as bucket equi-join + refine + dedup (SURVEY.md §4 X5).

    ``extra_on`` adds equi keys (e.g. a brand column) to the bucket key.
    Left columns win on name collision; callers should pre-alias.

    A zero-length interval [s, s) explodes into its start bucket: the
    exact predicate still admits it when s falls strictly inside the
    other side, and the refine + overlap-start filter below decide
    membership exactly.
    """

    def buckets(df: DataFrame, s: str, e: str) -> DataFrame:
        fin = F.greatest(F.col(e), F.col(s) + 1)
        return explode_to_buckets(df, F.col(s), fin, bucket_us, "__bkt")

    lb = buckets(left, l_start, l_end)
    rb = buckets(right, r_start, r_end)
    if broadcast_right:
        rb = F.broadcast(rb)
    on = ["__bkt"] + (extra_on or [])
    joined = lb.join(rb, on=on, how="inner").where(
        (F.col(l_start) < F.col(r_end)) & (F.col(l_end) > F.col(r_start))
    )
    # A pair sharing k buckets appears k times; keep the pair whose bucket
    # contains the overlap start — exact, no dropDuplicates shuffle needed.
    overlap_start = F.greatest(F.col(l_start), F.col(r_start))
    joined = joined.where(F.col("__bkt") == F.floor(overlap_start / F.lit(bucket_us)))
    return joined.drop("__bkt")
