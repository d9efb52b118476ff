"""Property-based evidence for the bucketed interval-overlap join: on
random interval sets (including boundary-hugging and bucket-spanning
ones) it must produce EXACTLY the pairs of the brute-force O(n·m)
definition — the dedup-by-overlap-start-bucket trick may drop no pair
and duplicate none (SURVEY.md §7.4.1)."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.operators.intervals import (
    explode_to_buckets,
    interval_overlap_join,
)

BUCKET = 100  # tiny bucket width so intervals frequently span buckets

interval = st.tuples(
    st.integers(min_value=0, max_value=1000),
    st.integers(min_value=0, max_value=350),
).map(lambda t: (t[0], t[0] + t[1]))


@settings(max_examples=12, deadline=None)
@given(
    lefts=st.lists(interval, min_size=1, max_size=12),
    rights=st.lists(interval, min_size=1, max_size=12),
)
# zero-length intervals strictly inside the other side, on both sides
@example(lefts=[(150, 150), (0, 400)], rights=[(100, 300), (250, 250)])
def test_bucketed_join_equals_bruteforce(spark_prop, lefts, rights):
    spark = spark_prop
    ldf = spark.createDataFrame(
        [(i, s, e) for i, (s, e) in enumerate(lefts)], "lid int, s_us long, e_us long"
    )
    rdf = spark.createDataFrame(
        [(j, s, e) for j, (s, e) in enumerate(rights)], "rid int, r_s long, r_e long"
    )
    got = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "s_us", "e_us", "r_s", "r_e", bucket_us=BUCKET
        ).collect()
    }
    expected = {
        (i, j)
        for i, (ls, le) in enumerate(lefts)
        for j, (rs, re) in enumerate(rights)
        if ls < re and le > rs
    }
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    sessions=st.lists(
        st.tuples(
            # starts anywhere in a ~2-week window, durations from minutes
            # to a full week-plus (the pathological multi-day case)
            st.integers(min_value=0, max_value=14 * 86_400_000_000),
            st.integers(min_value=1, max_value=8 * 86_400_000_000),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_two_tier_hour_explode_equals_single_stage(spark_prop, sessions):
    """The day-split pre-tier must emit EXACTLY the atoms of the direct
    hour explode — same (session, hour_idx, clip_us) multiset — for
    week-long sessions included; only the per-row array bound changes."""
    from etl_python_airflow_bigquery_spark.functions import US_PER_HOUR
    from etl_python_airflow_bigquery_spark.operators.intervals import (
        explode_to_hour_grid,
    )

    spark = spark_prop
    df = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(sessions)],
        "sid int, s_us long, e_us long",
    )
    got = {
        (r["sid"], r["hour_idx"], r["clip_us"])
        for r in explode_to_hour_grid(df).collect()
    }
    expected = set()
    for i, (s, d) in enumerate(sessions):
        e = s + d
        for h in range(s // US_PER_HOUR, (e - 1) // US_PER_HOUR + 1):
            lo, hi = max(s, h * US_PER_HOUR), min(e, (h + 1) * US_PER_HOUR)
            expected.add((i, h, max(hi - lo, 0)))
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    sessions=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14 * 86_400_000_000),
            st.integers(min_value=1, max_value=8 * 86_400_000_000),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_day_tier_preserves_day_sums_and_expansion(spark_prop, sessions):
    """The day tier may change atom GRANULARITY, never totals: per
    (session, day) clip sums match the exact hour explode, and
    expand_day_atoms_to_hours restores the exact hour multiset."""
    from etl_python_airflow_bigquery_spark.operators.intervals import (
        expand_day_atoms_to_hours,
        explode_to_hour_grid,
    )

    spark = spark_prop
    df = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(sessions)],
        "sid int, s_us long, e_us long",
    )
    exact = explode_to_hour_grid(df)
    tiered = explode_to_hour_grid(df, day_tier_min_days=2)

    def day_sums(frame):
        return {
            (r["sid"], r["day_num"]): r["s"]
            for r in frame.groupBy("sid", "day_num")
            .agg(F.sum("clip_us").alias("s"))
            .collect()
        }

    assert day_sums(exact) == day_sums(tiered)
    got = {
        (r["sid"], r["hour_idx"], r["clip_us"])
        for r in expand_day_atoms_to_hours(tiered).collect()
    }
    want = {
        (r["sid"], r["hour_idx"], r["clip_us"]) for r in exact.collect()
    }
    assert got == want


def test_day_tier_bounds_fanout_for_60_day_session(spark):
    """A 60-day interval produces O(days) tiered atoms (edge hours + one
    atom per full day), not days×24 — the VERDICT r3 #5 pathology cap —
    while total clipped time stays exact."""
    from etl_python_airflow_bigquery_spark.functions import US_PER_HOUR
    from etl_python_airflow_bigquery_spark.operators.intervals import (
        explode_to_hour_grid,
    )

    us_day = 24 * US_PER_HOUR
    s = 5 * us_day + 7 * US_PER_HOUR + 123  # starts mid-day 5
    e = s + 60 * us_day + 3 * US_PER_HOUR  # ends mid-day 65
    df = spark.createDataFrame([(1, s, e)], "sid int, s_us long, e_us long")

    exact = explode_to_hour_grid(df).collect()
    tiered = explode_to_hour_grid(df, day_tier_min_days=3).collect()
    assert len(exact) > 1400  # the old fan-out: ~60×24
    assert len(tiered) < 120  # edges in hours + one atom per full day
    day_atoms = [r for r in tiered if r["hour_idx"] is None]
    assert all(r["clip_us"] == us_day for r in day_atoms)
    assert len(day_atoms) >= 58
    assert sum(r["clip_us"] for r in tiered) == sum(r["clip_us"] for r in exact) == e - s


def test_explode_to_buckets_boundaries(spark):
    df = spark.createDataFrame(
        [(1, 0, 100), (2, 0, 101), (3, 99, 100), (4, 100, 200), (5, 50, 250)],
        "id int, s long, e long",
    )
    out = explode_to_buckets(df, F.col("s"), F.col("e"), 100, "b")
    got = {(r["id"], r["b"]) for r in out.collect()}
    # interval ending exactly on a boundary stays OUT of the next bucket
    assert got == {(1, 0), (2, 0), (2, 1), (3, 0), (4, 1), (5, 0), (5, 1), (5, 2)}
