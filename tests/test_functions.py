"""Unit tests for the scalar building blocks — including the DST risk
called out in SURVEY.md §7.4.2: America/Santiago transitions must be
IANA-correct and independent of the Spark session time zone."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_python_airflow_bigquery_spark.functions import (
    clipped_micros,
    day_to_date,
    epoch_day,
    hour_of_day,
    overlap,
    safe_div,
    to_santiago,
    trunc1,
)

US = 1_000_000


def one_row(spark, **cols):
    df = spark.range(1)
    for k, v in cols.items():
        df = df.withColumn(k, F.lit(v))
    return df


def test_clipped_micros_cases(spark):
    df = one_row(spark).select(
        clipped_micros(F.lit(10), F.lit(20), F.lit(5), F.lit(15)).alias("overlap"),
        clipped_micros(F.lit(10), F.lit(20), F.lit(25), F.lit(30)).alias("disjoint"),
        clipped_micros(F.lit(10), F.lit(20), F.lit(0), F.lit(100)).alias("contained"),
        clipped_micros(F.lit(10), F.lit(20), F.lit(20), F.lit(30)).alias("adjacent"),
    )
    r = df.first()
    assert (r["overlap"], r["disjoint"], r["contained"], r["adjacent"]) == (5, 0, 10, 0)


def test_trunc1_matches_floor_semantics(spark):
    r = one_row(spark).select(
        trunc1(F.lit(1.26)).alias("a"),
        trunc1(F.lit(-1.26)).alias("b"),  # floor → -1.3, NOT round-toward-zero
        trunc1(F.lit(2.0)).alias("c"),
    ).first()
    assert (r["a"], r["b"], r["c"]) == (1.2, -1.3, 2.0)


def test_safe_div_zero_guard(spark):
    r = one_row(spark).select(
        safe_div(F.lit(10.0), F.lit(0)).alias("z"),
        safe_div(F.lit(10.0), F.lit(None).cast("long")).alias("n"),
        safe_div(F.lit(10.0), F.lit(4)).alias("ok"),
    ).first()
    assert (r["z"], r["n"], r["ok"]) == (0.0, 0.0, 2.5)


def test_epoch_day_and_date_roundtrip(spark):
    us = 1_704_067_200 * US  # 2024-01-01T00:00:00Z
    r = one_row(spark).select(
        epoch_day(F.lit(us)).alias("d"),
        day_to_date(epoch_day(F.lit(us))).cast("string").alias("fecha"),
        hour_of_day(F.lit(us + 5 * 3600 * US)).alias("h"),
    ).first()
    assert (r["d"], r["fecha"], r["h"]) == (19723, "2024-01-01", 5)


def test_santiago_dst_transition(spark):
    """Chile leaves DST 2024-04-07: 00:00 local jumps back to 23:00 of
    the previous wall hour (UTC-3 → UTC-4). One second before the
    transition instant (04:00Z) must land on 23:59:59 local; the
    instant itself on 00:00:00 local — session tz must not matter."""
    before = 1_712_458_799 * US  # 2024-04-07T02:59:59Z
    at = 1_712_462_400 * US      # 2024-04-07T04:00:00Z
    r = one_row(spark).select(
        to_santiago(F.lit(before)).cast("string").alias("b"),
        to_santiago(F.lit(at)).cast("string").alias("a"),
    ).first()
    assert r["b"] == "2024-04-06 23:59:59"
    assert r["a"] == "2024-04-07 00:00:00"


def test_santiago_spring_forward_gap(spark):
    """Chile enters DST 2024-09-08: 00:00 local never exists (23:59:59
    jumps to 01:00:00, UTC-4 → UTC-3). The last pre-switch second must
    land on 23:59:59 and the switch instant on 01:00:00 — local hour 0
    of 2024-09-08 is a GAP, which audiencia_dst_primavera's output must
    reflect (no hora_local=0 row for that date)."""
    before = 1_725_767_999 * US  # 2024-09-08T03:59:59Z (UTC-4 still)
    at = 1_725_768_000 * US      # 2024-09-08T04:00:00Z → 01:00:00 local
    r = one_row(spark).select(
        to_santiago(F.lit(before)).cast("string").alias("b"),
        to_santiago(F.lit(at)).cast("string").alias("a"),
    ).first()
    assert r["b"] == "2024-09-07 23:59:59"
    assert r["a"] == "2024-09-08 01:00:00"


def test_dst_primavera_has_no_gap_hour(spark, sf_dir):
    """The spring-forward driver query must emit NO row for the
    nonexistent local hour (2024-09-08, hora 0) while covering the
    switch date itself."""
    from etl_python_airflow_bigquery_spark.queries import REGISTRY

    rows = REGISTRY["audiencia_dst_primavera"].fn(spark, sf_dir).collect()
    days = {r["dia_local"] for r in rows}
    assert "2024-09-08" in days  # the shifted window spans the switch
    assert not any(
        r["dia_local"] == "2024-09-08" and r["hora_local"] == 0 for r in rows
    )


def test_santiago_summer_offset(spark):
    """January (Chile summer, UTC-3): midnight UTC is 21:00 previous day."""
    us = 1_704_067_200 * US
    r = one_row(spark).select(to_santiago(F.lit(us)).cast("string").alias("s")).first()
    assert r["s"] == "2023-12-31 21:00:00"


def test_asof_left_keeps_unmatched(spark):
    """asof_join how='left' keeps left rows with no prior right row
    (nulls); how='inner' drops them — DuckDB ASOF default."""
    from etl_python_airflow_bigquery_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5), (1, 50), (2, 10)], "k int, t long"
    )
    right = spark.createDataFrame(
        [(1, 20, "a"), (1, 40, "b")], "k int, rt long, v string"
    )
    outer = asof_join(
        left, right, on="k", left_ts="t", right_ts="rt", value_cols=["v"], how="left"
    )
    got = {(r["k"], r["t"]): r["v"] for r in outer.collect()}
    assert got == {(1, 5): None, (1, 50): "b", (2, 10): None}
    inner = asof_join(
        left, right, on="k", left_ts="t", right_ts="rt", value_cols=["v"], how="inner"
    )
    assert {(r["k"], r["t"], r["v"]) for r in inner.collect()} == {(1, 50, "b")}


def test_geo_ladder_fallbacks_and_optional_mmdb():
    """The 15-field mmdb extraction ladder: es→en name fallback, missing
    subdivisions ⇒ absent region, missing geoname_id ⇒ record dropped,
    missing ASN ⇒ null; open_geo_db degrades to the stand-in when
    maxminddb is unavailable."""
    import pandas as pd

    from etl_python_airflow_bigquery_spark.operators.enrich import (
        _StandinGeoDB,
        extract_geo_record,
        lookup_geo_full,
        open_geo_db,
    )

    db = open_geo_db("/nonexistent/GeoLite2-City.mmdb")  # lib absent ⇒ stand-in
    assert isinstance(db, _StandinGeoDB)

    ar = extract_geo_record("10.70.0.1", db.get("10.70.0.1"))
    assert ar["continent_name"] == "South America"  # en fallback
    pe = extract_geo_record("10.150.0.1", db.get("10.150.0.1"))
    assert "region_code" not in pe and pe["asn"] is None
    assert pe["city_name"] == "Lima"  # en fallback on city names

    no_city = {"continent": {"code": "X", "names": {"en": "x"}},
               "country": {"iso_code": "X", "names": {"en": "x"}},
               "city": {"names": {"en": "nameless"}}}
    assert extract_geo_record("10.0.0.1", no_city) is None

    out = lookup_geo_full(pd.DataFrame({"request_ip": ["10.3.0.1", "10.150.0.1"]}))
    assert list(out["country_code"]) == ["CL", "PE"]
    assert str(out["asn"].dtype) == "Int64" and pd.isna(out["asn"].iloc[1])


def test_propagate_min_labels_converges_or_raises(spark, monkeypatch):
    """Min-label propagation on a 7-node path converges (one component,
    min label everywhere). The round-cap guard splits by path since the
    r14 small-graph fast path: under the driver collect cap, union-find
    computes the EXACT fixed point in one pass, so any round cap yields
    correct labels (never a spurious raise); on the distributed loop
    (forced here by zeroing the cap) a round cap smaller than
    log2(diameter) still RAISES instead of returning wrong
    cluster_ids."""
    import pytest as _pytest

    from etl_python_airflow_bigquery_spark.queries import dedup as dedup_mod
    from etl_python_airflow_bigquery_spark.queries.dedup import propagate_min_labels

    edges = [(i, i + 1) for i in range(6)]
    sym = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    )
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in propagate_min_labels(sym, max_rounds=10).collect()
    }
    assert labels == {i: 0 for i in range(7)}
    # fast path: exact labels even under a cap below the diameter
    labels_fast = {
        r["doc_id"]: r["cluster_id"]
        for r in propagate_min_labels(sym, max_rounds=2).collect()
    }
    assert labels_fast == {i: 0 for i in range(7)}
    # distributed loop (cap forced to 0): the loud safety bound holds
    monkeypatch.setattr(dedup_mod, "_CC_COLLECT_CAP", 0)
    with _pytest.raises(RuntimeError, match="converge"):
        propagate_min_labels(sym, max_rounds=2)


def test_propagate_min_labels_deep_chain_converges(spark):
    """A chain of 25 near-dups (diameter 24 > the 20-round cap) and a
    200-node chain must still cluster correctly under the DEFAULT cap:
    pointer jumping makes convergence O(log diameter), so the cap bounds
    pathology, not honest deep components (VERDICT r2 #6)."""
    from etl_python_airflow_bigquery_spark.queries.dedup import propagate_min_labels

    for n in (25, 200):
        edges = [(i, i + 1) for i in range(n - 1)]
        sym = spark.createDataFrame(
            edges + [(b, a) for a, b in edges], "src long, dst long"
        )
        labels = {
            r["doc_id"]: r["cluster_id"]
            for r in propagate_min_labels(sym).collect()
        }
        assert labels == {i: 0 for i in range(n)}, n


def test_asof_null_value_cols_match_row_not_older_value(spark):
    """A matched right row whose value column is NULL must win over an
    older non-null row (DuckDB ASOF semantics): the carry tracks the
    ROW, not each value column independently — and how='inner' keeps
    left rows whose true match carries NULL values."""
    from etl_python_airflow_bigquery_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 50), (2, 50)], "k int, t long")
    right = spark.createDataFrame(
        [(1, 10, "old"), (1, 40, None), (2, 30, None)], "k int, rt long, v string"
    )
    for how in ("left", "inner"):
        got = {
            (r["k"], r["t"]): r["v"]
            for r in asof_join(
                left, right, on="k", left_ts="t", right_ts="rt",
                value_cols=["v"], how=how,
            ).collect()
        }
        # latest-at-or-before rows are (1,40,NULL) and (2,30,NULL):
        # both left rows ARE matched, values are NULL — never "old".
        assert got == {(1, 50): None, (2, 50): None}, how


def test_asof_equal_timestamp_matches(spark):
    """right row AT the left timestamp is visible (>= semantics)."""
    from etl_python_airflow_bigquery_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 20)], "k int, t long")
    right = spark.createDataFrame([(1, 20, "x")], "k int, rt long, v string")
    out = asof_join(
        left, right, on="k", left_ts="t", right_ts="rt", value_cols=["v"]
    ).collect()
    assert len(out) == 1 and out[0]["v"] == "x"


def test_approx_percentiles_within_tolerance(spark, sf_dir):
    """The t-digest scale path must track the exact sort-based
    percentiles. t-digest error is RANK-space, so in value space the
    bound depends on local density: at this fixture's ~300-row groups a
    ±1-rank miss near the median is ~1-2% of the value — gate at 5%
    relative (tightens with group size at real scale)."""
    from etl_python_airflow_bigquery_spark.queries import REGISTRY

    from etl_python_airflow_bigquery_spark.tables import load_table

    exact = {
        r["o_orderpriority"]: (r["p50"], r["p90"], r["p99"])
        for r in REGISTRY["percentiles_pedidos"].fn(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    approx = {
        r["o_orderpriority"]: tuple(r["pct"])
        for r in orders.groupBy("o_orderpriority").agg(
            F.expr(
                "approx_percentile(o_totalprice, array(0.5D, 0.9D, 0.99D),"
                " 10000)"
            ).alias("pct")
        ).collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        for e, a in zip(exact[k], approx[k]):
            assert abs(a - e) <= 0.05 * abs(e), (k, e, a)
    # the registered banded form (round 11): every verdict is in-band
    # and the exact discrete anchors are self-consistent with pedidos
    for r in REGISTRY["percentiles_aprox"].fn(spark, sf_dir).collect():
        assert r["dentro_banda"] == 1, r
        assert r["p50_exacto"] <= r["p90_exacto"] <= r["p99_exacto"], r


def test_overlap_returns_in_order_and_cancels_on_first_failure(spark):
    """overlap returns (main, *lanes) results in argument order, and on
    a lane failure cancels the call's running jobs (here main's 120 s
    job) and re-raises the lane's error, not main's cancellation."""
    import threading
    import time

    import pytest

    sc = spark.sparkContext
    assert overlap(lambda: 1, lambda: 2, lambda: 3) == (1, 2, 3)

    lanzado = threading.Event()

    def largo():
        lanzado.set()
        sc.parallelize(range(2), 2).foreach(lambda _: time.sleep(120))

    def falla():
        lanzado.wait(60)
        time.sleep(3)  # main's job is running by now
        raise ValueError("lane failed")

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="lane failed"):
        overlap(largo, falla)
    assert time.monotonic() - t0 < 60
    assert not sc.getJobTags()  # the call's tag is removed


def test_overlap_many_failing_lanes_cancel_once(spark, monkeypatch):
    """More lanes than cores, with thread switches forced often: results
    land in their own slots, and when every lane fails the tag is
    cancelled exactly once and one lane's error is re-raised."""
    import sys

    import pytest

    cancelados: list = []
    monkeypatch.setattr(spark.sparkContext, "cancelJobsWithTag", cancelados.append)

    def falla(i):
        raise ValueError(i)

    intervalo = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        assert overlap(*[lambda i=i: i for i in range(32)]) == tuple(range(32))
        with pytest.raises(ValueError):
            overlap(*[lambda i=i: falla(i) for i in range(32)])
    finally:
        sys.setswitchinterval(intervalo)
    assert len(cancelados) == 1
