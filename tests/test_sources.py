"""NRQL clause + sources tests, including pushdown verification —
the reference ships its filters to the New Relic server (SURVEY.md §4);
our equivalent is filters reaching the parquet scan."""

import datetime as dt
import re

from pyspark.sql import Row
from pyspark.sql import functions as F

from ai_incident_analyst_spark.plans.nrql import run_nrql, time_point
from ai_incident_analyst_spark.sources.tables import load_table, union_tables


def test_nrql_clauses(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = run_nrql(
        spark,
        "SELECT `event_id`,`ts`,`event_type` FROM events "
        "WHERE `event_type` = 'error' AND `props` LIKE '%k%' "
        "SINCE '2024-01-05 00:00:00' UNTIL '2024-01-25 00:00:00' LIMIT 10",
        {"events": ev})
    rows = out.collect()
    assert 0 < len(rows) <= 10
    assert out.columns == ["event_id", "ts", "event_type"]
    assert all(r.event_type == "error" for r in rows)
    lo, hi = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 25)
    assert all(lo <= r.ts <= hi for r in rows)


def test_time_point_relative_since(spark):
    df = spark.createDataFrame(
        [Row(ts="2024-01-01 00:00:00"), Row(ts="2024-01-03 00:00:00")]
    ).select(F.to_timestamp("ts").alias("ts"))
    since = time_point(
        "24 hours ago", now=F.to_timestamp(F.lit("2024-01-03 12:00:00")))
    assert df.filter(F.col("ts") >= since).count() == 1


def _pushed_filters(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    (pushed,) = re.findall(r"PushedFilters: \[(.*)\]", plan)
    return pushed


def test_nrql_where_and_window_push_to_scan(spark, sf_dir):
    """Every AND conjunct of WHERE and both SINCE/UNTIL bounds reach the
    parquet scan as separate pushed filters; an OR tree pushes as one."""
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")  # the default truncates the list at 100
    try:
        ev = {"events": load_table(spark, sf_dir, "events")}
        pushed = _pushed_filters(run_nrql(
            spark,
            "SELECT `event_id` FROM events "
            "WHERE `event_type` = 'error' AND `props` LIKE '%k%' "
            "SINCE '2024-01-05 00:00:00' UNTIL '2024-01-25 00:00:00'", ev))
        for f in ("EqualTo(event_type,error)", "StringContains(props,k)",
                  "GreaterThanOrEqual(ts,2024-01-05T00:00)",
                  "LessThanOrEqual(ts,2024-01-25T00:00)"):
            assert f in pushed, pushed
        pushed = _pushed_filters(run_nrql(
            spark,
            "SELECT `event_id` FROM events "
            "WHERE `event_type` = 'error' OR `props` LIKE '%k%'", ev))
        assert "Or(EqualTo(event_type,error),StringContains(props,k))" \
            in pushed, pushed
    finally:
        spark.conf.set(key, old)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """P2 predicate must appear as a parquet PushedFilters entry, and the
    projection must prune the read schema (SURVEY.md §4 table)."""
    li = load_table(spark, sf_dir, "lineitem")
    plan = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_quantity")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" in plan
    assert "l_extendedprice" not in plan  # column pruning held


def test_union_tables_missing_columns(spark):
    a = spark.createDataFrame([Row(x=1, y="a")])
    b = spark.createDataFrame([Row(x=2)])
    out = union_tables(a, b)
    rows = sorted(out.collect(), key=lambda r: r.x)
    assert rows[1].y is None


def test_events_ts_microsecond_exact(spark, sf_dir):
    """nanos→micros conversion must be integer-exact (regression: double
    division lost precision above 2^53)."""
    ev = load_table(spark, sf_dir, "events")
    import duckdb
    expect = duckdb.sql(
        f"SELECT max(ts) FROM '{sf_dir}/events.parquet'").fetchone()[0]
    got = ev.agg(F.max("ts")).first()[0]
    assert got == expect.replace(tzinfo=None)


def test_tolerant_timestamp_mixed_formats(spark):
    """The reference's own fixture shapes: int epoch seconds
    (test_preprocessing_to_embedding.py) vs ISO strings
    (test_embedding_to_llm.py), plus millis/micros and garbage."""
    from ai_incident_analyst_spark.sources.tables import normalize_log_records

    df = spark.createDataFrame(
        [("1700000000", None),               # epoch seconds as string
         ("1700000000123", "boom"),          # epoch millis
         ("1700000000123456", 17),           # epoch micros; non-str message
         ("2024-01-02 03:04:05", "ok"),      # ISO
         ("not a time", "x")],               # garbage -> null, no error
        "timestamp string, message string")
    out = normalize_log_records(df).collect()
    assert [str(r.timestamp) for r in out] == [
        "2023-11-14 22:13:20",
        "2023-11-14 22:13:20.123000",
        "2023-11-14 22:13:20.123456",
        "2024-01-02 03:04:05",
        "None",
    ]
    # message coercion: None -> "", everything else stringified
    assert [r.message for r in out] == ["", "boom", "17", "ok", "x"]
