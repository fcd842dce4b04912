"""The reference's three ksql REST payloads run verbatim on the Spark engine
(reference: ci_cd/ksql/{create_stream,create_table,select_hotels}.json)."""

from __future__ import annotations

import re

import pytest

from m12_kafkastreams_python_azure_spark.ksql import KsqlContext
from m12_kafkastreams_python_azure_spark.operators.aggregate import hotels_count
from m12_kafkastreams_python_azure_spark.operators.enrich import enrich_expedia
from m12_kafkastreams_python_azure_spark.schemas import EXPEDIA_SCHEMA
from tests.fixtures import gen_expedia_rows

CREATE_STREAM = """{
    "ksql": "CREATE STREAM expedia_stream (id BIGINT, hotel_id BIGINT, stay_category VARCHAR) WITH (KAFKA_TOPIC='expedia_ext', VALUE_FORMAT='JSON');",
    "streamsProperties": {}
  }"""
CREATE_TABLE = """{
    "ksql": "CREATE TABLE hotels_count AS SELECT stay_category, COUNT(hotel_id) AS hotels_amount, COUNT_DISTINCT(hotel_id) AS distinct_hotels FROM expedia_stream GROUP BY stay_category;",
    "streamsProperties": {}
  }"""
SELECT_HOTELS = """{
    "ksql": "SELECT * FROM hotels_count EMIT CHANGES;",
    "streamsProperties": {}
  }"""


@pytest.fixture(scope="module")
def ksql_ctx(spark):
    ctx = KsqlContext(spark)
    raw = spark.createDataFrame(gen_expedia_rows(3000), EXPEDIA_SCHEMA)
    ctx.register_topic("expedia_ext", enrich_expedia(raw))
    return ctx


def test_reference_payloads_end_to_end(ksql_ctx, spark):
    stream = ksql_ctx.execute(CREATE_STREAM)
    assert stream.columns == ["id", "hotel_id", "stay_category"]  # K1 projection

    ksql_ctx.execute(CREATE_TABLE)
    result = ksql_ctx.execute(SELECT_HOTELS)
    got = {
        r["stay_category"]: (r["hotels_amount"], r["distinct_hotels"])
        for r in result.collect()
    }

    raw = spark.createDataFrame(gen_expedia_rows(3000), EXPEDIA_SCHEMA)
    want = {
        r["stay_category"]: (r["hotels_amount"], r["distinct_hotels"])
        for r in hotels_count(enrich_expedia(raw)).collect()
    }
    assert got == want
    assert len(got) == 5


def test_payloads_match_duckdb_oracle(ksql_ctx):
    """The three verbatim payloads' final hotels_count must equal an
    INDEPENDENT oracle: DuckDB computing the same aggregate (exact ANSI
    COUNT(DISTINCT)) over the same projected stream rows — not our own
    engine's batch twin."""
    import duckdb

    ksql_ctx.execute(CREATE_STREAM)
    ksql_ctx.execute(CREATE_TABLE)
    got = {
        r["stay_category"]: (r["hotels_amount"], r["distinct_hotels"])
        for r in ksql_ctx.execute(SELECT_HOTELS).collect()
    }

    pdf = ksql_ctx.execute("SELECT * FROM expedia_stream").toPandas()
    con = duckdb.connect()
    con.register("expedia_stream", pdf)
    want = {
        row[0]: (row[1], row[2])
        for row in con.execute(
            "SELECT stay_category, COUNT(hotel_id), COUNT(DISTINCT hotel_id) "
            "FROM expedia_stream GROUP BY stay_category"
        ).fetchall()
    }
    assert got == want
    assert len(got) == 5


def test_unknown_topic_is_clear_error(spark):
    ctx = KsqlContext(spark)
    with pytest.raises(ValueError, match="not registered"):
        ctx.execute(
            "CREATE STREAM s (id BIGINT) WITH (KAFKA_TOPIC='missing', VALUE_FORMAT='JSON');"
        )


def test_declared_but_missing_column_is_null(ksql_ctx):
    out = ksql_ctx.execute(
        "CREATE STREAM s2 (id BIGINT, nope VARCHAR) "
        "WITH (KAFKA_TOPIC='expedia_ext', VALUE_FORMAT='JSON');"
    )
    r = out.limit(1).collect()[0]
    assert r["nope"] is None  # ksql JSON schema-on-read: absent field -> NULL


# --- widened dialect: windows, CSAS, WHERE, TIMESTAMP property -------------


@pytest.fixture(scope="module")
def events_ctx(spark):
    """A ksql context with an events-like topic: 600 rows, one every 47 s,
    3 event types, so tumbling/hopping/session windows all have content."""
    from pyspark.sql import functions as F

    ctx = KsqlContext(spark)
    ev = (
        spark.range(600)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 47).alias(
                "ts"
            ),
            (F.col("id") % 3).cast("int").alias("etype"),
            (F.col("id") % 7).cast("double").alias("value"),
        )
    )
    ctx.register_topic("events_topic", ev)
    ctx.execute(
        "CREATE STREAM ev (event_id BIGINT, ts TIMESTAMP, etype INTEGER, "
        "value DOUBLE) WITH (KAFKA_TOPIC='events_topic', "
        "VALUE_FORMAT='JSON', TIMESTAMP='ts');"
    )
    return ctx


def test_tumbling_window_ctas_matches_duckdb(events_ctx):
    """ksql WINDOW TUMBLING must equal an independent DuckDB time_bucket
    aggregation over the same rows."""
    import duckdb

    events_ctx.execute(
        "CREATE TABLE per_hour AS SELECT etype, WINDOWSTART AS ws, "
        "COUNT(*) AS n, COUNT_DISTINCT(value) AS nv FROM ev "
        "WINDOW TUMBLING (SIZE 1 HOURS) GROUP BY etype EMIT CHANGES;"
    )
    got = {
        (r["etype"], r["ws"]): (r["n"], r["nv"])
        for r in events_ctx.execute("SELECT * FROM per_hour;").collect()
    }
    pdf = events_ctx.execute("SELECT * FROM ev").toPandas()
    con = duckdb.connect()
    con.register("ev", pdf)
    want = {
        (row[0], row[1]): (row[2], row[3])
        for row in con.execute(
            "SELECT etype, time_bucket(INTERVAL '1 hour', ts) AS ws, "
            "count(*), count(DISTINCT value) FROM ev GROUP BY 1, 2"
        ).fetchall()
    }
    assert got == want
    assert len(got) >= 24  # ~8 hours x 3 types


def test_hopping_window_ctas_matches_native(events_ctx, spark):
    from pyspark.sql import functions as F

    events_ctx.execute(
        "CREATE TABLE hop AS SELECT etype, WINDOWSTART AS ws, WINDOWEND AS "
        "we, COUNT(*) AS n FROM ev "
        "WINDOW HOPPING (SIZE 10 MINUTES, ADVANCE BY 5 MINUTES) "
        "GROUP BY etype;"
    )
    got = {
        (r["etype"], r["ws"], r["we"]): r["n"]
        for r in events_ctx.execute("SELECT * FROM hop;").collect()
    }
    ev = events_ctx.execute("SELECT * FROM ev")
    want = {
        (r["etype"], r["ws"], r["we"]): r["n"]
        for r in ev.groupBy(
            "etype", F.window("ts", "10 minutes", "5 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("etype", F.col("w.start").alias("ws"),
                F.col("w.end").alias("we"), "n")
        .collect()
    }
    assert got == want
    # hopping doubles coverage vs tumbling: every row lands in 2 windows
    assert sum(got.values()) == 2 * 600


def test_session_window_ctas_matches_native(events_ctx):
    from pyspark.sql import functions as F

    # 47 s spacing with a 60 s gap: per-etype spacing is 141 s > gap, so
    # every event is its own session unless consecutive same-type events
    # are closer — makes the translation's correctness visible.
    events_ctx.execute(
        "CREATE TABLE sess AS SELECT etype, WINDOWSTART AS ws, COUNT(*) AS n "
        "FROM ev WINDOW SESSION (60 SECONDS) GROUP BY etype;"
    )
    got = {
        (r["etype"], r["ws"]): r["n"]
        for r in events_ctx.execute("SELECT * FROM sess;").collect()
    }
    ev = events_ctx.execute("SELECT * FROM ev")
    want = {
        (r["etype"], r["ws"]): r["n"]
        for r in ev.groupBy(
            "etype", F.session_window("ts", "60 seconds").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("etype", F.col("w.start").alias("ws"), "n")
        .collect()
    }
    assert got == want


def test_csas_where_then_aggregate(events_ctx):
    """CREATE STREAM AS SELECT with a WHERE filter feeds a downstream CTAS
    (the derived stream is a topic), and UCASE translates."""
    events_ctx.execute(
        "CREATE STREAM big_ev AS SELECT event_id, ts, etype, value "
        "FROM ev WHERE value >= 4.0;"
    )
    events_ctx.execute(
        "CREATE TABLE big_counts AS SELECT etype, COUNT(*) AS n "
        "FROM big_ev WINDOW TUMBLING (SIZE 2 HOURS) GROUP BY etype;"
    )
    rows = events_ctx.execute("SELECT * FROM big_counts;").collect()
    # value >= 4 keeps ids with id%7 in {4,5,6}: 3 of every 7 -> well over 0
    assert sum(r["n"] for r in rows) == sum(1 for i in range(600) if i % 7 >= 4)
    up = events_ctx.execute(
        "SELECT DISTINCT UCASE('ok') AS u FROM ev;"
    ).collect()
    assert up[0]["u"] == "OK"


def test_window_without_rowtime_is_clear_error(spark):
    ctx = KsqlContext(spark)
    ctx.register_topic("t", spark.range(5).toDF("id"))
    ctx.execute("CREATE STREAM nots (id BIGINT) WITH (KAFKA_TOPIC='t');")
    with pytest.raises(ValueError, match="TIMESTAMP"):
        ctx.execute(
            "CREATE TABLE w AS SELECT COUNT(*) AS n FROM nots "
            "WINDOW TUMBLING (SIZE 1 HOURS) GROUP BY id;"
        )


def test_dialect_rewrites_preserve_string_literals(events_ctx):
    """Rewrites must never touch quoted literals: a literal containing
    UCASE(/COUNT_DISTINCT(/WINDOW TUMBLING stays byte-identical while the
    real function call around it still translates."""
    rows = events_ctx.execute(
        "SELECT DISTINCT UCASE('ucase(x) window tumbling (size 1 hours)') "
        "AS s FROM ev;"
    ).collect()
    assert rows[0]["s"] == "UCASE(X) WINDOW TUMBLING (SIZE 1 HOURS)"
    rows = events_ctx.execute(
        "SELECT DISTINCT 'COUNT_DISTINCT(a)' AS lit FROM ev;"
    ).collect()
    assert rows[0]["lit"] == "COUNT_DISTINCT(a)"


def test_csas_rowtime_survives_literal_from(events_ctx):
    """A string literal containing 'from x' must not hijack CSAS source
    detection — the derived stream keeps its event-time column and remains
    windowable."""
    events_ctx.execute(
        "CREATE STREAM tagged AS SELECT 'copied from nowhere' AS tag, "
        "event_id, ts, etype FROM ev;"
    )
    events_ctx.execute(
        "CREATE TABLE tagged_hourly AS SELECT etype, COUNT(*) AS n "
        "FROM tagged WINDOW TUMBLING (SIZE 1 HOURS) GROUP BY etype;"
    )
    rows = events_ctx.execute("SELECT * FROM tagged_hourly;").collect()
    assert sum(r["n"] for r in rows) == 600


# ------------------------------------------------- stream-table joins (r17)

CREATE_ORDERS_STREAM = """{
    "ksql": "CREATE STREAM orders_s (order_id BIGINT, hotel_id BIGINT, amount DOUBLE) WITH (KAFKA_TOPIC='orders_topic', VALUE_FORMAT='JSON');",
    "streamsProperties": {}
  }"""
CREATE_HOTELS_TABLE = """{
    "ksql": "CREATE TABLE hotel_t (hotel_id BIGINT PRIMARY KEY, tier VARCHAR, updated_at TIMESTAMP) WITH (KAFKA_TOPIC='hotel_changelog', VALUE_FORMAT='JSON', TIMESTAMP='updated_at');",
    "streamsProperties": {}
  }"""
JOIN_QUERY = """{
    "ksql": "SELECT o.order_id, o.hotel_id, o.amount, h.tier FROM orders_s o LEFT JOIN hotel_t h ON o.hotel_id = h.hotel_id EMIT CHANGES;",
    "streamsProperties": {}
  }"""


def _order_rows(n=400):
    # every 7th order references a hotel absent from the changelog so the
    # LEFT JOIN's null path is exercised
    return [
        (i, (i % 25) + (1000 if i % 7 == 0 else 0), float(i) * 1.5)
        for i in range(n)
    ]


def _changelog_rows():
    # three versions per hotel key at distinct update times — only the
    # latest tier may survive compaction
    import datetime as dt

    rows = []
    for h in range(25):
        for v in range(3):
            rows.append(
                (
                    h,
                    f"tier_{h}_v{v}",
                    dt.datetime(2024, 1, 1 + v, 12, 0, 0),
                )
            )
    return rows


@pytest.fixture()
def join_ctx(spark):
    ctx = KsqlContext(spark)
    ctx.register_topic(
        "orders_topic",
        spark.createDataFrame(
            _order_rows(), "order_id long, hotel_id long, amount double"
        ),
    )
    ctx.register_topic(
        "hotel_changelog",
        spark.createDataFrame(
            _changelog_rows(), "hotel_id long, tier string, updated_at timestamp"
        ),
    )
    return ctx


def test_source_table_compacts_changelog_to_latest_per_key(join_ctx):
    tbl = join_ctx.execute(CREATE_HOTELS_TABLE)
    rows = tbl.collect()
    assert len(rows) == 25  # one row per primary key
    assert all(r.tier.endswith("_v2") for r in rows)  # the latest version
    assert tbl.columns == ["hotel_id", "tier", "updated_at"]  # declared order


def test_stream_table_left_join_matches_duckdb(join_ctx):
    """The verbatim three-payload stream-table flow vs an INDEPENDENT
    DuckDB twin computing the same changelog compaction + LEFT JOIN."""
    import duckdb

    join_ctx.execute(CREATE_ORDERS_STREAM)
    join_ctx.execute(CREATE_HOTELS_TABLE)
    got = {
        (r.order_id, r.hotel_id, r.amount, r.tier)
        for r in join_ctx.execute(JOIN_QUERY).collect()
    }

    con = duckdb.connect()
    con.register(
        "orders_topic",
        join_ctx.execute("SELECT * FROM orders_s").toPandas(),
    )
    import pandas as pd

    con.register(
        "hotel_changelog",
        pd.DataFrame(
            _changelog_rows(), columns=["hotel_id", "tier", "updated_at"]
        ),
    )
    want = {
        tuple(row)
        for row in con.execute(
            """
            WITH latest AS (
              SELECT hotel_id, tier FROM (
                SELECT hotel_id, tier, row_number() OVER (
                  PARTITION BY hotel_id ORDER BY updated_at DESC) AS rn
                FROM hotel_changelog) WHERE rn = 1
            )
            SELECT o.order_id, o.hotel_id, o.amount, l.tier
            FROM orders_topic o LEFT JOIN latest l USING (hotel_id)
            """
        ).fetchall()
    }
    assert got == want
    assert any(t[3] is None for t in got)  # the null path fired


def test_stream_table_join_runs_as_stream_static(join_ctx, spark, tmp_path):
    """The SAME join payload over a genuinely STREAMING orders side:
    Spark's native stream-static join (table re-read per micro-batch, no
    state store) must produce exactly the batch join's rows."""
    import json as _json

    d = tmp_path / "orders_json"
    d.mkdir()
    rows = _order_rows()
    for part in range(4):
        with open(d / f"part{part}.json", "w") as fh:
            for r in rows[part::4]:
                fh.write(
                    _json.dumps(
                        {"order_id": r[0], "hotel_id": r[1], "amount": r[2]}
                    )
                    + "\n"
                )
    stream_src = (
        spark.readStream.schema("order_id long, hotel_id long, amount double")
        .json(str(d))
    )
    join_ctx.register_topic("orders_topic", stream_src)
    streamed = join_ctx.execute(CREATE_ORDERS_STREAM)
    assert streamed.isStreaming
    join_ctx.execute(CREATE_HOTELS_TABLE)
    joined = join_ctx.execute(JOIN_QUERY)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("kt_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM kt_join").collect()
    }
    # batch truth: same payloads over the batch registration
    batch_ctx = KsqlContext(spark)
    batch_ctx.register_topic(
        "orders_topic",
        spark.createDataFrame(
            rows, "order_id long, hotel_id long, amount double"
        ),
    )
    batch_ctx.register_topic(
        "hotel_changelog",
        spark.createDataFrame(
            _changelog_rows(), "hotel_id long, tier string, updated_at timestamp"
        ),
    )
    batch_ctx.execute(CREATE_ORDERS_STREAM)
    batch_ctx.execute(CREATE_HOTELS_TABLE)
    want = {tuple(r) for r in batch_ctx.execute(JOIN_QUERY).collect()}
    assert got == want and len(got) == len(rows)


def test_source_table_without_primary_key_is_clear_error(join_ctx):
    with pytest.raises(ValueError, match="PRIMARY KEY"):
        join_ctx.execute(
            "CREATE TABLE bad_t (hotel_id BIGINT, tier VARCHAR) "
            "WITH (KAFKA_TOPIC='hotel_changelog', VALUE_FORMAT='JSON');"
        )


def test_source_table_without_timestamp_projects_compacted_topic(join_ctx, spark):
    """No TIMESTAMP property: the topic is taken as already compacted —
    pure projection, no aggregate (offset order has no batch analog)."""
    pre = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "hotel_id long, tier string"
    )
    join_ctx.register_topic("hotel_compacted", pre)
    out = join_ctx.execute(
        "CREATE TABLE hc_t (hotel_id BIGINT PRIMARY KEY, tier VARCHAR) "
        "WITH (KAFKA_TOPIC='hotel_compacted', VALUE_FORMAT='JSON');"
    )
    assert {tuple(r) for r in out.collect()} == {(1, "gold"), (2, "silver")}


# ------------------------------------------- stream-stream WITHIN joins (r17)

CREATE_CLICKS = (
    "CREATE STREAM clicks_s (user_id BIGINT, cts TIMESTAMP) "
    "WITH (KAFKA_TOPIC='clicks_topic', VALUE_FORMAT='JSON', TIMESTAMP='cts');"
)
CREATE_VIEWS = (
    "CREATE STREAM views_s (user_id BIGINT, vts TIMESTAMP) "
    "WITH (KAFKA_TOPIC='views_topic', VALUE_FORMAT='JSON', TIMESTAMP='vts');"
)
WITHIN_QUERY = (
    "SELECT c.user_id, c.cts, v.vts FROM clicks_s c JOIN views_s v "
    "WITHIN 10 MINUTES ON c.user_id = v.user_id EMIT CHANGES;"
)


def _click_rows():
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    # user u clicks at +0, +25 min; views land at +5 (inside the band for
    # the first click only) and +70 (outside both)
    return (
        [(u, base + dt.timedelta(minutes=m)) for u in range(20) for m in (0, 25)],
        [(u, base + dt.timedelta(minutes=m)) for u in range(20) for m in (5, 70)],
    )


@pytest.fixture()
def within_ctx(spark):
    clicks, views = _click_rows()
    ctx = KsqlContext(spark)
    ctx.register_topic(
        "clicks_topic",
        spark.createDataFrame(clicks, "user_id long, cts timestamp"),
    )
    ctx.register_topic(
        "views_topic",
        spark.createDataFrame(views, "user_id long, vts timestamp"),
    )
    ctx.execute(CREATE_CLICKS)
    ctx.execute(CREATE_VIEWS)
    return ctx


def test_within_join_matches_duckdb(within_ctx):
    import duckdb
    import pandas as pd

    got = {tuple(r) for r in within_ctx.execute(WITHIN_QUERY).collect()}
    clicks, views = _click_rows()
    con = duckdb.connect()
    con.register("clicks_s", pd.DataFrame(clicks, columns=["user_id", "cts"]))
    con.register("views_s", pd.DataFrame(views, columns=["user_id", "vts"]))
    want = {
        tuple(row)
        for row in con.execute(
            "SELECT c.user_id, c.cts, v.vts FROM clicks_s c JOIN views_s v "
            "ON c.user_id = v.user_id AND c.cts BETWEEN "
            "v.vts - INTERVAL 10 MINUTE AND v.vts + INTERVAL 10 MINUTE"
        ).fetchall()
    }
    assert got == want
    # each user: click@0 x view@5 and click@25 x view@... 25-5=20 > 10, out;
    # 70-25=45, out -> exactly ONE pair per user
    assert len(got) == 20


def test_within_join_requires_event_time(spark):
    ctx = KsqlContext(spark)
    ctx.register_topic(
        "clicks_topic",
        spark.createDataFrame([(1,)], "user_id long"),
    )
    ctx.execute(
        "CREATE STREAM clicks_nt (user_id BIGINT) "
        "WITH (KAFKA_TOPIC='clicks_topic', VALUE_FORMAT='JSON');"
    )
    with pytest.raises(ValueError, match="event-time"):
        ctx.execute(
            "SELECT * FROM clicks_nt a JOIN clicks_nt b WITHIN 1 HOURS "
            "ON a.user_id = b.user_id;"
        )


def test_within_join_left_outer(within_ctx):
    """LEFT JOIN WITHIN keeps unmatched stream rows with NULLs."""
    rows = within_ctx.execute(
        "SELECT c.user_id, c.cts, v.vts FROM clicks_s c LEFT JOIN views_s v "
        "WITHIN 10 MINUTES ON c.user_id = v.user_id;"
    ).collect()
    matched = [r for r in rows if r.vts is not None]
    unmatched = [r for r in rows if r.vts is None]
    assert len(matched) == 20 and len(unmatched) == 20  # the +25min clicks


def test_within_join_runs_stream_stream(within_ctx, spark, tmp_path):
    """The SAME WITHIN payload over two genuinely STREAMING sides is
    Spark's native stream-stream join (the rewrite emits exactly the
    time-range condition it requires) and must reproduce the batch rows."""
    import json as _json

    # batch truth FIRST: temp views are session-global, so the streaming
    # registration below will repoint clicks_s/views_s at streaming DFs
    want = {tuple(r) for r in within_ctx.execute(WITHIN_QUERY).collect()}

    clicks, views = _click_rows()
    for name, rows, col in (
        ("clicks", clicks, "cts"),
        ("views", views, "vts"),
    ):
        d = tmp_path / name
        d.mkdir()
        for part in range(2):
            with open(d / f"p{part}.json", "w") as fh:
                for r in rows[part::2]:
                    fh.write(
                        _json.dumps(
                            {"user_id": r[0], col: r[1].isoformat(sep=" ")}
                        )
                        + "\n"
                    )
    ctx = KsqlContext(spark)
    ctx.register_topic(
        "clicks_topic",
        spark.readStream.schema("user_id long, cts timestamp").json(
            str(tmp_path / "clicks")
        ),
    )
    ctx.register_topic(
        "views_topic",
        spark.readStream.schema("user_id long, vts timestamp").json(
            str(tmp_path / "views")
        ),
    )
    ctx.execute(CREATE_CLICKS)
    ctx.execute(CREATE_VIEWS)
    joined = ctx.execute(WITHIN_QUERY)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_within")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM ss_within").collect()}
    assert got == want and len(got) == 20


def test_within_join_wm_views_memoized_not_leaked(spark, tmp_path):
    """ADVICE r19 #3: repeated WITHIN statements with the same watermark
    policy must reuse one __ksql_wm_N registration per side, not leak a
    fresh catalog temp view (plus its captured DataFrame) per statement."""
    import json as _json

    clicks, views = _click_rows()
    for name, rows, col in (
        ("clicks", clicks, "cts"),
        ("views", views, "vts"),
    ):
        d = tmp_path / name
        d.mkdir()
        with open(d / "p0.json", "w") as fh:
            for r in rows:
                fh.write(
                    _json.dumps(
                        {"user_id": r[0], col: r[1].isoformat(sep=" ")}
                    )
                    + "\n"
                )
    ctx = KsqlContext(spark)
    ctx.register_topic(
        "clicks_topic",
        spark.readStream.schema("user_id long, cts timestamp").json(
            str(tmp_path / "clicks")
        ),
    )
    ctx.register_topic(
        "views_topic",
        spark.readStream.schema("user_id long, vts timestamp").json(
            str(tmp_path / "views")
        ),
    )
    ctx.execute(CREATE_CLICKS)
    ctx.execute(CREATE_VIEWS)
    for _ in range(3):
        assert ctx.execute(WITHIN_QUERY).isStreaming
    # two streaming sides, one delay -> exactly two registrations total
    assert ctx._wm_n == 2 and len(ctx._wm_cache) == 2
    # a DIFFERENT delay is a different watermark policy -> fresh views
    ctx.execute(
        "SELECT c.user_id FROM clicks_s c JOIN views_s v "
        "WITHIN 5 MINUTES ON c.user_id = v.user_id EMIT CHANGES;"
    )
    assert ctx._wm_n == 4 and len(ctx._wm_cache) == 4


# -------------------------------------------------- round-18 additions

def test_source_table_missing_primary_key_column_is_clear_error(join_ctx):
    """ADVICE r17 #2: a PRIMARY KEY column absent from the topic must be
    rejected loudly, never NULL-filled (which would compact the whole
    changelog under one NULL key to a single row)."""
    with pytest.raises(ValueError, match="PRIMARY KEY column 'missing_key'"):
        join_ctx.execute(
            "CREATE TABLE bad_key_t (missing_key BIGINT PRIMARY KEY, "
            "tier VARCHAR, updated_at TIMESTAMP) "
            "WITH (KAFKA_TOPIC='hotel_changelog', VALUE_FORMAT='JSON', "
            "TIMESTAMP='updated_at');"
        )


def test_within_join_grace_period_batch_parity(within_ctx):
    """GRACE PERIOD bounds late-data acceptance only — batch evaluation
    (no late data) must return exactly the plain-WITHIN rows."""
    plain = {tuple(r) for r in within_ctx.execute(WITHIN_QUERY).collect()}
    graced = {
        tuple(r)
        for r in within_ctx.execute(
            "SELECT c.user_id, c.cts, v.vts FROM clicks_s c JOIN views_s v "
            "WITHIN 10 MINUTES GRACE PERIOD 2 MINUTES "
            "ON c.user_id = v.user_id EMIT CHANGES;"
        ).collect()
    }
    assert graced == plain and len(graced) == 20


def test_chained_windowed_join_is_clear_dialect_error(within_ctx):
    """ADVICE r17 #4: a second WITHIN the rewrite cannot parse must raise
    a dialect error, not leak raw WITHIN into Spark's parser."""
    with pytest.raises(ValueError, match="WITHIN"):
        within_ctx.execute(
            "SELECT * FROM clicks_s c JOIN views_s v WITHIN 10 MINUTES "
            "ON c.user_id = v.user_id JOIN views_s w WITHIN 5 MINUTES "
            "ON c.user_id = w.user_id;"
        )


def test_two_windowed_joins_in_subqueries_both_rewrite(within_ctx):
    """The rewrite LOOPS: two windowed joins in separate FROM clauses
    (subqueries) are both translated (ADVICE r17 #4)."""
    import duckdb
    import pandas as pd

    got = {
        tuple(r)
        for r in within_ctx.execute(
            "SELECT * FROM ("
            "SELECT c.user_id AS u FROM clicks_s c JOIN views_s v "
            "WITHIN 10 MINUTES ON c.user_id = v.user_id) a "
            "JOIN ("
            "SELECT c.user_id AS u FROM clicks_s c JOIN views_s v "
            "WITHIN 5 MINUTES ON c.user_id = v.user_id) b "
            "ON a.u = b.u;"
        ).collect()
    }
    clicks, views = _click_rows()
    con = duckdb.connect()
    con.register("clicks_s", pd.DataFrame(clicks, columns=["user_id", "cts"]))
    con.register("views_s", pd.DataFrame(views, columns=["user_id", "vts"]))
    want = {
        tuple(row)
        for row in con.execute(
            "SELECT * FROM ("
            "SELECT c.user_id AS u FROM clicks_s c JOIN views_s v "
            "ON c.user_id = v.user_id AND c.cts BETWEEN "
            "v.vts - INTERVAL 10 MINUTE AND v.vts + INTERVAL 10 MINUTE) a "
            "JOIN ("
            "SELECT c.user_id AS u FROM clicks_s c JOIN views_s v "
            "ON c.user_id = v.user_id AND c.cts BETWEEN "
            "v.vts - INTERVAL 5 MINUTE AND v.vts + INTERVAL 5 MINUTE) b "
            "ON a.u = b.u"
        ).fetchall()
    }
    assert got == want and len(got) == 20


def test_within_join_streaming_left_outer_with_watermark(spark, tmp_path):
    """Streaming LEFT JOIN WITHIN in append mode: impossible without
    watermarks (Spark rejects the query at start) — the rewrite now
    applies them to streaming sides (ADVICE r17 #3). A far-future
    sentinel row on each side pushes the watermark past every real row
    so unmatched clicks flush as NULL-padded results."""
    import datetime as dt
    import json as _json

    clicks, views = _click_rows()
    sentinel = dt.datetime(2024, 3, 3, 12, 0, 0)  # 2 days later
    clicks = clicks + [(999, sentinel)]
    views = views + [(999, sentinel)]
    for name, rows, col in (("clicks", clicks, "cts"), ("views", views, "vts")):
        d = tmp_path / name
        d.mkdir()
        # two files read as two micro-batches (maxFilesPerTrigger=1): the
        # sentinel lands in batch 2, advancing the watermark over batch 1
        bulk, tail = rows[:-1], rows[-1:]
        for fname, part in (("p0.json", bulk), ("p1_late.json", tail)):
            with open(d / fname, "w") as fh:
                for r in part:
                    fh.write(
                        _json.dumps(
                            {"user_id": r[0], col: r[1].isoformat(sep=" ")}
                        )
                        + "\n"
                    )
    ctx = KsqlContext(spark)
    for topic, sub, schema in (
        ("clicks_topic", "clicks", "user_id long, cts timestamp"),
        ("views_topic", "views", "user_id long, vts timestamp"),
    ):
        ctx.register_topic(
            topic,
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(tmp_path / sub)),
        )
    ctx.execute(CREATE_CLICKS)
    ctx.execute(CREATE_VIEWS)
    joined = ctx.execute(
        "SELECT c.user_id, c.cts, v.vts FROM clicks_s c LEFT JOIN views_s v "
        "WITHIN 10 MINUTES GRACE PERIOD 1 MINUTES ON c.user_id = v.user_id;"
    )
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_within_left")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows_out = spark.sql("SELECT * FROM ss_within_left").collect()
    matched = {(r.user_id, r.cts, r.vts) for r in rows_out if r.vts is not None}
    # batch truth for the matched set
    batch = KsqlContext(spark)
    batch.register_topic(
        "clicks_topic",
        spark.createDataFrame(clicks, "user_id long, cts timestamp"),
    )
    batch.register_topic(
        "views_topic",
        spark.createDataFrame(views, "user_id long, vts timestamp"),
    )
    batch.execute(CREATE_CLICKS)
    batch.execute(CREATE_VIEWS)
    want_matched = {
        (r.user_id, r.cts, r.vts)
        for r in batch.execute(WITHIN_QUERY).collect()
        if r.user_id != 999
    } | {(999, sentinel, sentinel)}
    assert matched == want_matched
    # the NULL path flushed once the sentinel advanced the watermark
    unmatched = {r.user_id for r in rows_out if r.vts is None}
    assert len(unmatched) == 20  # every user's +25min click


# --------------------------------------------------- table-table joins (r18)

CREATE_CAPACITY_TABLE = (
    "CREATE TABLE cap_t (hotel_id BIGINT PRIMARY KEY, rooms BIGINT, "
    "cap_at TIMESTAMP) WITH (KAFKA_TOPIC='capacity_changelog', "
    "VALUE_FORMAT='JSON', TIMESTAMP='cap_at');"
)
TT_JOIN_QUERY = (
    "SELECT h.hotel_id AS hotel_id, h.tier AS tier, c.rooms AS rooms "
    "FROM hotel_t h LEFT JOIN cap_t c ON h.hotel_id = c.hotel_id "
    "EMIT CHANGES;"
)


def _capacity_rows():
    # two versions per hotel for keys 0..19 (keys 20..24 missing so the
    # LEFT JOIN null path fires); latest version carries rooms = key*10+1
    import datetime as dt

    rows = []
    for h in range(20):
        for v in range(2):
            rows.append(
                (h, h * 10 + v, dt.datetime(2024, 2, 1 + v, 9, 0, 0))
            )
    return rows


def test_table_table_join_matches_duckdb(join_ctx, spark):
    """ksqlDB table-table join: both sides changelog-compacted, joined on
    the primary key — vs an INDEPENDENT DuckDB twin doing the same two
    compactions + LEFT JOIN."""
    import duckdb
    import pandas as pd

    join_ctx.register_topic(
        "capacity_changelog",
        spark.createDataFrame(
            _capacity_rows(), "hotel_id long, rooms long, cap_at timestamp"
        ),
    )
    join_ctx.execute(CREATE_HOTELS_TABLE)
    join_ctx.execute(CREATE_CAPACITY_TABLE)
    got = {
        (r.hotel_id, r.tier, r.rooms)
        for r in join_ctx.execute(TT_JOIN_QUERY).collect()
    }
    con = duckdb.connect()
    con.register(
        "hotel_changelog",
        pd.DataFrame(
            _changelog_rows(), columns=["hotel_id", "tier", "updated_at"]
        ),
    )
    con.register(
        "capacity_changelog",
        pd.DataFrame(
            _capacity_rows(), columns=["hotel_id", "rooms", "cap_at"]
        ),
    )
    want = {
        tuple(row)
        for row in con.execute(
            """
            WITH h AS (
              SELECT hotel_id, tier FROM (
                SELECT hotel_id, tier, row_number() OVER (
                  PARTITION BY hotel_id ORDER BY updated_at DESC) rn
                FROM hotel_changelog) WHERE rn = 1),
            c AS (
              SELECT hotel_id, rooms FROM (
                SELECT hotel_id, rooms, row_number() OVER (
                  PARTITION BY hotel_id ORDER BY cap_at DESC) rn
                FROM capacity_changelog) WHERE rn = 1)
            SELECT h.hotel_id, h.tier, c.rooms
            FROM h LEFT JOIN c USING (hotel_id)
            """
        ).fetchall()
    }
    assert got == want and len(got) == 25
    assert any(t[2] is None for t in got)  # keys 20..24: null path fired


def test_table_table_join_with_streaming_changelog(join_ctx, spark, tmp_path):
    """A REAL streaming changelog behind one table side: the source-table
    DDL materializes the max_by compaction via a complete-mode memory
    sink; the table-table join is a pull query over current state and
    UPDATES when the changelog grows (process_available)."""
    import datetime as dt
    import json as _json

    d = tmp_path / "cap_stream"
    d.mkdir()
    rows = _capacity_rows()
    with open(d / "p0.json", "w") as fh:
        for r in rows:
            fh.write(
                _json.dumps(
                    {
                        "hotel_id": r[0],
                        "rooms": r[1],
                        "cap_at": r[2].isoformat(sep=" "),
                    }
                )
                + "\n"
            )
    join_ctx.register_topic(
        "capacity_changelog",
        spark.readStream.schema("hotel_id long, rooms long, cap_at timestamp")
        .json(str(d)),
    )
    join_ctx.execute(CREATE_HOTELS_TABLE)
    try:
        tbl = join_ctx.execute(CREATE_CAPACITY_TABLE)
        assert not tbl.isStreaming  # the materialized (pull-query) view
        got = {
            (r.hotel_id, r.tier, r.rooms)
            for r in join_ctx.execute(TT_JOIN_QUERY).collect()
        }
        assert len(got) == 25
        assert {(h, r) for h, _, r in got if r is not None} == {
            (h, h * 10 + 1) for h in range(20)  # latest version per key
        }
        # the changelog grows: hotel 20 gains capacity; the SAME pull
        # query reflects it after process_available
        with open(d / "p1.json", "w") as fh:
            fh.write(
                _json.dumps(
                    {
                        "hotel_id": 20,
                        "rooms": 777,
                        "cap_at": dt.datetime(
                            2024, 2, 5, 9, 0, 0
                        ).isoformat(sep=" "),
                    }
                )
                + "\n"
            )
        join_ctx.process_available()
        got2 = {
            (r.hotel_id, r.rooms)
            for r in join_ctx.execute(TT_JOIN_QUERY).collect()
        }
        assert (20, 777) in got2 and len(got2) == 25
    finally:
        join_ctx.stop_all()


# ------------------------------------ PARTITION BY / *_BY_OFFSET (r18)

def test_csas_partition_by_rekeys_without_changing_rows(events_ctx, spark):
    """ksql's CSAS re-keying clause: same rows, and the plan carries a
    hashpartitioning exchange on the new key (downstream keyed aggs
    reuse it)."""
    out = events_ctx.execute(
        "CREATE STREAM ev_by_type AS SELECT event_id, ts, etype FROM ev "
        "PARTITION BY etype EMIT CHANGES;"
    )
    want = {
        tuple(r)
        for r in events_ctx.execute(
            "SELECT event_id, ts, etype FROM ev;"
        ).collect()
    }
    assert {tuple(r) for r in out.collect()} == want
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning(etype" in plan


def test_csas_partition_by_unselected_column_is_clear_error(events_ctx):
    with pytest.raises(ValueError, match="PARTITION BY"):
        events_ctx.execute(
            "CREATE STREAM ev_bad AS SELECT event_id FROM ev "
            "PARTITION BY etype;"
        )


def test_latest_earliest_by_offset_match_duckdb(join_ctx, spark):
    """LATEST/EARLIEST_BY_OFFSET over the changelog stream vs a DuckDB
    max_by/min_by twin on the declared event time."""
    import duckdb
    import pandas as pd

    join_ctx.execute(
        "CREATE STREAM hotel_cl (hotel_id BIGINT, tier VARCHAR, "
        "updated_at TIMESTAMP) WITH (KAFKA_TOPIC='hotel_changelog', "
        "VALUE_FORMAT='JSON', TIMESTAMP='updated_at');"
    )
    got = {
        (r.hotel_id, r.latest_tier, r.first_tier)
        for r in join_ctx.execute(
            "CREATE TABLE hotel_latest AS SELECT hotel_id, "
            "LATEST_BY_OFFSET(tier) AS latest_tier, "
            "EARLIEST_BY_OFFSET(tier) AS first_tier "
            "FROM hotel_cl GROUP BY hotel_id;"
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "cl",
        pd.DataFrame(
            _changelog_rows(), columns=["hotel_id", "tier", "updated_at"]
        ),
    )
    want = {
        tuple(r)
        for r in con.execute(
            "SELECT hotel_id, max_by(tier, updated_at), "
            "min_by(tier, updated_at) FROM cl GROUP BY hotel_id"
        ).fetchall()
    }
    assert got == want and len(got) == 25


def test_by_offset_without_event_time_is_clear_error(ksql_ctx):
    ksql_ctx.execute(CREATE_STREAM)  # expedia_stream declares no TIMESTAMP
    with pytest.raises(ValueError, match="offset order has no batch"):
        ksql_ctx.execute(
            "SELECT stay_category, LATEST_BY_OFFSET(hotel_id) "
            "FROM expedia_stream GROUP BY stay_category;"
        )


# --------------------------------------- r18 review-finding regressions

def test_by_offset_ignores_function_internal_from(join_ctx):
    """EXTRACT(YEAR FROM ts) must not hijack source resolution: the
    rowtime comes from the first FROM that names a declared view."""
    join_ctx.execute(
        "CREATE STREAM hotel_cl2 (hotel_id BIGINT, tier VARCHAR, "
        "updated_at TIMESTAMP) WITH (KAFKA_TOPIC='hotel_changelog', "
        "VALUE_FORMAT='JSON', TIMESTAMP='updated_at');"
    )
    rows = join_ctx.execute(
        "SELECT hotel_id, EXTRACT(YEAR FROM updated_at) AS y, "
        "LATEST_BY_OFFSET(tier) AS t "
        "FROM hotel_cl2 GROUP BY hotel_id, EXTRACT(YEAR FROM updated_at);"
    ).collect()
    assert len(rows) == 25 * 1 or len(rows) >= 25  # one row per key/year
    assert all(r.t.endswith("_v2") or r.t.endswith("_v1") or r.t.endswith("_v0") for r in rows)


def test_by_offset_over_join_is_clear_error(within_ctx):
    with pytest.raises(ValueError, match="JOIN is not translated"):
        within_ctx.execute(
            "SELECT c.user_id, LATEST_BY_OFFSET(v.vts) FROM clicks_s c "
            "JOIN views_s v WITHIN 10 MINUTES ON c.user_id = v.user_id "
            "GROUP BY c.user_id;"
        )


def test_column_named_within_passes_through(spark):
    """A bare identifier 'within' is not a windowed-join clause — the
    residual guard must not reject it (pre-r18 behavior preserved)."""
    ctx = KsqlContext(spark)
    ctx.register_topic(
        "w_topic", spark.createDataFrame([(1,)], "user_id long")
    )
    ctx.execute(
        "CREATE STREAM w_s (user_id BIGINT) "
        "WITH (KAFKA_TOPIC='w_topic', VALUE_FORMAT='JSON');"
    )
    rows = ctx.execute(
        "SELECT user_id AS within FROM w_s;"
    ).collect()
    assert [r["within"] for r in rows] == [1]


def test_partition_by_expression_is_clear_dialect_error(events_ctx):
    with pytest.raises(ValueError, match="bare column name"):
        events_ctx.execute(
            "CREATE STREAM ev_exp AS SELECT event_id, etype FROM ev "
            "PARTITION BY UCASE(etype);"
        )


def test_csas_with_over_partition_by_still_passes_through(events_ctx):
    """ANSI window functions inside a CSAS use OVER (PARTITION BY ...) —
    that is NOT ksql's re-keying clause and must keep working."""
    out = events_ctx.execute(
        "CREATE STREAM ev_ranked AS SELECT event_id, etype, "
        "row_number() OVER (PARTITION BY etype ORDER BY ts) AS rn "
        "FROM ev;"
    )
    assert out.count() == 600


def test_within_watermark_is_per_statement(spark, tmp_path):
    """ADVICE r18 #2: a WITHIN join's watermark lives on a JOIN-LOCAL
    __ksql_wm_N view — the original stream view never mutates, so a later
    statement over the same stream (a second join with a different
    GRACE, or a plain aggregate) inherits no earlier join's lateness
    bound."""
    src = spark.readStream.format("rate").load().selectExpr(
        "value AS user_id", "timestamp AS cts"
    )
    ctx = KsqlContext(spark)
    ctx.register_topic("clicks_topic", src)
    ctx.register_topic("views_topic", src.selectExpr(
        "user_id", "cts AS vts"
    ))
    ctx.execute(CREATE_CLICKS)
    ctx.execute(CREATE_VIEWS)
    views_before = dict(ctx._views)
    sql1 = ctx._rewrite_select(
        "SELECT * FROM clicks_s c JOIN views_s v WITHIN 10 MINUTES "
        "ON c.user_id = v.user_id"
    )
    sql2 = ctx._rewrite_select(
        "SELECT * FROM clicks_s c JOIN views_s v WITHIN 5 MINUTES "
        "GRACE PERIOD 1 MINUTES ON c.user_id = v.user_id"
    )
    # the FROM clause reads join-local watermark views, not the originals
    assert "__ksql_wm_" in sql1 and "__ksql_wm_" in sql2
    assert re.search(r"\bFROM\s+clicks_s\b", sql1) is None
    # the registered views are untouched (same objects, no watermark)
    assert ctx._views == views_before
    assert "EventTimeWatermark" not in ctx._views["clicks_s"]._jdf \
        .queryExecution().analyzed().toString()
    # each statement's local view carries ITS OWN delay: 10 min for the
    # first join, 1 min (the GRACE) for the second — independent, not
    # monotone-merged
    plans = {
        name: spark.table(name)._jdf.queryExecution().analyzed().toString()
        for name in re.findall(r"__ksql_wm_\d+", sql1 + " " + sql2)
    }
    wm1 = [plans[n] for n in re.findall(r"__ksql_wm_\d+", sql1)]
    wm2 = [plans[n] for n in re.findall(r"__ksql_wm_\d+", sql2)]
    assert all("10 minutes" in p for p in wm1), wm1
    assert all("1 minutes" in p for p in wm2), wm2


def test_plain_aggregate_after_within_join_sees_unwatermarked_view(
    spark,
):
    """The concrete regression ADVICE r18 #2 names: after a WITHIN join,
    a plain query over the same stream must evaluate over the ORIGINAL
    (un-watermarked) view — in batch, all rows stay visible."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    clicks, views = _click_rows()
    ctx = KsqlContext(spark)
    ctx.register_topic(
        "clicks_topic",
        spark.createDataFrame(clicks, "user_id long, cts timestamp"),
    )
    ctx.register_topic(
        "views_topic",
        spark.createDataFrame(views, "user_id long, vts timestamp"),
    )
    ctx.execute(CREATE_CLICKS)
    ctx.execute(CREATE_VIEWS)
    ctx.execute(WITHIN_QUERY).collect()
    n = ctx.execute("SELECT COUNT(*) AS n FROM clicks_s;").collect()[0].n
    assert n == len(clicks)


# ------------------------------------------- TOPK / HISTOGRAM (r19, VERDICT #4)


def test_topk_matches_duckdb(events_ctx):
    """TOPK(value, k) per group vs an independent DuckDB list_slice/
    list_sort twin — descending, duplicates kept, nulls skipped."""
    import duckdb

    events_ctx.execute(
        "CREATE TABLE tk AS SELECT etype, TOPK(value, 4) AS tv "
        "FROM ev GROUP BY etype;"
    )
    got = {
        r["etype"]: list(r["tv"])
        for r in events_ctx.execute("SELECT * FROM tk;").collect()
    }
    pdf = events_ctx.execute("SELECT * FROM ev").toPandas()
    con = duckdb.connect()
    con.register("ev", pdf)
    want = {
        row[0]: list(row[1])
        for row in con.execute(
            "SELECT etype, list_slice(list_sort(list(value) FILTER "
            "(WHERE value IS NOT NULL), 'DESC'), 1, 4) FROM ev GROUP BY etype"
        ).fetchall()
    }
    assert got == want
    assert len(got) == 3 and all(len(v) == 4 for v in got.values())


def test_topk_canonical_form_gets_two_phase_preprune(events_ctx):
    """The canonical batch TOPK statement pre-prunes with the salted
    (keys, spark_partition_id) two-phase shape — no corpus-wide window;
    the pruned and unpruned spellings agree row-for-row."""
    sql = events_ctx._rewrite_select(
        "SELECT etype, TOPK(value, 3) AS tv FROM ev GROUP BY etype"
    )
    assert "__ksql_pid" in sql and "__ksql_rn" in sql
    assert "PARTITION BY etype, __ksql_pid" in sql
    pruned = {
        r["etype"]: list(r["tv"])
        for r in events_ctx.spark.sql(sql).collect()
    }
    unpruned = {
        r["etype"]: list(r["tv"])
        for r in events_ctx.spark.sql(
            "SELECT etype, slice(sort_array(collect_list(value), false), "
            "1, 3) AS tv FROM ev GROUP BY etype"
        ).collect()
    }
    assert pruned == unpruned


def test_topk_with_other_aggregate_skips_preprune_but_stays_correct(
    events_ctx,
):
    """COUNT(*) beside TOPK: pre-pruning would corrupt the count, so the
    pure expression form runs — and both results stay exact."""
    import duckdb

    sql = events_ctx._rewrite_select(
        "SELECT etype, COUNT(*) AS n, TOPK(value, 2) AS tv "
        "FROM ev GROUP BY etype"
    )
    assert "__ksql_pid" not in sql
    got = {
        r["etype"]: (r["n"], list(r["tv"]))
        for r in events_ctx.spark.sql(sql).collect()
    }
    pdf = events_ctx.execute("SELECT * FROM ev").toPandas()
    con = duckdb.connect()
    con.register("ev", pdf)
    want = {
        row[0]: (row[1], list(row[2]))
        for row in con.execute(
            "SELECT etype, count(*), list_slice(list_sort(list(value) "
            "FILTER (WHERE value IS NOT NULL), 'DESC'), 1, 2) "
            "FROM ev GROUP BY etype"
        ).fetchall()
    }
    assert got == want


def test_topk_streaming_matches_batch(events_ctx, spark, tmp_path):
    """TOPK over a genuinely STREAMING registration (no pre-prune —
    window functions are unsupported on streams; the plain aggregate
    expression runs) must reproduce the batch rows."""
    import json as _json

    want = {
        r["etype"]: list(r["tv"])
        for r in events_ctx.execute(
            "SELECT etype, TOPK(value, 4) AS tv FROM ev GROUP BY etype;"
        ).collect()
    }
    rows = events_ctx.execute("SELECT * FROM ev").collect()
    d = tmp_path / "ev"
    d.mkdir()
    for part in range(2):
        with open(d / f"p{part}.json", "w") as fh:
            for r in rows[part::2]:
                fh.write(
                    _json.dumps(
                        {
                            "event_id": r.event_id,
                            "ts": r.ts.isoformat(sep=" "),
                            "etype": r.etype,
                            "value": r.value,
                        }
                    )
                    + "\n"
                )
    ctx = KsqlContext(spark)
    ctx.register_topic(
        "sev_topic",
        spark.readStream.schema(
            "event_id long, ts timestamp, etype int, value double"
        ).json(str(d)),
    )
    ctx.execute(
        "CREATE STREAM sev (event_id BIGINT, ts TIMESTAMP, etype INTEGER, "
        "value DOUBLE) WITH (KAFKA_TOPIC='sev_topic', VALUE_FORMAT='JSON', "
        "TIMESTAMP='ts');"
    )
    sql = ctx._rewrite_select(
        "SELECT etype, TOPK(value, 4) AS tv FROM sev GROUP BY etype"
    )
    assert "__ksql_pid" not in sql  # streaming: no pre-prune
    out = spark.sql(sql)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("tk_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["etype"]: list(r["tv"])
        for r in spark.sql("SELECT * FROM tk_stream").collect()
    }
    assert got == want


def test_topk_non_literal_form_is_clear_error(events_ctx):
    with pytest.raises(ValueError, match="TOPK"):
        events_ctx.execute(
            "SELECT etype, TOPK(value + 1, 3) FROM ev GROUP BY etype;"
        )


def test_topk_k_zero_is_clear_error(events_ctx):
    """ksqlDB rejects k < 1; a silent slice(..., 1, 0) would hide the
    caller's mistake behind an empty array (ADVICE r19 #2)."""
    with pytest.raises(ValueError, match="k must be >= 1"):
        events_ctx.execute(
            "SELECT etype, TOPK(value, 0) AS tv FROM ev GROUP BY etype;"
        )
    with pytest.raises(ValueError, match="k must be >= 1"):
        events_ctx.execute(
            "SELECT etype, TOPKDISTINCT(value, 0) AS tv FROM ev "
            "GROUP BY etype;"
        )


def test_topk_ordinal_group_by_skips_preprune_and_stays_correct(events_ctx):
    """ADVICE r19 #1: 'GROUP BY 1' is an ordinal Spark's groupByOrdinal
    resolves to a column, but a window spec treats the 1 as a CONSTANT —
    so the pre-prune gate must refuse ordinals (identifier keys only)
    and fall back to the correct unpruned aggregate expression."""
    sql = events_ctx._rewrite_select(
        "SELECT etype, TOPK(value, 3) AS tv FROM ev GROUP BY 1"
    )
    assert "__ksql_pid" not in sql and "__ksql_rn" not in sql
    got = {
        r["etype"]: list(r["tv"])
        for r in events_ctx.spark.sql(sql).collect()
    }
    want = {
        r["etype"]: list(r["tv"])
        for r in events_ctx.spark.sql(
            "SELECT etype, slice(sort_array(collect_list(value), false), "
            "1, 3) AS tv FROM ev GROUP BY etype"
        ).collect()
    }
    assert got == want and len(got) == 3


def test_histogram_matches_duckdb(events_ctx):
    """HISTOGRAM(col) per group vs an independent DuckDB (key, value)
    count twin — exact counts, NULL values skipped."""
    import duckdb

    events_ctx.execute(
        "CREATE TABLE eh AS SELECT etype, HISTOGRAM(value) AS h "
        "FROM ev WHERE value < 5 GROUP BY etype;"
    )
    got = {
        r["etype"]: dict(r["h"])
        for r in events_ctx.execute("SELECT * FROM eh;").collect()
    }
    pdf = events_ctx.execute("SELECT * FROM ev").toPandas()
    con = duckdb.connect()
    con.register("ev", pdf)
    want: dict = {}
    for et, v, n in con.execute(
        "SELECT etype, value, count(*) FROM ev WHERE value < 5 AND value "
        "IS NOT NULL GROUP BY 1, 2"
    ).fetchall():
        want.setdefault(et, {})[v] = n
    assert got == want
    # per-type totals must re-add to the filtered row count
    assert sum(sum(h.values()) for h in got.values()) == con.execute(
        "SELECT count(*) FROM ev WHERE value < 5 AND value IS NOT NULL"
    ).fetchone()[0]


def test_histogram_non_canonical_is_clear_error(events_ctx):
    with pytest.raises(ValueError, match="plain grouped form"):
        events_ctx.execute(
            "SELECT etype, COUNT(*) AS n, HISTOGRAM(value) FROM ev "
            "GROUP BY etype;"
        )
    with pytest.raises(ValueError, match="one call per statement"):
        events_ctx.execute(
            "SELECT etype, HISTOGRAM(value) AS a, HISTOGRAM(event_id) AS b "
            "FROM ev GROUP BY etype;"
        )


def test_histogram_streaming_is_clear_error_and_decomposes(
    spark, tmp_path
):
    """A streaming HISTOGRAM raises the decomposition hint; following it
    — stream the (key, value) counts (the changelog state), then
    assemble the map from the snapshot — reproduces the batch map."""
    import json as _json

    rows = [(i, f"t{i % 3}", i % 4) for i in range(40)]
    d = tmp_path / "hv"
    d.mkdir()
    with open(d / "p0.json", "w") as fh:
        for eid, et, b in rows:
            fh.write(
                _json.dumps({"event_id": eid, "etype": et, "bucket": b})
                + "\n"
            )
    ctx = KsqlContext(spark)
    stream = spark.readStream.schema(
        "event_id long, etype string, bucket int"
    ).json(str(d))
    ctx.register_topic("hv_topic", stream)
    ctx.execute(
        "CREATE STREAM hv (event_id BIGINT, etype VARCHAR, bucket INTEGER) "
        "WITH (KAFKA_TOPIC='hv_topic', VALUE_FORMAT='JSON');"
    )
    with pytest.raises(ValueError, match="STREAMING source"):
        ctx.execute(
            "SELECT bucket, HISTOGRAM(etype) FROM hv GROUP BY bucket;"
        )
    # the decomposition: counts changelog as a streaming CTAS...
    counts = ctx.execute(
        "CREATE TABLE hv_counts AS SELECT bucket, etype, COUNT(*) AS n "
        "FROM hv GROUP BY bucket, etype;"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("hv_counts_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # ...then the map assembles from the snapshot (a pull query)
    got = {
        r["bucket"]: dict(r["h"])
        for r in spark.sql(
            "SELECT bucket, map_from_entries(sort_array(collect_list("
            "struct(etype, n)))) AS h FROM hv_counts_sink GROUP BY bucket"
        ).collect()
    }
    # batch truth over the same rows through the dialect itself
    ctx2 = KsqlContext(spark)
    ctx2.register_topic(
        "hv_topic_b",
        spark.createDataFrame(rows, "event_id long, etype string, bucket int"),
    )
    ctx2.execute(
        "CREATE STREAM hvb (event_id BIGINT, etype VARCHAR, bucket INTEGER) "
        "WITH (KAFKA_TOPIC='hv_topic_b', VALUE_FORMAT='JSON');"
    )
    want = {
        r["bucket"]: dict(r["h"])
        for r in ctx2.execute(
            "SELECT bucket, HISTOGRAM(etype) AS h FROM hvb GROUP BY bucket;"
        ).collect()
    }
    assert got == want and len(got) == 4


# ------------------------------- windowed-CTAS GRACE PERIOD (r19, ROADMAP #4)


def test_windowed_ctas_grace_period_batch_parity(events_ctx):
    """GRACE PERIOD in the window property list parses for all three
    window kinds and never changes batch results (no late data)."""
    events_ctx.execute(
        "CREATE TABLE per_hour_g AS SELECT etype, WINDOWSTART AS ws, "
        "COUNT(*) AS n FROM ev "
        "WINDOW TUMBLING (SIZE 1 HOURS, GRACE PERIOD 10 MINUTES) "
        "GROUP BY etype;"
    )
    events_ctx.execute(
        "CREATE TABLE per_hour_ng AS SELECT etype, WINDOWSTART AS ws, "
        "COUNT(*) AS n FROM ev WINDOW TUMBLING (SIZE 1 HOURS) "
        "GROUP BY etype;"
    )
    g = {
        (r.etype, r.ws): r.n
        for r in events_ctx.execute("SELECT * FROM per_hour_g;").collect()
    }
    ng = {
        (r.etype, r.ws): r.n
        for r in events_ctx.execute("SELECT * FROM per_hour_ng;").collect()
    }
    assert g == ng and len(g) >= 24
    # session spelling parses with grace too
    out = events_ctx.execute(
        "SELECT etype, WINDOWSTART AS ws, COUNT(*) AS n FROM ev "
        "WINDOW SESSION (60 SECONDS, GRACE PERIOD 30 SECONDS) "
        "GROUP BY etype;"
    )
    assert out.count() > 0


def test_windowed_ctas_grace_period_streaming_watermark(spark, tmp_path):
    """Over a STREAMING source the windowed-CTAS grace becomes a
    statement-local watermark: the plan carries EventTimeWatermark with
    the grace delay, the original view stays unwatermarked, append-mode
    start succeeds (impossible without a watermark), and update-mode
    results equal batch."""
    import datetime as dt
    import json as _json

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=7 * i), i % 3) for i in range(40)
    ]
    d = tmp_path / "gev"
    d.mkdir()
    with open(d / "p0.json", "w") as fh:
        for eid, ts, et in rows:
            fh.write(
                _json.dumps(
                    {"event_id": eid, "ts": ts.isoformat(sep=" "), "etype": et}
                )
                + "\n"
            )
    ctx = KsqlContext(spark)
    ctx.register_topic(
        "gev_topic",
        spark.readStream.schema("event_id long, ts timestamp, etype int").json(
            str(d)
        ),
    )
    ctx.execute(
        "CREATE STREAM gev (event_id BIGINT, ts TIMESTAMP, etype INTEGER) "
        "WITH (KAFKA_TOPIC='gev_topic', VALUE_FORMAT='JSON', "
        "TIMESTAMP='ts');"
    )
    views_before = dict(ctx._views)
    out = ctx.execute(
        "CREATE TABLE ghourly AS SELECT etype, WINDOWSTART AS ws, "
        "COUNT(*) AS n FROM gev "
        "WINDOW TUMBLING (SIZE 1 HOURS, GRACE PERIOD 5 MINUTES) "
        "GROUP BY etype;"
    )
    assert out.isStreaming
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan and "5 minutes" in plan
    # the SOURCE view is untouched (the CTAS adds its own result view)
    assert ctx._views["gev"] is views_before["gev"]
    # append-mode start works (requires the watermark) ...
    qa = (
        out.writeStream.format("memory")
        .queryName("ghourly_append")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cka"))
        .trigger(availableNow=True)
        .start()
    )
    qa.awaitTermination(120)
    # ... and update-mode results equal the batch evaluation
    qu = (
        out.writeStream.format("memory")
        .queryName("ghourly_update")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cku"))
        .trigger(availableNow=True)
        .start()
    )
    qu.awaitTermination(120)
    got = {
        (r.etype, r.ws): r.n
        for r in spark.sql(
            "SELECT etype, ws, max(n) AS n FROM ghourly_update "
            "GROUP BY etype, ws"
        ).collect()
    }
    ctx2 = KsqlContext(spark)
    ctx2.register_topic(
        "gev_topic_b",
        spark.createDataFrame(rows, "event_id long, ts timestamp, etype int"),
    )
    ctx2.execute(
        "CREATE STREAM gevb (event_id BIGINT, ts TIMESTAMP, etype INTEGER) "
        "WITH (KAFKA_TOPIC='gev_topic_b', VALUE_FORMAT='JSON', "
        "TIMESTAMP='ts');"
    )
    want = {
        (r.etype, r.ws): r.n
        for r in ctx2.execute(
            "SELECT etype, WINDOWSTART AS ws, COUNT(*) AS n FROM gevb "
            "WINDOW TUMBLING (SIZE 1 HOURS) GROUP BY etype;"
        ).collect()
    }
    assert got == want
    # append emitted exactly the windows the final watermark passed —
    # a subset of (or equal to) the full window set, never extras
    appended = {
        (r.etype, r.ws)
        for r in spark.sql("SELECT * FROM ghourly_append").collect()
    }
    assert appended <= set(want)


def test_topkdistinct_matches_duckdb(events_ctx):
    """TOPKDISTINCT(value, k): the k largest DISTINCT values per group,
    descending — vs DuckDB list(DISTINCT)."""
    import duckdb

    got = {
        r["etype"]: list(r["tv"])
        for r in events_ctx.execute(
            "SELECT etype, TOPKDISTINCT(value, 4) AS tv FROM ev "
            "GROUP BY etype;"
        ).collect()
    }
    pdf = events_ctx.execute("SELECT * FROM ev").toPandas()
    con = duckdb.connect()
    con.register("ev", pdf)
    want = {
        row[0]: list(row[1])
        for row in con.execute(
            "SELECT etype, list_slice(list_sort(list(DISTINCT value) "
            "FILTER (WHERE value IS NOT NULL), 'DESC'), 1, 4) "
            "FROM ev GROUP BY etype"
        ).fetchall()
    }
    assert got == want
    # values are 0..6 doubles: the distinct top-4 sets are strictly
    # decreasing and duplicate-free (unlike TOPK's multiset)
    assert all(sorted(set(v), reverse=True) == v for v in got.values())


def test_topkdistinct_preprune_uses_dense_rank(events_ctx):
    """The distinct pre-prune must rank with dense_rank: a partition
    holding k duplicate rows of one value above a rarer value would
    evict it under row_number. Pruned == unpruned, pinned on a corpus
    where every partition is duplicate-heavy (values cycle 0..6)."""
    sql = events_ctx._rewrite_select(
        "SELECT etype, TOPKDISTINCT(value, 3) AS tv FROM ev GROUP BY etype"
    )
    assert "dense_rank()" in sql and "__ksql_pid" in sql
    pruned = {
        r["etype"]: list(r["tv"])
        for r in events_ctx.spark.sql(sql).collect()
    }
    unpruned = {
        r["etype"]: list(r["tv"])
        for r in events_ctx.spark.sql(
            "SELECT etype, slice(sort_array(collect_set(value), false), "
            "1, 3) AS tv FROM ev GROUP BY etype"
        ).collect()
    }
    assert pruned == unpruned


def test_topk_histogram_inside_string_literals_untouched(events_ctx):
    """Dialect rewrites are span-guided on the literal mask: 'TOPK(x, 3)'
    or 'HISTOGRAM(y)' INSIDE a string literal is data, not syntax."""
    rows = events_ctx.execute(
        "SELECT etype, 'TOPK(value, 3)' AS lit, TOPK(value, 2) AS tv "
        "FROM ev GROUP BY etype;"
    ).collect()
    assert all(r.lit == "TOPK(value, 3)" for r in rows)
    assert all(len(r.tv) == 2 for r in rows)
    rows2 = events_ctx.execute(
        "SELECT etype, 'HISTOGRAM(value)' AS lit FROM ev GROUP BY etype;"
    ).collect()
    assert all(r.lit == "HISTOGRAM(value)" for r in rows2)


def test_topk_lowercase_and_alias_forms(events_ctx):
    """Case-insensitive spellings and AS aliases translate like the
    canonical uppercase form."""
    got = {
        r["etype"]: list(r["low"])
        for r in events_ctx.execute(
            "select etype, topk(value, 3) as low from ev group by etype;"
        ).collect()
    }
    want = {
        r["etype"]: list(r["tv"])
        for r in events_ctx.execute(
            "SELECT etype, TOPK(value, 3) AS tv FROM ev GROUP BY etype;"
        ).collect()
    }
    assert got == want


# ------------------------------ materialization lifecycle and the pin rule


def _users_stream(spark, ctx, d):
    """Register a file-stream changelog topic over ``d`` (k, v, ts)."""
    ctx.register_topic(
        "users_topic",
        spark.readStream.schema("k long, v string, ts timestamp").json(str(d)),
    )


def _land_users(d, name, rows):
    import json as _json

    with open(d / name, "w") as fh:
        for k, v, day in rows:
            fh.write(
                _json.dumps({"k": k, "v": v, "ts": f"2024-01-0{day} 00:00:00"})
                + "\n"
            )


USERS_DDL = (
    "CREATE TABLE users_rt (k BIGINT PRIMARY KEY, v VARCHAR, ts TIMESTAMP) "
    "WITH (KAFKA_TOPIC='users_topic', TIMESTAMP='ts');"
)


def test_reissued_streaming_source_table_ddl_replaces_its_query(
    spark, tmp_path
):
    """The reference write path re-issues its DDL; for a streaming
    source table that must stop the name's query and start one new one,
    not fail on the query name."""
    d = tmp_path / "users"
    d.mkdir()
    _land_users(d, "p0.json", [(1, "a", 1), (2, "b", 1)])
    ctx = KsqlContext(spark)
    try:
        _users_stream(spark, ctx, d)
        ctx.execute(USERS_DDL)
        _land_users(d, "p1.json", [(1, "c", 2)])
        _users_stream(spark, ctx, d)
        tbl = ctx.execute(USERS_DDL)
        assert [q.name for q in spark.streams.active].count("users_rt") == 1
        assert sorted((r.k, r.v) for r in tbl.collect()) == [(1, "c"), (2, "b")]
    finally:
        ctx.stop_all()
    assert "users_rt" not in [q.name for q in spark.streams.active]


def test_ctas_stays_lazy_over_streaming_or_nondeterministic_plans(
    spark, tmp_path
):
    """Only a batch, deterministic plan over immutable leaves pins. A
    CTAS over a streaming source table's memory sink follows new
    micro-batches; a CTAS with a non-deterministic UDF re-runs per pull;
    the same CTAS with the UDF declared deterministic pins (control)."""
    from pyspark.sql import functions as F

    d = tmp_path / "users"
    d.mkdir()
    _land_users(d, "p0.json", [(1, "a", 1), (2, "b", 1)])
    probe = tmp_path / "probe.txt"
    probe.write_text("old")
    path = str(probe)
    spark.udf.register(
        "ksql_probe_nd",
        F.udf(lambda _: open(path).read(), "string").asNondeterministic(),
    )
    spark.udf.register(
        "ksql_probe_det", F.udf(lambda _: open(path).read(), "string")
    )
    ctx = KsqlContext(spark)
    ctx.register_topic("nd_topic", spark.range(6))
    ctx.execute(
        "CREATE STREAM nd (id BIGINT) WITH (KAFKA_TOPIC='nd_topic', "
        "VALUE_FORMAT='JSON');"
    )

    def probe_values(table: str) -> set[str]:
        return {r.p for r in ctx.execute(f"SELECT * FROM {table};").collect()}

    try:
        _users_stream(spark, ctx, d)
        ctx.execute(USERS_DDL)
        ctx.execute(
            "CREATE TABLE users_n AS SELECT COUNT(*) AS n FROM users_rt;"
        )
        assert ctx.execute("SELECT n FROM users_n;").first().n == 2
        _land_users(d, "p1.json", [(3, "c", 2)])
        ctx.process_available()
        assert ctx.execute("SELECT n FROM users_n;").first().n == 3

        for fn in ("nd", "det"):
            ctx.execute(
                f"CREATE TABLE probe_{fn} AS SELECT id % 2 AS k, "
                f"ksql_probe_{fn}(id) AS p FROM nd;"
            )
        assert probe_values("probe_nd") == probe_values("probe_det") == {"old"}
        probe.write_text("new")
        assert probe_values("probe_nd") == {"new"}
        assert probe_values("probe_det") == {"old"}
    finally:
        ctx.stop_all()


def test_ctas_with_time_functions_stays_lazy(spark):
    """Spark calls current_timestamp() deterministic, but its value moves
    between pulls, so a CTAS using it is not pinned: each pull
    re-evaluates it."""
    import time

    ctx = KsqlContext(spark)
    ctx.register_topic("clock_topic", spark.range(4))
    ctx.execute(
        "CREATE STREAM clock_s (id BIGINT) WITH (KAFKA_TOPIC='clock_topic', "
        "VALUE_FORMAT='JSON');"
    )
    ctx.execute(
        "CREATE TABLE clock_t AS SELECT id % 2 AS k, "
        "MAX(current_timestamp()) AS t FROM clock_s GROUP BY id % 2;"
    )

    def stamp():
        return ctx.execute("SELECT t FROM clock_t;").first().t

    first = stamp()
    time.sleep(0.05)
    assert stamp() > first
