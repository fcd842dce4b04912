"""The reference's three REST payloads POSTed verbatim over HTTP to the
engine's ksql-compatible endpoints (reference: ci_cd/Makefile:112-127 drives
/ksql for the two DDL payloads and /query for the push query)."""

from __future__ import annotations

import gc
import json
import time
import urllib.request

import pytest

from m12_kafkastreams_python_azure_spark.ksql import KsqlContext
from m12_kafkastreams_python_azure_spark.ksql_rest import KsqlRestServer
from m12_kafkastreams_python_azure_spark.operators.enrich import enrich_expedia
from m12_kafkastreams_python_azure_spark.schemas import EXPEDIA_SCHEMA
from tests.fixtures import gen_expedia_rows
from tests.test_ksql import CREATE_STREAM, CREATE_TABLE, SELECT_HOTELS


@pytest.fixture(scope="module")
def rest(spark):
    ctx = KsqlContext(spark)
    raw = spark.createDataFrame(gen_expedia_rows(2000), EXPEDIA_SCHEMA)
    ctx.register_topic("expedia_ext", enrich_expedia(raw))
    server = KsqlRestServer(ctx)
    yield server
    server.close()


def _post(server, path, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        data=payload.encode(),
        headers={"Content-Type": "application/vnd.ksql.v1+json; charset=utf-8"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as err:  # 4xx still carries a JSON body
        return err.code, json.loads(err.read().decode())


def test_reference_rest_flow(rest, spark):
    status, out = _post(rest, "/ksql", CREATE_STREAM)
    assert status == 200 and out[0]["status"] == "SUCCESS"
    assert out[0]["columns"] == ["id", "hotel_id", "stay_category"]

    status, out = _post(rest, "/ksql", CREATE_TABLE)
    assert status == 200 and out[0]["status"] == "SUCCESS"

    status, rows = _post(rest, "/query", SELECT_HOTELS)
    assert status == 200
    got = {r["row"]["columns"][0]: tuple(r["row"]["columns"][1:]) for r in rows}
    assert len(got) == 5
    # independent check on one invariant: distinct <= amount per category
    assert all(d <= a for a, d in got.values())


def test_rest_error_is_ksql_shaped(rest):
    status, out = _post(
        rest, "/ksql",
        json.dumps({"ksql": "CREATE STREAM s (id BIGINT) WITH (KAFKA_TOPIC='missing', VALUE_FORMAT='JSON');"}),
    )
    assert status == 400
    assert out["@type"] == "statement_error" and "not registered" in out["message"]


def test_bare_sql_body_accepted(rest):
    """KsqlContext.execute accepts bare SQL; the REST layer must not 400 a
    statement it actually applied (response/side-effect agreement)."""
    status, out = _post(
        rest, "/ksql",
        "CREATE STREAM bare_s (id BIGINT, hotel_id BIGINT) "
        "WITH (KAFKA_TOPIC='expedia_ext', VALUE_FORMAT='JSON');",
    )
    assert status == 200 and out[0]["status"] == "SUCCESS"
    assert out[0]["columns"] == ["id", "hotel_id"]


def test_query_collect_is_capped(spark):
    """Any registered view is servable through /query, so the handler must
    never buffer unbounded rows on the driver: it fetches max_rows+1 via
    df.limit() (a CollectLimit in the Spark plan — the bound executes
    distributed, not post-hoc), returns max_rows, and appends a ksql-style
    finalMessage truncation marker."""
    from pyspark.sql import functions as F

    ctx = KsqlContext(spark)
    big = spark.range(100_000).select(
        F.col("id").alias("event_id"), (F.col("id") % 7).alias("bucket")
    )
    ctx.register_topic("big_topic", big)
    server = KsqlRestServer(ctx, max_rows=50)
    try:
        status, _ = _post(server, "/ksql", json.dumps({
            "ksql": "CREATE STREAM bigs (event_id BIGINT, bucket BIGINT) "
                    "WITH (KAFKA_TOPIC='big_topic', VALUE_FORMAT='JSON');",
            "streamsProperties": {},
        }))
        assert status == 200
        status, rows = _post(server, "/query", json.dumps({
            "ksql": "SELECT * FROM bigs;", "streamsProperties": {},
        }))
        assert status == 200
        assert len(rows) == 51  # 50 data rows + 1 truncation marker
        assert rows[-1]["finalMessage"] == "Query output truncated at 50 rows"
        assert all("row" in r for r in rows[:-1])

        # an under-cap result must NOT carry a marker
        status, rows = _post(server, "/query", json.dumps({
            "ksql": "SELECT bucket, COUNT(*) AS n FROM bigs GROUP BY bucket;",
            "streamsProperties": {},
        }))
        assert status == 200
        assert len(rows) == 7
        assert all("row" in r for r in rows)
    finally:
        server.close()


def test_query_serializes_timestamps(rest, spark):
    """/query must serialize temporal columns (windowed tables expose
    window.start as TIMESTAMP) instead of 400ing on json.dumps."""
    from pyspark.sql import functions as F

    ev = spark.range(10).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 600).alias("ts"),
    )
    rest.ctx.register_topic("ts_topic", ev)
    status, _ = _post(rest, "/ksql", json.dumps({
        "ksql": "CREATE STREAM tse (event_id BIGINT, ts TIMESTAMP) WITH "
                "(KAFKA_TOPIC='ts_topic', TIMESTAMP='ts');",
        "streamsProperties": {},
    }))
    assert status == 200
    status, _ = _post(rest, "/ksql", json.dumps({
        "ksql": "CREATE TABLE tcount AS SELECT WINDOWSTART AS ws, COUNT(*) "
                "AS n FROM tse WINDOW TUMBLING (SIZE 1 HOURS) GROUP BY 1;",
        "streamsProperties": {},
    }))
    assert status == 200
    status, rows = _post(rest, "/query", json.dumps({
        "ksql": "SELECT * FROM tcount;", "streamsProperties": {},
    }))
    assert status == 200
    assert sum(r["row"]["columns"][1] for r in rows) == 10
    assert all(isinstance(r["row"]["columns"][0], str) for r in rows)


# ------------------------------ pinned CTAS: DDL-time state, never stale


def _land(d, name: str, n: int, seed: int) -> None:
    """One seeded JSON-lines ingest file of ``n`` expedia rows."""
    with open(d / name, "w") as fh:
        for r in gen_expedia_rows(n, seed=seed):
            fh.write(json.dumps(r) + "\n")


def _flow_table(df) -> dict:
    return {r[0]: (r[1], r[2]) for r in df.collect()}


def _collect_garbage(spark) -> None:
    """A Python and a JVM collection, so Spark's ContextCleaner finds the
    pins that nothing reads any more."""
    gc.collect()
    spark._jvm.System.gc()


def _stored_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _new_stored_rdds(spark, before: set[int], settle_to: int) -> set[int]:
    """The RDDs stored since ``before``, once garbage collection has
    brought them down to ``settle_to`` (or 30 s have passed)."""
    deadline = time.monotonic() + 30
    while True:
        new = _stored_rdds(spark) - before
        if len(new) <= settle_to or time.monotonic() > deadline:
            return new
        _collect_garbage(spark)
        time.sleep(0.1)


class _FileFlow:
    """The reference write path over JSON files in ``d``: the topic is
    ingest + mask -> enrich over the directory, both DDL payloads go over
    ``/ksql`` and pulls over ``/query``."""

    def __init__(self, spark, d):
        self.spark, self.d = spark, d
        self.ctx = KsqlContext(spark)
        self.server = KsqlRestServer(self.ctx)

    def register(self) -> None:
        from m12_kafkastreams_python_azure_spark.flow import MASK
        from m12_kafkastreams_python_azure_spark.sources.readers import (
            read_ingest_files,
        )

        raw = read_ingest_files(self.spark, str(self.d), EXPEDIA_SCHEMA, mask=MASK)
        self.ctx.register_topic("expedia_ext", enrich_expedia(raw))
        for stmt in (CREATE_STREAM, CREATE_TABLE):
            assert _post(self.server, "/ksql", stmt)[0] == 200

    def pull(self) -> dict:
        status, rows = _post(self.server, "/query", SELECT_HOTELS)
        assert status == 200, rows
        return {r["row"]["columns"][0]: tuple(r["row"]["columns"][1:3]) for r in rows}

    def close(self) -> None:
        self.ctx.stop_all()
        self.server.close()


def test_pinned_table_is_never_stale_nor_served_to_other_plans(spark, tmp_path):
    """hotels_count over JSON files pins at DDL time. After a file lands,
    a fresh flow and a second context over the same directory see it (a
    persist()-based pin would plan-match the second context's CTAS and
    serve it the old counts); the table itself keeps its DDL-time state
    until both payloads are re-issued; re-issues leave one live pin once
    the released ones are collected, and none is left after stop_all."""
    from m12_kafkastreams_python_azure_spark.flow import reference_flow_batch

    d = tmp_path / "ingest"
    d.mkdir()
    for k in range(3):
        _land(d, f"part-{k}.json", 400, seed=k)
    before = _stored_rdds(spark)
    flow = _FileFlow(spark, d)
    try:
        flow.register()
        assert "hotels_count" in flow.ctx._materialized
        old = flow.pull()
        assert old == _flow_table(reference_flow_batch(spark, str(d)))
        assert sum(a for a, _ in old.values()) == 1200

        _land(d, "part-3.json", 300, seed=3)
        new = _flow_table(reference_flow_batch(spark, str(d)))
        assert sum(a for a, _ in new.values()) == 1500
        assert flow.pull() == old  # bound to its DDL-time listing
        # a second context's identical DDL plans the same query as the
        # live pin, over the same paths: it must not be served that pin
        other = _FileFlow(spark, d)
        try:
            other.register()
            assert other.pull() == new
        finally:
            other.close()

        for _ in range(3):
            flow.register()
            assert flow.pull() == new
            assert len(_new_stored_rdds(spark, before, 1)) == 1
    finally:
        flow.close()
    assert not _new_stored_rdds(spark, before, 0)


def test_concurrent_pulls_survive_reissued_ddl(spark, tmp_path):
    """Pull threads (more than cores) hammer /query while the write path
    lands files and re-issues both payloads: every pull succeeds and
    returns the table as of one of the DDLs."""
    import sys
    import threading

    from m12_kafkastreams_python_azure_spark.flow import reference_flow_batch

    d = tmp_path / "ingest"
    d.mkdir()
    _land(d, "part-0.json", 200, seed=0)
    flow = _FileFlow(spark, d)
    states = []
    results, errors = [], []
    done = threading.Event()

    def puller() -> None:
        while not done.is_set():
            try:
                results.append(flow.pull())
            except AssertionError as exc:
                errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    threads = [threading.Thread(target=puller) for _ in range(8)]
    try:
        flow.register()
        states.append(_flow_table(reference_flow_batch(spark, str(d))))
        for t in threads:
            t.start()
        for k in range(1, 4):
            _land(d, f"part-{k}.json", 50, seed=k)
            flow.register()
            states.append(_flow_table(reference_flow_batch(spark, str(d))))
    finally:
        done.set()
        for t in threads:
            t.join(120)
        sys.setswitchinterval(switch)
        flow.close()
    assert not any(t.is_alive() for t in threads)
    assert not errors and results
    assert all(r in states for r in results)


def test_reissued_pin_keeps_its_readers(spark, tmp_path):
    """Re-issuing a pinned table's DDL, here POSTed to /query, drops the
    context's hold on the old pin but not its readers': a lazy
    table-table join with a streaming source table, a TOPK table, a
    derived stream and a held DataFrame over the old pin still return
    their rows after garbage collection."""
    from tests.test_ksql import USERS_DDL, _land_users, _users_stream

    d = tmp_path / "users"
    d.mkdir()
    _land_users(d, "p0.json", [(0, "a", 1), (1, "b", 1)])
    ctx = KsqlContext(spark)
    server = KsqlRestServer(ctx)
    nums = (
        "CREATE STREAM nums (id BIGINT) WITH (KAFKA_TOPIC='nums_topic', "
        "VALUE_FORMAT='JSON');"
    )
    by_k = (
        "CREATE TABLE by_k AS SELECT id % 3 AS k, COUNT(*) AS n FROM nums "
        "GROUP BY id % 3;"
    )
    readers = {
        "joined": "CREATE TABLE joined AS SELECT b.k AS k, b.n AS n, "
        "u.v AS v FROM by_k b JOIN users_rt u ON b.k = u.k;",
        "top": "CREATE TABLE top AS SELECT k, TOPK(n, 2) AS tn FROM by_k "
        "GROUP BY k;",
        "derived": "CREATE STREAM derived AS SELECT k, n FROM by_k;",
    }

    def rows(table: str) -> list:
        status, out = _post(server, "/query", f"SELECT * FROM {table};")
        assert status == 200, out
        return sorted(r["row"]["columns"] for r in out)

    try:
        ctx.register_topic("nums_topic", spark.range(6))
        ctx.execute(nums)
        _users_stream(spark, ctx, d)
        ctx.execute(USERS_DDL)
        ctx.execute(by_k)
        assert "by_k" in ctx._materialized
        for stmt in readers.values():
            ctx.execute(stmt)
        held = ctx.execute("SELECT k, n FROM by_k;")
        want = {t: rows(t) for t in readers}
        assert want["joined"] == [[0, 2, "a"], [1, 2, "b"]]

        ctx.register_topic("nums_topic", spark.range(9))
        ctx.execute(nums)
        status, out = _post(server, "/query", by_k)
        assert status == 200, out
        assert rows("by_k") == [[0, 3], [1, 3], [2, 3]]
        _collect_garbage(spark)
        time.sleep(0.5)
        assert {t: rows(t) for t in readers} == want
        assert sorted(tuple(r) for r in held.collect()) == [(0, 2), (1, 2), (2, 2)]
    finally:
        ctx.stop_all()
        server.close()
