"""flow_pull: the REST pull path over the batch reference flow.

Closed loop, one client. Seeded expedia JSON files are the topic
``expedia_ext`` (ingest + mask -> enrich, as ``flow.reference_flow_batch``
builds it); the reference's CREATE STREAM / CREATE TABLE payloads run over
``POST /ksql`` and every pull is ``POST /query`` ``SELECT * FROM
hotels_count``. One operation in ten is a write: one small file lands,
the topic is re-registered through ``KsqlContext.register_topic`` and both
DDL payloads are re-issued. Each pull must equal the generator's exact
``hotels_count`` for the files present at that moment.
"""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.request

import gen
import stats
from runtime import WORK, Checked, SparkProcess, Tracer, note

from m12_kafkastreams_python_azure_spark.flow import MASK, reference_flow_batch
from m12_kafkastreams_python_azure_spark.ksql import KsqlContext
from m12_kafkastreams_python_azure_spark.ksql_rest import KsqlRestServer
from m12_kafkastreams_python_azure_spark.operators.aggregate import hotels_count
from m12_kafkastreams_python_azure_spark.operators.enrich import enrich_expedia
from m12_kafkastreams_python_azure_spark.schemas import EXPEDIA_SCHEMA
from m12_kafkastreams_python_azure_spark.sources.readers import (
    mask_field,
    read_ingest_files,
)
from m12_kafkastreams_python_azure_spark.streaming.pipeline import (
    expedia_stream_projection,
)

# the reference's REST payloads (ci_cd/ksql/create_stream.json,
# create_table.json); the pull drops EMIT CHANGES
CREATE_STREAM = json.dumps({
    "ksql": "CREATE STREAM expedia_stream (id BIGINT, hotel_id BIGINT, "
    "stay_category VARCHAR) WITH (KAFKA_TOPIC='expedia_ext', VALUE_FORMAT='JSON');",
    "streamsProperties": {},
})
CREATE_TABLE = json.dumps({
    "ksql": "CREATE TABLE hotels_count AS SELECT stay_category, "
    "COUNT(hotel_id) AS hotels_amount, COUNT_DISTINCT(hotel_id) AS "
    "distinct_hotels FROM expedia_stream GROUP BY stay_category;",
    "streamsProperties": {},
})
PULL = json.dumps({"ksql": "SELECT * FROM hotels_count;", "streamsProperties": {}})

BASE_FILES = 10
BASE_ROWS = 1000  # rows per base file: a pull takes ~0.5 s at 4 cores
WRITE_ROWS = 50  # a write file is small next to the base input
WRITE_EVERY = 10
# pulls keep speeding up (JIT) for ~40 operations after the first
WARMUP_OPS = 40
PREFIX_ROUNDS = 6
PREFIXES = ("scan", "mask", "enrich", "project", "aggregate")
# the columns the full flow reads from the JSON scan
FLOW_READ = ["id", "srch_ci", "srch_co", "hotel_id"]


class TracedKsql(KsqlContext):
    """``KsqlContext`` whose ``execute`` runs in a span and, in a traced
    run, tags the calling thread's Spark jobs with the current operation's
    job group (the REST handler runs ``execute`` and the collect in one
    thread)."""

    def __init__(self, spark, tracer: Tracer):
        super().__init__(spark)
        self.tracer = tracer
        self.op: str | None = None

    def execute(self, payload_or_sql):
        if self.op is not None:
            self.spark.sparkContext.setJobGroup(self.op, self.op)
        kind = "ksql.ddl" if "CREATE " in payload_or_sql.upper() else "ksql.execute"
        with self.tracer.span(kind, self.op):
            return super().execute(payload_or_sql)


def _post(port: int, path: str, payload: str):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=payload.encode(),
        headers={"Content-Type": "application/vnd.ksql.v1+json"}, method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as err:  # a ksql error still has a JSON body
        return err.code, json.loads(err.read().decode())


def _pull_table(rows) -> dict[str, tuple[int, int]]:
    return {r["row"]["columns"][0]: tuple(r["row"]["columns"][1:3]) for r in rows}


class Workload(Checked):
    def __init__(self, proc: SparkProcess, seed: int, tracer: Tracer, traced_run: bool):
        super().__init__()
        self.spark = proc.spark
        self.tracer = tracer
        self.traced_run = traced_run
        self.dir = os.path.join(WORK, "ingest")
        os.makedirs(self.dir)
        self.feed = gen.ExpediaFeed(seed, self.dir)
        for _ in range(BASE_FILES):
            self.feed.next_file(BASE_ROWS)
        self.ctx = TracedKsql(self.spark, tracer)
        self.server = KsqlRestServer(self.ctx)
        self.ops = 0
        self.pulls: list[float] = []  # ms, every recorded pull
        self.writes: list[float] = []  # ms, every recorded write
        # traced run only: op tag -> ms, untraced pulls, in-process pulls
        self.traced_pulls: dict[str, float] = {}
        self.untraced_pulls: list[float] = []
        self.inproc_pulls: list[float] = []

    def _register(self) -> bool:
        raw = read_ingest_files(self.spark, self.dir, EXPEDIA_SCHEMA, fmt="json", mask=MASK)
        self.ctx.register_topic("expedia_ext", enrich_expedia(raw))
        ok = True
        for stmt in (CREATE_STREAM, CREATE_TABLE):
            status, out = _post(self.server.port, "/ksql", stmt)
            ok &= status == 200 and out[0].get("status") == "SUCCESS"
        return ok

    def setup(self) -> None:
        self.check(self._register(), "initial DDL")
        for _ in range(WARMUP_OPS):
            self.operation(record=False)

    def operation(self, record: bool, traced: bool = False) -> None:
        """One closed-loop operation: a write every ``WRITE_EVERY``-th,
        else a pull. Only the request is timed; checks come after."""
        i = self.ops
        self.ops += 1
        tag = f"{'t' if traced else 'u'}{i}"
        self.tracer.enabled = traced
        if self.traced_run:
            self.ctx.op = tag
        if i % WRITE_EVERY == WRITE_EVERY - 1:
            name, rows = self.feed.next_rows(WRITE_ROWS)
            t0 = time.perf_counter()
            with self.tracer.span("write", tag):
                gen.write_json_lines(os.path.join(self.dir, name), rows)
                ok = self._register()
            wall = (time.perf_counter() - t0) * 1000
            self.feed.expected.add_rows(rows)
            if record:
                self.writes.append(wall)
            self.check(ok, f"write {tag}")
            return
        t0 = time.perf_counter()
        with self.tracer.span("pull", tag):
            status, rows = _post(self.server.port, "/query", PULL)
        wall = (time.perf_counter() - t0) * 1000
        self.check(status == 200 and _pull_table(rows) == self.feed.expected.table(), f"pull {tag}")
        if not record:
            return
        self.pulls.append(wall)
        if not self.traced_run:
            return
        if not traced:
            self.untraced_pulls.append(wall)
            return
        self.traced_pulls[tag] = wall
        # the same statement in process: execute, then collect, so the
        # REST layer's own share can be split off
        tag = "p" + tag
        self.spark.sparkContext.setJobGroup(tag, tag)
        t0 = time.perf_counter()
        with self.tracer.span("inproc.execute", tag):
            df = KsqlContext.execute(self.ctx, PULL)
        with self.tracer.span("inproc.collect", tag):
            df.limit(self.server.max_rows + 1).collect()
        self.inproc_pulls.append((time.perf_counter() - t0) * 1000)

    def measure(self, seconds: float) -> None:
        """Closed loop for ``seconds``. In a traced run operations
        alternate untraced / traced, so the tracing overhead is the
        difference of the two pull-latency sets."""
        end = time.perf_counter() + seconds
        while time.perf_counter() < end:
            self.operation(record=True, traced=self.traced_run and self.ops % 2 == 1)
        self.tracer.enabled = self.traced_run

    def _prefix(self, n: str):
        """The flow built from the scan up to stage ``n``, selecting what
        later stages read, so every prefix reads the columns the full
        flow reads."""
        raw = read_ingest_files(self.spark, self.dir, EXPEDIA_SCHEMA, fmt="json")
        if n == "scan":
            return raw.select(*FLOW_READ)
        masked = mask_field(raw, *MASK)
        if n == "mask":
            return masked.select(*FLOW_READ, "date_time")
        enriched = enrich_expedia(masked)
        if n == "enrich":
            return enriched.select(*FLOW_READ, "stay_category")
        projected = expedia_stream_projection(enriched)
        return projected if n == "project" else hotels_count(projected)

    def flow_prefixes(self) -> dict[str, float]:
        """Marginal cost of each cumulative prefix of the batch flow
        (scan, +mask, +enrich, +project, +aggregate), construction
        included, against the wall of a direct ``reference_flow_batch``
        call. Checks that every prefix reads exactly the full flow's
        columns (else pruning makes an early prefix cost more than a later
        one) and that the marginals sum to within 10% of the direct wall."""
        plan = lambda df: df._jdf.queryExecution().executedPlan().toString()  # noqa: E731
        want = stats.read_schemas(plan(reference_flow_batch(self.spark, self.dir)))
        self.check(len(want) == 1 and all(
            stats.read_schemas(plan(self._prefix(n))) == want for n in PREFIXES
        ), "a flow prefix reads other columns than the full flow")
        marg: dict[str, list[float]] = {n: [] for n in PREFIXES}
        ratios: list[float] = []
        want_table = self.feed.expected.table()
        for k in range(PREFIX_ROUNDS):
            # the direct call runs first in even rounds and last in odd
            # ones, so a drift (the JIT still warming) cancels in the ratio
            if k % 2 == 0:
                direct = self._direct(want_table)
            prev = 0.0
            for n in PREFIXES:
                t0 = time.perf_counter()
                with self.tracer.span("flow." + n):
                    df = self._prefix(n)
                    if n == "aggregate":
                        rows = df.collect()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t = (time.perf_counter() - t0) * 1000
                marg[n].append(t - prev)
                prev = t
            self.check({x[0]: (x[1], x[2]) for x in rows} == want_table, "aggregate prefix")
            if k % 2 == 1:
                direct = self._direct(want_table)
            # the marginals of one round sum to its full-prefix wall
            ratios.append(prev / direct)
        out = {f"flow.{n}_ms": stats.median(v) for n, v in marg.items()}
        out["flow.stage_sum_ratio"] = stats.median(ratios)
        self.check(0.9 <= out["flow.stage_sum_ratio"] <= 1.1, "flow marginals off the direct wall")
        return out

    def _direct(self, want_table) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("flow.direct"):
            rows = reference_flow_batch(self.spark, self.dir).collect()
        wall = (time.perf_counter() - t0) * 1000
        self.check({x[0]: (x[1], x[2]) for x in rows} == want_table, "direct flow")
        return wall

    def close(self) -> None:
        self.server.close()


def run(proc: SparkProcess, seed: int, seconds: float, trace: bool, t_start: float) -> tuple[Workload, dict]:
    w = Workload(proc, seed, Tracer(enabled=False), traced_run=trace)
    try:
        w.setup()
        proc.full_gc()
        setup_s = time.perf_counter() - t_start
        w.measure(seconds)
        note(f"flow_pull: {len(w.pulls)} pulls, {len(w.writes)} writes in {seconds} s; "
             f"GC {proc.gc_seconds():.1f} s; pulls (ms): " + " ".join(f"{p:.0f}" for p in w.pulls))
        if not trace:
            return w, {
                "setup_s": (setup_s, "s"),
                "latency_p50_ms": (stats.median(w.pulls), "ms"),
                "latency_p75_ms": (stats.percentile(w.pulls, 75), "ms"),
                "peak_rss_mb": (proc.peak_rss_mb(), "MB"),
            }
        return w, w.flow_prefixes()
    finally:
        w.close()


def layer_metrics(w: Workload, flow: dict[str, float], events: list[dict]) -> dict[str, float]:
    work = stats.spark_work_by_group(events)
    per_op = [(work[tag], wall) for tag, wall in w.traced_pulls.items() if tag in work]

    def med(key: str) -> float:
        return stats.median([g[key] for g, _ in per_op])

    traced = stats.median(list(w.traced_pulls.values()))
    return {
        **flow,
        "ksql.execute_ms": stats.median(w.tracer.durations_ms("ksql.execute")),
        "ksql.ddl_ms": stats.median(w.tracer.durations_ms("ksql.ddl")),
        "ksql_rest.overhead_ms": traced - stats.median(w.inproc_pulls),
        "write.p50_ms": stats.median(w.writes),
        "pull.jobs": med("jobs"),
        "pull.stages": med("stages"),
        "pull.tasks": med("tasks"),
        "pull.executor_run_s": med("executor_run_s"),
        "pull.driver_ms": stats.median([wall - g["stage_wall_s"] * 1000 for g, wall in per_op]),
        "pull.shuffle_write_bytes": med("shuffle_write_bytes"),
        "trace.overhead_ms": traced - stats.median(w.untraced_pulls),
    }
