"""ksql-dialect entry point: run the reference's three REST payloads verbatim.

The reference drives ksqlDB over REST with exactly three statements
(reference: ci_cd/ksql/create_stream.json:2, create_table.json:2,
select_hotels.json:2; Makefile targets ci_cd/Makefile:112-127). This module
gives the same surface on Spark: ``KsqlContext.execute(payload_or_sql)``
accepts each payload's SQL string (ksql dialect) and maps it onto Spark SQL:

- ``CREATE STREAM name (cols...) WITH (KAFKA_TOPIC=..., VALUE_FORMAT=JSON)``
  -> schema-on-read projection over the registered source for that topic
  (a DataFrame registered under the topic name — batch or streaming), i.e.
  ksql's "stream = SQL view over a topic" semantics (SURVEY.md §1.1).
- ``CREATE TABLE name AS SELECT ... GROUP BY ...`` -> a materialized
  table when the analyzed plan allows it, else a lazy Spark SQL view.
  Pin rule: a plan that is batch, ``deterministic()``, free of time
  functions (``current_timestamp()``, ``now()``, ``current_date()`` ...)
  and whose every leaf (subqueries included) is an immutable relation —
  a path-based file scan, a ``LocalRelation``, a ``Range``, or a table
  this context already pinned — is computed ONCE at DDL time into a
  lineage-cut
  ``localCheckpoint`` and the view reads those rows: ksqlDB's persistent
  query keeping the aggregate in a state store, so a pull query reads
  state instead of re-running the flow. Lineage is cut on purpose: a
  ``persist()`` would let a later plan over the same paths match the
  cached result and serve it stale. Any other plan stays lazy and is
  re-evaluated per pull: memory-sink leaves of a streaming source table,
  the TOPK pre-prune (``spark_partition_id`` is non-deterministic), a
  non-deterministic UDF, a time function. Either way a CTAS is BOUND at
  DDL time to the file listing and topic DataFrame it reads: a new file
  or a re-registered topic shows up once the DDL is re-issued, never
  before — so pinning changes no result. Re-issuing the DDL only drops
  the context's hold on the old pin; a view, stream or DataFrame that
  still reads the old table keeps its rows, and Spark's ContextCleaner
  reclaims them when the last such reader is gone.
  ``COUNT_DISTINCT`` (ksql spelling) is rewritten to ANSI
  ``COUNT(DISTINCT ...)`` — exact in batch; the streaming variant lives in
  ``streaming.pipeline`` (approx HLL or exact two-phase, SURVEY.md §7).
- ``SELECT ... EMIT CHANGES`` -> the continuous form; in batch context the
  EMIT CHANGES suffix is stripped (a pull query over the tables as of
  their last DDL).

Beyond the reference's three statements, the dialect subset a typical ksql
deployment uses is also translated (widening drop-in compatibility):

- ``WINDOW TUMBLING (SIZE n UNIT)`` / ``WINDOW HOPPING (SIZE n UNIT,
  ADVANCE BY m UNIT)`` / ``WINDOW SESSION (n UNIT)`` in CTAS/CSAS
  -> Spark ``window(rowtime, ...)`` / ``session_window(rowtime, ...)``
  group keys. The stream's event-time column comes from the ksql
  ``WITH (TIMESTAMP='col')`` property (ksql's extractor config). The
  ``WINDOWSTART`` / ``WINDOWEND`` pseudo-columns map to ``window.start`` /
  ``window.end`` (divergence: ksql returns epoch-millis BIGINTs, we return
  proper timestamps). A ``GRACE PERIOD g UNIT`` inside the window
  property list is accepted everywhere: batch evaluation never depends
  on it (no late data), and over a STREAMING source it becomes a
  statement-local ``withWatermark(rowtime, g)`` view (the ``__ksql_wm_N``
  discipline) so window state is evicted g past the window close and
  append-mode emission works — ksqlDB's out-of-order acceptance bound.
- ``CREATE STREAM name AS SELECT ...`` (CSAS) -> derived stream: the
  result is registered as both a view and a topic, so downstream
  CREATE STREAM/TABLE statements can read it.
- ``WHERE`` clauses pass through (ANSI in both dialects);
  ``UCASE``/``LCASE`` are rewritten to ``upper``/``lower``.
- CSAS ``PARTITION BY col`` (ksql's re-keying clause) ->
  ``repartition(col)``: the DataFrame model has no message key, so
  co-locating rows by the new key is the Spark analog, and downstream
  keyed aggregations reuse the exchange.
- ``LATEST_BY_OFFSET(col)`` / ``EARLIEST_BY_OFFSET(col)`` ->
  ``max_by(col, rowtime)`` / ``min_by(col, rowtime)`` over the source's
  declared ``WITH (TIMESTAMP='col')`` event time (documented
  divergence: Kafka offset order has no batch analog — the declared
  event time is this engine's record order, the same choice the
  source-table changelog compaction makes).
- ``CREATE TABLE name (cols..., PRIMARY KEY marker) WITH (KAFKA_TOPIC=...,
  [TIMESTAMP='col'])`` — a SOURCE table over a changelog topic (ksqlDB's
  second table form, next to CTAS): the registered topic is compacted to
  the LATEST value per primary key. With a ``TIMESTAMP`` property the
  latest row per key is selected by that event-time column via one
  ``max_by(struct(...), rowtime)`` aggregate — a single partial-agg
  shuffle whose reducer state is ONE row per key, the changelog-compaction
  shape that scales with the key domain, never the update volume (no
  row_number window over the full history). Without ``TIMESTAMP`` the
  topic is taken as already compacted (one row per key — ksql's
  offset-order "latest" has no batch analog) and only projected.
  Equal-rowtime updates to the same key are tie-broken arbitrarily, just
  as ksql's offset order is outside the SQL contract.
- Stream-table joins: ``SELECT ... FROM stream s LEFT JOIN table t ON
  s.k = t.k [EMIT CHANGES]`` passes through to Spark SQL (ANSI in both
  dialects once EMIT CHANGES is stripped). When the stream side is a
  STREAMING DataFrame this is Spark's native stream-static join — the
  table side is re-read per micro-batch, no state store involved —
  matching ksqlDB's stream-table join semantics (each stream row joins
  the table's current state). Verbatim-payload parity with a DuckDB twin
  is pinned in tests/test_ksql.py.
- Stream-stream joins: ``FROM s1 a JOIN s2 b WITHIN n UNIT [GRACE
  PERIOD g UNIT] ON a.k = b.k`` (ksql's windowed join — rows pair only
  when their event times are within the window) rewrites to the same
  join with the WITHIN clause moved into the ON condition as a
  symmetric event-time band: ``ON (a.k = b.k) AND a.rt BETWEEN b.rt -
  INTERVAL n unit AND b.rt + INTERVAL n unit``, both rowtime columns
  taken from each side's ``WITH (TIMESTAMP='col')`` declaration. This
  is EXACTLY the time-range-condition form Spark's stream-stream join
  requires. When a join side is a STREAMING registration, the rewrite
  derives a JOIN-LOCAL watermarked view (``__ksql_wm_N``) from it and
  reads that in the FROM clause, aliased back to the original name when
  the statement declared no alias (ADVICE r18 #2 — watermark policy is
  per STATEMENT: the original view never mutates, so a later plain
  windowed aggregate over the same stream inherits no earlier join's
  lateness bound; registrations are memoized per (side, delay) so a
  long-lived context does not leak one temp view per statement —
  ADVICE r19 #3): the watermark delay is the GRACE PERIOD when
  declared, else the window size itself (ksqlDB's grace bounds
  out-of-order acceptance the same way), so streaming state really is
  watermark-bounded per key and streaming LEFT JOIN WITHIN works in
  append mode. GRACE PERIOD is a
  late-data acceptance bound only — in batch evaluation (no late data)
  it never changes results. A statement may contain SEVERAL windowed
  joins — the rewrite loops until none remain (ADVICE r17 #4) and
  raises a dialect error if an unparseable WITHIN survives. Scale
  shape: an equi-join on the key with a residual band predicate —
  shuffle by key, never a cartesian.
- ``TOPK(col, k)`` / ``TOPKDISTINCT(col, k)`` -> the k largest
  non-null values (resp. DISTINCT values) per group as a descending
  array (``slice(sort_array(collect_list|collect_set(col), false), 1,
  k)``), valid in any grouped context including windowed CTAS and
  streaming aggregations. For the canonical batch form (single TOPK,
  bare keys, no other aggregate) the source is PRE-PRUNED with a salted
  two-phase per-group top-k — phase 1 ranks within (keys,
  spark_partition_id()) — so the aggregate's state is bounded by
  k x partitions per group and no corpus-wide window runs (VERDICT
  r18 #4; the ``hash_sample_per_group`` shape).
- ``HISTOGRAM(col)`` -> a value->count map per group, via a two-level
  aggregation (count per (keys, value), then ``map_from_entries`` over
  the sorted entries). Canonical grouped form over a batch source only;
  a streaming source gets a clear dialect error pointing at the
  (key, value)-counts changelog decomposition. NULL values are not
  counted (map keys cannot be NULL — ksqlDB skips them too).
- Table-table joins: ``SELECT ... FROM t1 JOIN t2 ON t1.k = t2.k``
  over two (source or CTAS) tables evaluates over each table's CURRENT
  state — ksqlDB's table-table join semantics re-expressed as a pull
  query over materialized views. Batch tables are views (pinned or
  lazy, see CTAS above), so the join passes through to Spark SQL. A
  source table whose changelog topic is a STREAMING DataFrame is
  MATERIALIZED at DDL time: the same ``max_by(struct, rowtime)``
  compaction runs as a streaming aggregation into a complete-mode
  in-memory sink (Spark cannot join
  two streaming aggregations directly — the materialize-then-join
  split is the Spark-native spelling of ksqlDB's RocksDB-backed table
  join, and the memory table after each micro-batch IS the compacted
  table). ``process_available()`` advances all such materializations;
  joins then read the refreshed state. Re-issuing the DDL stops the
  name's running query before starting the new one. Pinned against a
  DuckDB twin AND run with a real streaming changelog in
  tests/test_ksql.py.

Only the dialect subset described above is translated; anything else
passes through to ``spark.sql`` untouched.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

_KSQL_TO_SPARK_TYPES = {
    "BIGINT": "BIGINT",
    "INTEGER": "INT",
    "INT": "INT",
    "VARCHAR": "STRING",
    "STRING": "STRING",
    "DOUBLE": "DOUBLE",
    "BOOLEAN": "BOOLEAN",
    "TIMESTAMP": "TIMESTAMP",
}

_CREATE_STREAM_RE = re.compile(
    r"CREATE\s+STREAM\s+(?P<name>\w+)\s*\((?P<cols>.*?)\)\s*"
    r"WITH\s*\((?P<props>.*?)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_TABLE_RE = re.compile(
    r"CREATE\s+TABLE\s+(?P<name>\w+)\s+AS\s+(?P<select>.*?);?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# source-table DDL (column list + WITH, no AS SELECT): ksqlDB's
# changelog-topic table form
_CREATE_TABLE_SOURCE_RE = re.compile(
    r"CREATE\s+TABLE\s+(?P<name>\w+)\s*\((?P<cols>.*?)\)\s*"
    r"WITH\s*\((?P<props>.*?)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_PRIMARY_KEY_RE = re.compile(r"\s+PRIMARY\s+KEY\s*$", re.IGNORECASE)
# windowed stream-stream join: FROM s1 [a] [INNER|LEFT [OUTER]|FULL
# [OUTER]] JOIN s2 [b] WITHIN n UNIT ON  (aliases must not swallow the
# join keywords / WITHIN — hence the lookaheads)
_JOIN_WITHIN_RE = re.compile(
    r"\bFROM\s+(?P<left>\w+)"
    r"(?:\s+(?!INNER\b|LEFT\b|FULL\b|JOIN\b)(?P<la>\w+))?\s+"
    r"(?P<jtype>(?:INNER\s+|LEFT\s+(?:OUTER\s+)?|FULL\s+(?:OUTER\s+)?)?)"
    r"JOIN\s+(?P<right>\w+)"
    r"(?:\s+(?!WITHIN\b)(?P<ra>\w+))?\s+"
    r"WITHIN\s+(?P<n>\d+)\s+(?P<unit>\w+)"
    r"(?:\s+GRACE\s+PERIOD\s+(?P<gn>\d+)\s+(?P<gunit>\w+))?"
    r"\s+ON\s+",
    re.IGNORECASE,
)
# a residual WINDOWED-JOIN clause (WITHIN <n> <unit>), NOT any bare
# identifier named 'within' — a column called within must keep passing
# through to Spark (r18 review finding #5)
_WITHIN_RESIDUAL_RE = re.compile(r"\bWITHIN\s+\d+\s+\w+", re.IGNORECASE)
_PARTITION_BY_RESIDUAL_RE = re.compile(
    r"\bPARTITION\s+BY\b", re.IGNORECASE
)
_CLAUSE_AFTER_ON_RE = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|EMIT|"
    r"(?:INNER\s+|LEFT\s+(?:OUTER\s+)?|FULL\s+(?:OUTER\s+)?)?JOIN)\b",
    re.IGNORECASE,
)
_CREATE_STREAM_AS_RE = re.compile(
    r"CREATE\s+STREAM\s+(?P<name>\w+)\s+AS\s+(?P<select>.*?);?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EMIT_CHANGES_RE = re.compile(r"\s+EMIT\s+CHANGES\s*", re.IGNORECASE)
_COUNT_DISTINCT_RE = re.compile(r"\bCOUNT_DISTINCT\s*\(", re.IGNORECASE)
# CSAS re-keying clause: PARTITION BY col at the statement tail (ksql
# grammar places it after WHERE, before EMIT CHANGES)
_PARTITION_BY_RE = re.compile(
    r"\s+PARTITION\s+BY\s+(?P<col>\w+)\s*(?=EMIT\b|;|\s*$)", re.IGNORECASE
)
# offset-ordered "latest/earliest value per group" aggregates; the
# common single-column spelling (a residual unparsed call raises)
_LATEST_BY_OFFSET_RE = re.compile(
    r"\b(?P<which>LATEST|EARLIEST)_BY_OFFSET\s*\(\s*(?P<col>\w+)\s*\)",
    re.IGNORECASE,
)
_BY_OFFSET_RESIDUAL_RE = re.compile(
    r"\b(?:LATEST|EARLIEST)_BY_OFFSET\b", re.IGNORECASE
)
# grouped top-k / histogram aggregates (ksqlDB built-in UDAFs)
_TOPK_RE = re.compile(
    r"\bTOPK\s*\(\s*(?P<col>\w+)\s*,\s*(?P<k>\d+)\s*\)", re.IGNORECASE
)
_TOPKDISTINCT_RE = re.compile(
    r"\bTOPKDISTINCT\s*\(\s*(?P<col>\w+)\s*,\s*(?P<k>\d+)\s*\)",
    re.IGNORECASE,
)
_TOPK_RESIDUAL_RE = re.compile(r"\bTOPK(?:DISTINCT)?\s*\(", re.IGNORECASE)
_HISTOGRAM_RESIDUAL_RE = re.compile(r"\bHISTOGRAM\s*\(", re.IGNORECASE)
_HISTOGRAM_ITEM_RE = re.compile(
    r"HISTOGRAM\s*\(\s*(?P<col>\w+)\s*\)(?:\s+AS\s+(?P<alias>\w+))?",
    re.IGNORECASE,
)
# the canonical grouped-aggregate statement shape: one source view, an
# optional WHERE, a GROUP BY — the form the TOPK pre-prune and the
# HISTOGRAM restructuring can splice safely
_CANON_AGG_RE = re.compile(
    r"^\s*SELECT\s+(?P<proj>.*?)\s+FROM\s+(?P<src>\w+)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"\s+GROUP\s+BY\s+(?P<keys>.*?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
# identifiers ONLY — \w+ also matched all-digit tokens, so 'GROUP BY 1'
# (an ordinal Spark's groupByOrdinal resolves to a column) passed the
# TOPK pre-prune gate while the generated 'PARTITION BY 1, __ksql_pid'
# treated the 1 as a CONSTANT (ordinals are not resolved in window
# specs), pruning top-k per spark-partition GLOBALLY instead of per
# group (ADVICE r19 #1). Ordinal keys now fall back to the unpruned —
# correct — expression form.
_BARE_KEYS_RE = re.compile(r"^\s*[A-Za-z_]\w*(\s*,\s*[A-Za-z_]\w*)*\s*$")
# aggregate calls whose value would change if rows were pre-pruned —
# their presence disables the TOPK two-phase optimization (the pure
# expression form stays correct)
_OTHER_AGG_RE = re.compile(
    r"\b(count|sum|avg|min|max|collect_list|collect_set|array_agg|"
    r"max_by|min_by|first|last|any_value|approx_count_distinct|"
    r"approx_percentile|stddev|stddev_pop|stddev_samp|variance|var_pop|"
    r"var_samp|percentile|percentile_approx|median|mode|skewness|"
    r"kurtosis|corr|covar_pop|covar_samp|bool_and|bool_or|every|"
    r"count_if|histogram|topkdistinct|topk)\s*\(",
    re.IGNORECASE,
)
_UCASE_RE = re.compile(r"\bUCASE\s*\(", re.IGNORECASE)
_LCASE_RE = re.compile(r"\bLCASE\s*\(", re.IGNORECASE)
_WINDOW_RE = re.compile(
    r"\bWINDOW\s+(?P<kind>TUMBLING|HOPPING|SESSION)\s*\((?P<props>[^)]*)\)\s*",
    re.IGNORECASE,
)
_FROM_RE = re.compile(r"\bFROM\s+(\w+)", re.IGNORECASE)
_GROUP_BY_RE = re.compile(r"\bGROUP\s+BY\s+", re.IGNORECASE)
_SIZE_RE = re.compile(r"\bSIZE\s+(\d+)\s+(\w+)", re.IGNORECASE)
_ADVANCE_RE = re.compile(r"\bADVANCE\s+BY\s+(\d+)\s+(\w+)", re.IGNORECASE)
_BARE_DURATION_RE = re.compile(r"^\s*(\d+)\s+(\w+)\s*$")
# GRACE PERIOD inside a WINDOW (...) property list — the windowed-CTAS
# grace spelling (ksqlDB: how long out-of-order rows are accepted into
# a window after it closes)
_WINDOW_GRACE_RE = re.compile(
    r",?\s*GRACE\s+PERIOD\s+(?P<gn>\d+)\s+(?P<gunit>\w+)", re.IGNORECASE
)


#: single-quoted SQL string literal (with '' escapes) — dialect rewrites
#: must never touch text inside one.
_LITERAL_RE = re.compile(r"'(?:[^']|'')*'")


def _mask(sql: str) -> str:
    """Length-preserving literal mask: every single-quoted literal's body
    becomes 'xxx…', so regex spans found on the mask index straight into
    the original string."""
    return _LITERAL_RE.sub(
        lambda mm: "'" + "x" * (len(mm.group(0)) - 2) + "'", sql
    )


def _seq(jseq) -> list:
    """A JVM Scala ``Seq`` as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


def _pinned_rdd(df: DataFrame):
    """The checkpointed JVM RDD behind a ``localCheckpoint`` result."""
    return df._jdf.queryExecution().analyzed().rdd()


def _map_outside_literals(sql: str, fn) -> str:
    """Apply ``fn`` to every segment of ``sql`` OUTSIDE single-quoted
    string literals, leaving the literals byte-identical — so a statement
    like ``SELECT 'UCASE(x)' FROM t`` keeps its literal while real
    ``UCASE(...)`` calls still translate."""
    out = []
    pos = 0
    for m in _LITERAL_RE.finditer(sql):
        out.append(fn(sql[pos : m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(fn(sql[pos:]))
    return "".join(out)


class KsqlContext:
    """Executes ksql-dialect statements against a SparkSession.

    Topics are modeled as registered DataFrames: ``register_topic("expedia_ext",
    df)`` is the analog of the topic existing on the broker. CREATE STREAM
    then projects its declared columns from that source (schema-on-read:
    undeclared fields are ignored), CREATE TABLE AS registers the aggregate
    under the table's name, and SELECT returns a DataFrame.

    Every DDL binds its name at DDL time to the topic DataFrames and file
    listings it reads. A CTAS whose plan is batch, deterministic, free of
    time functions and reads only immutable leaves (file scans, local
    rows, ranges, this context's own pinned tables) is pinned then:
    computed once into a lineage-cut ``localCheckpoint`` that pull queries
    read; any other CTAS stays a lazy view (module docstring). The context
    OWNS its materializations, one entry per name: the pinned DataFrame of
    a CTAS or the streaming query of a streaming source table. Re-issuing
    a name's DDL releases its previous entry: the query stops; the pin is
    forgotten, and Spark reclaims its rows once no view, stream or
    DataFrame reads them. ``stop_all`` releases every entry and drops the
    pinned tables' names; re-issue a table's DDL to read it again.
    """

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._topics: dict[str, DataFrame] = {}
        # event-time column per stream/view name (ksql WITH (TIMESTAMP=...))
        self._rowtime: dict[str, str] = {}
        # DataFrame behind each registered view (needed to derive a
        # watermarked join-local view at WITHIN-join rewrite time)
        self._views: dict[str, DataFrame] = {}
        # join-local watermark view counter (ADVICE r18 #2): each WITHIN
        # join registers its streaming sides under fresh __ksql_wm_N
        # names so watermark policy is PER STATEMENT — the original view
        # never mutates, and a later statement over the same stream
        # inherits no earlier join's lateness bound
        self._wm_n = 0
        # (side, rowtime, delay) -> (wm view name, source DataFrame):
        # repeated statements with the same watermark policy REUSE one
        # __ksql_wm_N registration instead of leaking a catalog temp
        # view (and its captured DataFrame) per statement (ADVICE r19
        # #3). The cached source DataFrame is compared by identity so a
        # re-registered view (new DataFrame under the same name) gets a
        # fresh watermark view, never a stale one.
        self._wm_cache: dict[tuple[str, str, str], tuple[str, DataFrame]] = {}
        # one materialization per name: the StreamingQuery of a streaming
        # source table, or the pinned DataFrame of a batch CTAS
        self._materialized: dict[str, StreamingQuery | DataFrame] = {}

    def _watermarked_view(self, side: str, delay: str) -> str:
        """Memoized statement-local watermark view over ``side``'s
        registered DataFrame (per-statement watermark policy — the
        original view never mutates)."""
        df = self._views[side]
        rt = self._rowtime[side]
        key = (side, rt, delay)
        hit = self._wm_cache.get(key)
        if hit is not None and hit[1] is df:
            return hit[0]
        self._wm_n += 1
        wmname = f"__ksql_wm_{self._wm_n}"
        df.withWatermark(rt, delay).createOrReplaceTempView(wmname)
        self._wm_cache[key] = (wmname, df)
        return wmname

    # -- topic registry (the "broker") ------------------------------------
    def register_topic(self, topic: str, df: DataFrame) -> None:
        self._topics[topic] = df

    # -- streaming-table lifecycle -----------------------------------------
    def process_available(self) -> None:
        """Advance every streaming source-table materialization to the end
        of its currently-available input (the test/pull-query barrier)."""
        for m in self._materialized.values():
            if isinstance(m, StreamingQuery):
                m.processAllAvailable()

    def stop_all(self) -> None:
        """Release every materialization: stop the streaming queries and
        drop the pinned tables' names."""
        for name, m in list(self._materialized.items()):
            self._release(name)
            if isinstance(m, DataFrame):
                self.spark.catalog.dropTempView(name)
                self._views.pop(name, None)

    def _release(self, name: str) -> None:
        """Drop the context's hold on ``name``'s materialization: stop its
        streaming query, or forget its pin. A pin is never unpersisted
        here: other plans may still read it (a lazy join, a TOPK table, a
        derived stream, a caller's DataFrame), and Spark's ContextCleaner
        reclaims its checkpoint once the last of them is gone."""
        m = self._materialized.pop(name, None)
        if isinstance(m, StreamingQuery):
            m.stop()

    def _bind(self, name: str, out: DataFrame) -> DataFrame:
        """Register ``out`` as the view ``name``, releasing the name's
        previous materialization: re-issued DDL replaces, never leaks."""
        self._release(name)
        out.createOrReplaceTempView(name)
        self._views[name] = out
        return out

    def _pinnable(self, df: DataFrame) -> bool:
        """The pin rule: ``df``'s analyzed plan, and every subquery in it,
        is batch, deterministic and free of time functions (Spark's
        ``CURRENT_LIKE`` pattern, which each pull would re-evaluate), and
        each leaf is an immutable relation — a path-based file scan (its
        listing is fixed when the DataFrame is built), local rows, a range,
        or one of this context's pins."""
        plan = df._jdf.queryExecution().analyzed()
        current_like = (
            self.spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        ).CURRENT_LIKE()
        pins = {
            _pinned_rdd(m).id()
            for m in list(self._materialized.values())
            if isinstance(m, DataFrame)
        }

        def immutable(leaf) -> bool:
            kind = leaf.getClass().getSimpleName()
            if kind == "LogicalRelation":
                return (
                    leaf.relation().getClass().getSimpleName()
                    == "HadoopFsRelation"
                    and leaf.catalogTable().isEmpty()
                )
            if kind == "LogicalRDD":
                return leaf.rdd().id() in pins
            return kind in ("LocalRelation", "Range")

        return all(
            not p.isStreaming()
            and p.deterministic()
            and not p.containsPattern(current_like)
            and all(immutable(leaf) for leaf in _seq(p.collectLeaves()))
            for p in [plan, *_seq(plan.subqueriesAll())]
        )

    # -- statement execution ----------------------------------------------
    def execute(self, payload_or_sql: str) -> DataFrame | None:
        """Accepts either the raw REST payload JSON ({"ksql": "..."}), as
        stored in the reference's ci_cd/ksql/*.json, or a bare SQL string."""
        sql = payload_or_sql.strip()
        if sql.startswith("{"):
            sql = json.loads(sql)["ksql"]
        sql = sql.strip()

        m = _CREATE_STREAM_RE.match(sql)
        if m:
            return self._create_stream(m["name"], m["cols"], m["props"])
        m = _CREATE_STREAM_AS_RE.match(sql)
        if m:
            return self._create_stream_as(m["name"], m["select"])
        # source-table DDL before CTAS: "CREATE TABLE t (cols) WITH (...)"
        # has no AS, so the CTAS regex can't claim it — but match it first
        # anyway so the more specific form wins by construction
        m = _CREATE_TABLE_SOURCE_RE.match(sql)
        if m:
            return self._create_table_source(m["name"], m["cols"], m["props"])
        m = _CREATE_TABLE_RE.match(sql)
        if m:
            return self._create_table(m["name"], m["select"])
        return self._select(sql)

    # -- handlers ----------------------------------------------------------
    def _create_stream(self, name: str, cols: str, props: str) -> DataFrame:
        topic = None
        rowtime = None
        for p in props.split(","):
            k, _, v = p.partition("=")
            if k.strip().upper() == "KAFKA_TOPIC":
                topic = v.strip().strip("'\"")
            elif k.strip().upper() == "TIMESTAMP":
                rowtime = v.strip().strip("'\"")
        if topic is None or topic not in self._topics:
            raise ValueError(
                f"CREATE STREAM {name}: topic {topic!r} not registered "
                f"(known: {sorted(self._topics)})"
            )
        src = self._topics[topic]
        # schema-on-read projection: only the declared columns, cast to the
        # declared types; declared-but-missing columns come back as NULLs
        # (ksql JSON semantics), extra source columns are dropped.
        exprs = []
        for colspec in cols.split(","):
            parts = colspec.split()
            cname, ctype = parts[0], _KSQL_TO_SPARK_TYPES[parts[1].upper()]
            if cname in src.columns:
                exprs.append(f"CAST({cname} AS {ctype}) AS {cname}")
            else:
                exprs.append(f"CAST(NULL AS {ctype}) AS {cname}")
        out = self._bind(name, src.selectExpr(*exprs))
        if rowtime is not None:
            if rowtime not in out.columns:
                raise ValueError(
                    f"CREATE STREAM {name}: TIMESTAMP column {rowtime!r} is "
                    f"not among the declared columns {out.columns}"
                )
            self._rowtime[name] = rowtime
        return out

    def _create_table_source(
        self, name: str, cols: str, props: str
    ) -> DataFrame:
        """Source-table DDL: the topic is a CHANGELOG; the table is the
        latest value per PRIMARY KEY. Compaction shape (scale note in the
        module docstring): one ``max_by(struct(non-key cols), rowtime)``
        aggregate keyed on the primary key — partial-aggregated map-side,
        reducer state bounded by the key domain. Without a TIMESTAMP
        property the topic is taken as already compacted and only
        projected (offset order has no batch analog)."""
        from pyspark.sql import functions as F

        topic = None
        rowtime = None
        for p in props.split(","):
            k, _, v = p.partition("=")
            if k.strip().upper() == "KAFKA_TOPIC":
                topic = v.strip().strip("'\"")
            elif k.strip().upper() == "TIMESTAMP":
                rowtime = v.strip().strip("'\"")
        if topic is None or topic not in self._topics:
            raise ValueError(
                f"CREATE TABLE {name}: topic {topic!r} not registered "
                f"(known: {sorted(self._topics)})"
            )
        src = self._topics[topic]
        exprs: list[str] = []
        declared: list[str] = []
        keys: list[str] = []
        for colspec in cols.split(","):
            spec = colspec.strip()
            stripped = _PRIMARY_KEY_RE.sub("", spec)
            parts = stripped.split()
            cname, ctype = parts[0], _KSQL_TO_SPARK_TYPES[parts[1].upper()]
            if stripped != spec:
                keys.append(cname)
                if cname not in src.columns:
                    # ADVICE r17 #2: NULL-filling a missing key would group
                    # the whole changelog under one NULL key and silently
                    # compact it to a single row; ksqlDB rejects a null
                    # primary key — so do we, loudly.
                    raise ValueError(
                        f"CREATE TABLE {name}: PRIMARY KEY column {cname!r} "
                        f"is absent from topic {topic!r}'s columns "
                        f"{src.columns} — a changelog key cannot be "
                        "NULL-filled"
                    )
            declared.append(cname)
            if cname in src.columns:
                exprs.append(f"CAST({cname} AS {ctype}) AS {cname}")
            else:
                exprs.append(f"CAST(NULL AS {ctype}) AS {cname}")
        if not keys:
            raise ValueError(
                f"CREATE TABLE {name}: a source table needs a PRIMARY KEY "
                "column (ksqlDB requires one too)"
            )
        out = src.selectExpr(*exprs)
        if rowtime is not None:
            if rowtime not in declared:
                raise ValueError(
                    f"CREATE TABLE {name}: TIMESTAMP column {rowtime!r} is "
                    f"not among the declared columns {declared}"
                )
            self._rowtime[name] = rowtime
            rest = [c for c in declared if c not in keys]
            out = (
                out.groupBy(*keys)
                .agg(
                    F.max_by(
                        F.struct(*rest), F.col(rowtime)
                    ).alias("_latest")
                )
                .select(*keys, *[f"_latest.{c}" for c in rest])
                .select(*declared)
            )
        if out.isStreaming:
            # streaming changelog topic: Spark cannot join a streaming
            # aggregation to anything else directly, so the table is
            # MATERIALIZED — the compaction runs as a streaming agg into a
            # complete-mode memory sink whose table after each micro-batch
            # IS the compacted state (the Spark-native spelling of
            # ksqlDB's RocksDB-backed table; module docstring). Pull
            # queries and table-table joins read the materialized view.
            if rowtime is None:
                raise ValueError(
                    f"CREATE TABLE {name}: a STREAMING changelog topic "
                    "needs WITH (TIMESTAMP='col') so compaction can pick "
                    "the latest row per key (offset order is not "
                    "observable from a DataFrame registration)"
                )
            # the memory sink registers the view under the query name,
            # so the name's previous query must stop first
            self._release(name)
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .start()
            )
            self._materialized[name] = q
            q.processAllAvailable()
            out = self.spark.table(name)
            self._views[name] = out
            return out
        return self._bind(name, out)

    def _create_table(self, name: str, select: str) -> DataFrame:
        """CTAS: pinned at DDL time when the pin rule allows, else a lazy
        view (module docstring)."""
        out = self.spark.sql(self._rewrite_select(select))
        if not self._pinnable(out):
            return self._bind(name, out)
        pinned = self._bind(name, out.localCheckpoint(eager=True))
        self._materialized[name] = pinned
        return pinned

    def _create_stream_as(self, name: str, select: str) -> DataFrame:
        """CSAS: a derived stream. Registered as both view and topic so it
        can feed further CREATE STREAM/TABLE statements, mirroring ksql
        writing the derived stream back to a topic. A trailing
        ``PARTITION BY col`` (ksql's re-keying clause) maps to
        ``repartition(col)`` — the DataFrame model has no message key, so
        co-locating rows by the new key is the Spark analog; downstream
        keyed aggregations then reuse the exchange."""
        part_col = None
        masked = _LITERAL_RE.sub(
            lambda mm: "'" + "x" * (len(mm.group(0)) - 2) + "'", select
        )
        pm = _PARTITION_BY_RE.search(masked)
        if pm:
            part_col = pm["col"]
            select = select[: pm.start()] + " " + select[pm.end():]
        elif any(
            not re.search(
                r"OVER\s*\(\s*$", masked[: m.start()], re.IGNORECASE
            )
            for m in _PARTITION_BY_RESIDUAL_RE.finditer(masked)
        ):
            # a ksql-legal form this dialect doesn't translate (an
            # expression or qualified column) must fail with a dialect
            # error, not leak raw PARTITION BY into Spark's parser
            # (r18 review finding #4). Window-function OVER (PARTITION
            # BY ...) is ANSI and passes through — only a PARTITION BY
            # outside an OVER( is ksql's re-keying clause.
            raise ValueError(
                f"CREATE STREAM {name}: PARTITION BY is only translated "
                "for a bare column name (ksql's re-keying clause); "
                "project the expression first, then PARTITION BY the "
                "alias: " + select
            )
        out = self.spark.sql(self._rewrite_select(select))
        if part_col is not None:
            if part_col not in out.columns:
                raise ValueError(
                    f"CREATE STREAM {name}: PARTITION BY column "
                    f"{part_col!r} is not in the projection {out.columns} "
                    "(ksql requires the key column to be selected)"
                )
            from pyspark.sql import functions as F

            out = out.repartition(F.col(part_col))
        self._bind(name, out)
        self._topics[name] = out
        # event time survives derivation if the source's rowtime column is
        # still present in the output (ksql keeps ROWTIME implicitly).
        # Search the literal-masked form so a string literal containing
        # 'FROM x' cannot hijack the source detection.
        src = _FROM_RE.search(
            _LITERAL_RE.sub(
                lambda mm: "'" + "x" * (len(mm.group(0)) - 2) + "'", select
            )
        )
        if src and src.group(1) in self._rowtime:
            rt = self._rowtime[src.group(1)]
            if rt in out.columns:
                self._rowtime[name] = rt
        return out

    # -- dialect rewriting --------------------------------------------------
    def _rewrite_select(self, select: str) -> str:
        def rewrite(seg: str) -> str:
            seg = _EMIT_CHANGES_RE.sub(" ", seg)
            seg = _COUNT_DISTINCT_RE.sub("COUNT(DISTINCT ", seg)
            seg = _UCASE_RE.sub("upper(", seg)
            return _LCASE_RE.sub("lower(", seg)

        select = _map_outside_literals(
            select.rstrip().rstrip(";"), rewrite
        )
        select = self._rewrite_by_offset(select)
        select = self._rewrite_within(self._rewrite_window(select))
        return self._rewrite_topk(self._rewrite_histogram(select))

    def _rewrite_by_offset(self, select: str) -> str:
        """``LATEST_BY_OFFSET(col)`` / ``EARLIEST_BY_OFFSET(col)`` ->
        ``max_by(col, rt)`` / ``min_by(col, rt)`` over the FROM source's
        declared event-time column. Divergence, documented: ksql orders
        by Kafka OFFSET, which has no batch analog — the declared
        ``WITH (TIMESTAMP='col')`` is this engine's record order (the
        same choice the source-table changelog compaction makes); equal
        event times tie-break arbitrarily, as ksql's offset order is
        outside the SQL contract."""
        masked = _LITERAL_RE.sub(
            lambda mm: "'" + "x" * (len(mm.group(0)) - 2) + "'", select
        )
        if not _BY_OFFSET_RESIDUAL_RE.search(masked):
            return select
        if re.search(r"\bJOIN\b", masked, re.IGNORECASE):
            # which side's record order applies is ambiguous in a join —
            # refuse rather than guess (r18 review finding #1)
            raise ValueError(
                "LATEST_BY_OFFSET/EARLIEST_BY_OFFSET over a JOIN is not "
                "translated: the aggregate's record order would be "
                "ambiguous across sides — compact each side first "
                "(source table / CSAS), then join"
            )
        if re.search(r"\bFROM\s+\w+(?:\s+\w+)?\s*,", masked, re.IGNORECASE):
            # comma-style join (FROM a, b) has no JOIN keyword but is just
            # as ambiguous (ADVICE r18 #1) — refuse it too
            raise ValueError(
                "LATEST_BY_OFFSET/EARLIEST_BY_OFFSET over a comma-style "
                "join (FROM a, b) is not translated: the aggregate's "
                "record order would be ambiguous across sides — compact "
                "each side first (source table / CSAS), then join"
            )
        # resolve the source among ALL 'FROM <ident>' matches: a FROM
        # inside a function call (EXTRACT(YEAR FROM ts)) names no view,
        # so take the match that resolves to a declared rowtime
        # (r18 review finding #1). If SEVERAL distinct sources resolve
        # (e.g. subqueries over two different streams), binding to the
        # first would silently pick a side — refuse (ADVICE r18 #1).
        rt_sources = []
        for fm in _FROM_RE.finditer(masked):
            src_name = fm.group(1)
            if src_name in self._rowtime and src_name not in rt_sources:
                rt_sources.append(src_name)
        if len(rt_sources) > 1:
            raise ValueError(
                "LATEST_BY_OFFSET/EARLIEST_BY_OFFSET: more than one FROM "
                f"source with a declared event time ({rt_sources}) — the "
                "aggregate's record order is ambiguous; aggregate each "
                "source in its own statement"
            )
        rt = self._rowtime[rt_sources[0]] if rt_sources else None
        if rt is None:
            raise ValueError(
                "LATEST_BY_OFFSET/EARLIEST_BY_OFFSET: the source has no "
                "event-time column — declare WITH (TIMESTAMP='col'); "
                "Kafka offset order has no batch analog, so the declared "
                "event time is the engine's record order"
            )

        def sub(seg: str) -> str:
            return _LATEST_BY_OFFSET_RE.sub(
                lambda m: (
                    ("max_by" if m["which"].upper() == "LATEST" else "min_by")
                    + f"({m['col']}, {rt})"
                ),
                seg,
            )

        out = _map_outside_literals(select, sub)
        if _BY_OFFSET_RESIDUAL_RE.search(
            _LITERAL_RE.sub(
                lambda mm: "'" + "x" * (len(mm.group(0)) - 2) + "'", out
            )
        ):
            raise ValueError(
                "LATEST/EARLIEST_BY_OFFSET: an unparseable spelling "
                "remains (only the single-column form is translated): "
                + select
            )
        return out

    def _rewrite_topk(self, select: str) -> str:
        """``TOPK(col, k)`` (ksqlDB's grouped top-k UDAF) -> the k largest
        non-null values per group, descending, duplicates kept — as
        ``slice(sort_array(collect_list(col), false), 1, k)``. Correct in
        ANY grouped context (windowed CTAS, joins, mixed aggregates,
        streaming aggregations).

        Scale shape (VERDICT r18 #4): for the canonical batch form —
        single TOPK, one registered source, bare GROUP BY keys, no other
        aggregate — the source is PRE-PRUNED with the salted two-phase
        top-k (the ``hash_sample_per_group`` shape): phase 1 ranks within
        (keys, spark_partition_id) and keeps <= k rows, so the final
        aggregate's per-group state is bounded by k x input-partitions
        instead of the group's full row count, and no corpus-wide window
        ever runs (phase 1's partition key includes the physical
        partition id — skewed groups spread over as many tasks as they
        have input partitions). Any globally-top-k row is top-k within
        its own partition, so the prune is lossless for the multiset of
        emitted values. Where the pre-prune cannot apply (streaming
        source — no window functions; other aggregates — pruning would
        corrupt them; expression keys), the pure aggregate expression
        runs unpruned: still sort-free in the plan sense (a per-group
        array sort at emit, no Sort/Window node, partial aggregation
        map-side)."""
        masked = _mask(select)
        # TOPKDISTINCT before TOPK: the former's name contains the
        # latter's, so collect its spans first and the TOPK scan below
        # cannot double-claim them (distinct spans by construction —
        # \bTOPK\( never matches inside TOPKDISTINCT()
        calls = [
            ("distinct", m) for m in _TOPKDISTINCT_RE.finditer(masked)
        ] + [("all", m) for m in _TOPK_RE.finditer(masked)]
        if not calls:
            if _TOPK_RESIDUAL_RE.search(masked):
                raise ValueError(
                    "TOPK/TOPKDISTINCT: only the (column, k-literal) form "
                    "is translated — project the expression first: "
                    + select
                )
            return select
        if len(calls) == 1:
            kind, m = calls[0]
            pruned = self._topk_preprune(select, masked, m, kind)
            if pruned is not None:
                select = pruned
                masked = _mask(select)
                calls = [
                    ("distinct", mm)
                    for mm in _TOPKDISTINCT_RE.finditer(masked)
                ] + [("all", mm) for mm in _TOPK_RE.finditer(masked)]
        for kind, m in sorted(calls, key=lambda c: -c[1].start()):
            if int(m["k"]) < 1:
                # ksqlDB rejects k < 1; a silent slice(..., 1, 0) would
                # return an empty array and hide the caller's mistake
                # (ADVICE r19 #2)
                raise ValueError(
                    "TOPK/TOPKDISTINCT: k must be >= 1, got "
                    f"{m['k']} in: " + select
                )
            agg = "collect_set" if kind == "distinct" else "collect_list"
            expr = (
                f"slice(sort_array({agg}({m['col']}), false), "
                f"1, {m['k']})"
            )
            select = select[: m.start()] + expr + select[m.end():]
        if _TOPK_RESIDUAL_RE.search(_mask(select)):
            raise ValueError(
                "TOPK/TOPKDISTINCT: an unparseable spelling remains (only "
                "the (column, k-literal) form is translated): " + select
            )
        return select

    def _topk_preprune(
        self, select: str, masked: str, call: re.Match, kind: str = "all"
    ) -> str | None:
        """The two-phase pre-prune rewrite for the canonical TOPK /
        TOPKDISTINCT shape; returns None when any safety condition fails
        (caller falls back to the pure expression form). TOPK prunes
        with row_number (any globally-top-k ROW is top-k in its own
        partition); TOPKDISTINCT must prune with dense_rank — a
        partition can hold k duplicate rows of one value ABOVE a rarer
        value that still belongs to the global top-k DISTINCT set, and
        row_number would evict it."""
        cm = _CANON_AGG_RE.match(masked)
        if not cm:
            return None
        src = cm["src"]
        df = self._views.get(src)
        if df is None or df.isStreaming:
            # unregistered source: don't guess; streaming source: window
            # functions are unsupported on streams (the plain expression
            # IS the streaming-safe form)
            return None
        keys = cm.group("keys")
        if not _BARE_KEYS_RE.match(keys):
            return None
        rest = masked[: call.start()] + masked[call.end():]
        if _OTHER_AGG_RE.search(rest):
            return None
        proj = select[cm.start("proj"): cm.end("proj")]
        where = (
            select[cm.start("where"): cm.end("where")]
            if cm["where"] is not None
            else None
        )
        keys = keys.strip()
        inner = f"SELECT *, spark_partition_id() AS __ksql_pid FROM {src}"
        if where:
            inner += f" WHERE {where}"
        rank_fn = "dense_rank" if kind == "distinct" else "row_number"
        prune = (
            f"(SELECT * FROM (SELECT *, {rank_fn}() OVER "
            f"(PARTITION BY {keys}, __ksql_pid ORDER BY {call['col']} DESC) "
            f"AS __ksql_rn FROM ({inner})) WHERE __ksql_rn <= {call['k']})"
        )
        return f"SELECT {proj} FROM {prune} GROUP BY {keys}"

    def _rewrite_histogram(self, select: str) -> str:
        """``HISTOGRAM(col)`` (ksqlDB's value->count map UDAF) -> a
        TWO-LEVEL aggregation: count per (keys, value) first — a plain
        partial-aggregated hash shuffle whose reducer state is ONE count
        per (group, value), the same state shape ksqlDB's own RocksDB
        map decomposes into — then assemble the map per group with
        ``map_from_entries`` over the (value, count) entries, sorted by
        value for deterministic iteration. NULL values are not counted
        (a map key cannot be NULL — ksqlDB skips them too).

        Translated only for the canonical grouped form ``SELECT <keys>,
        HISTOGRAM(col) [AS alias] FROM <view> [WHERE ...] GROUP BY
        <keys>`` (alias defaults to ``hist``), and only over a BATCH
        source: the nested aggregation is unsupported in a streaming
        query — materialize the (key, value) counts stream (the
        changelog state) and assemble the map with a pull query instead
        (tests/test_ksql.py demonstrates that decomposition). Anything
        else raises a dialect error rather than leaking HISTOGRAM to
        Spark's parser."""
        masked = _mask(select)
        if not _HISTOGRAM_RESIDUAL_RE.search(masked):
            return select
        err = (
            "HISTOGRAM is translated only for the plain grouped form "
            "'SELECT <keys>, HISTOGRAM(col) [AS alias] FROM <view> "
            "[WHERE ...] GROUP BY <keys>': "
        )
        cm = _CANON_AGG_RE.match(masked)
        if not cm or not _BARE_KEYS_RE.match(cm.group("keys")):
            raise ValueError(err + select)
        keys = [k.strip() for k in cm.group("keys").split(",")]
        keyset = {k.lower() for k in keys}
        proj = select[cm.start("proj"): cm.end("proj")]
        mproj = masked[cm.start("proj"): cm.end("proj")]
        # split the projection on top-level commas (mask-guided depth)
        items: list[str] = []
        depth, start = 0, 0
        for i, ch in enumerate(mproj):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                items.append(proj[start:i])
                start = i + 1
        items.append(proj[start:])
        out_items: list[str | None] = []
        hist: tuple[str, str] | None = None
        for item in items:
            it = item.strip()
            hm = _HISTOGRAM_ITEM_RE.fullmatch(it)
            if hm:
                if hist is not None:
                    raise ValueError(
                        "HISTOGRAM: one call per statement — materialize "
                        "each histogram in its own table: " + select
                    )
                hist = (hm["col"], hm["alias"] or "hist")
                out_items.append(None)
                continue
            km = re.fullmatch(r"(\w+)(\s+AS\s+\w+)?", it, re.IGNORECASE)
            if km and km.group(1).lower() in keyset:
                out_items.append(it)
                continue
            raise ValueError(err + select)
        if hist is None:
            raise ValueError(err + select)
        src = cm["src"]
        df = self._views.get(src)
        if df is not None and df.isStreaming:
            raise ValueError(
                "HISTOGRAM over a STREAMING source is not supported (a "
                "nested streaming aggregation): materialize the "
                "(key, value) counts stream first — the changelog state "
                "ksqlDB itself keeps — then assemble the map with a pull "
                "query"
            )
        col, alias = hist
        where = (
            select[cm.start("where"): cm.end("where")]
            if cm["where"] is not None
            else None
        )
        inner_where = (
            f"WHERE ({where}) AND {col} IS NOT NULL"
            if where
            else f"WHERE {col} IS NOT NULL"
        )
        klist = ", ".join(keys)
        inner = (
            f"(SELECT {klist}, {col} AS __ksql_hv, count(*) AS __ksql_hc "
            f"FROM {src} {inner_where} GROUP BY {klist}, {col})"
        )
        map_expr = (
            "map_from_entries(sort_array(collect_list("
            f"struct(__ksql_hv, __ksql_hc)))) AS {alias}"
        )
        sel_list = ", ".join(
            map_expr if it is None else it for it in out_items
        )
        return f"SELECT {sel_list} FROM {inner} GROUP BY {klist}"

    def _rewrite_within(self, select: str) -> str:
        """``JOIN ... WITHIN n UNIT [GRACE PERIOD g UNIT] ON cond`` ->
        ``JOIN ... ON (cond) AND <symmetric event-time band>`` — the
        time-range-condition spelling Spark's stream-stream join requires
        and batch SQL evaluates identically. Both sides must have declared
        event time (WITH (TIMESTAMP='col')). Loops until every windowed
        join is rewritten (ADVICE r17 #4 — a statement may hold several)
        and raises on an unparseable residual WITHIN. Streaming sides get
        ``withWatermark`` applied on a JOIN-LOCAL ``__ksql_wm_N`` view
        the FROM clause is rewritten to read (ADVICE r18 #2 — the
        original view stays untouched, so the delay applies to this
        statement only): delay = GRACE PERIOD when declared, else the
        window size — so streaming join state is genuinely
        watermark-bounded and LEFT JOIN WITHIN works in append mode.
        GRACE PERIOD only bounds late-data
        acceptance; batch results never depend on it. Limitation: a
        CHAINED windowed join (``... JOIN s3 WITHIN m UNIT ON ...`` after
        a first windowed join in the same FROM) is rejected with the
        residual-WITHIN error rather than guessed at — Kafka Streams
        stamps the intermediate record max(l.ts, r.ts), a derived event
        time Spark's stream-stream state eviction cannot key on; separate
        FROM clauses (subqueries) each with their own windowed join are
        fully supported by the loop."""
        while True:
            masked = _LITERAL_RE.sub(
                lambda mm: "'" + "x" * (len(mm.group(0)) - 2) + "'", select
            )
            m = _JOIN_WITHIN_RE.search(masked)
            if not m:
                if _WITHIN_RESIDUAL_RE.search(masked):
                    raise ValueError(
                        "JOIN WITHIN: a WITHIN clause remains that the "
                        "dialect cannot parse — expected 'JOIN s WITHIN n "
                        "UNIT [GRACE PERIOD g UNIT] ON ...' in: " + select
                    )
                return select
            left, right = m["left"], m["right"]
            la = m["la"] or left
            ra = m["ra"] or right
            for side in (left, right):
                if side not in self._rowtime:
                    raise ValueError(
                        f"JOIN WITHIN: side {side!r} has no event-time "
                        "column — declare it with WITH (TIMESTAMP='col') "
                        "on CREATE STREAM/TABLE"
                    )
            lrt, rrt = self._rowtime[left], self._rowtime[right]
            n, unit = m["n"], m["unit"].lower()
            if m["gn"] is not None:
                delay = f"{m['gn']} {m['gunit'].lower()}"
            else:
                delay = f"{n} {unit}"
            # JOIN-LOCAL watermark views (ADVICE r18 #2): each streaming
            # side gets a fresh __ksql_wm_N registration carrying THIS
            # join's delay, and the FROM clause is rewritten to read it
            # (aliased back to the original name when the statement used
            # none, so qualified references keep resolving). The original
            # view is never touched — watermark policy is per statement,
            # not sticky across the stream's later uses.
            wm_names: dict[str, str] = {}
            for side in (left, right):
                df = self._views.get(side)
                if df is not None and df.isStreaming and side not in wm_names:
                    wm_names[side] = self._watermarked_view(side, delay)
            cond_end_m = _CLAUSE_AFTER_ON_RE.search(masked, m.end())
            cond_end = cond_end_m.start() if cond_end_m else len(select)
            # inside a subquery the condition also ends at the subquery's
            # closing paren — stop at the first unbalanced ')'
            depth = 0
            for i in range(m.end(), cond_end):
                if masked[i] == "(":
                    depth += 1
                elif masked[i] == ")":
                    depth -= 1
                    if depth < 0:
                        cond_end = i
                        break
            cond = select[m.end():cond_end].strip()
            band = (
                f"{la}.{lrt} >= {ra}.{rrt} - INTERVAL {n} {unit} AND "
                f"{la}.{lrt} <= {ra}.{rrt} + INTERVAL {n} {unit}"
            )
            jtype = (m["jtype"] or "").strip()

            def _side_ref(name: str, alias_tok: str | None) -> list[str]:
                wmn = wm_names.get(name)
                if wmn is None:
                    return [name] + ([alias_tok] if alias_tok else [])
                # a renamed (watermarked) side ALWAYS carries an alias —
                # the original name when the statement declared none — so
                # every qualified reference in the statement still binds
                return [wmn, alias_tok or name]

            head = " ".join(
                ["FROM"]
                + _side_ref(left, m["la"])
                + ([jtype] if jtype else [])
                + ["JOIN"]
                + _side_ref(right, m["ra"])
                + ["ON"]
            ) + " "
            select = (
                select[: m.start()]
                + head
                + f"({cond}) AND {band} "
                + select[cond_end:]
            )

    def _rewrite_window(self, select: str) -> str:
        # Search on a literal-masked copy (same length, so spans align with
        # the original) so 'WINDOW TUMBLING (...)' inside a string literal
        # neither triggers nor breaks the rewrite.
        masked = _LITERAL_RE.sub(
            lambda mm: "'" + "x" * (len(mm.group(0)) - 2) + "'", select
        )
        m = _WINDOW_RE.search(masked)
        if not m:
            return select
        kind = m["kind"].upper()
        props = m["props"]
        # GRACE PERIOD in the window property list (the windowed-CTAS
        # grace spelling): parsed out of the props FIRST so the SIZE /
        # bare-duration parsers below see a clean list. Batch evaluation
        # never depends on it (no late data); a STREAMING source gets a
        # statement-local watermarked view carrying the grace delay —
        # the same __ksql_wm_N discipline as WITHIN joins — which bounds
        # window state and makes append-mode emission possible, exactly
        # ksqlDB's out-of-order acceptance bound.
        gm = _WINDOW_GRACE_RE.search(props)
        if gm:
            props = _WINDOW_GRACE_RE.sub("", props).strip()
        src = _FROM_RE.search(masked)
        if not src or src.group(1) not in self._rowtime:
            raise ValueError(
                f"WINDOW {kind}: source stream has no event-time column — "
                "declare it with WITH (TIMESTAMP='col') on CREATE STREAM"
            )
        rt = self._rowtime[src.group(1)]
        if kind == "SESSION":
            d = _BARE_DURATION_RE.match(props) or _SIZE_RE.search(props)
            if not d:
                raise ValueError(f"WINDOW SESSION: cannot parse {props!r}")
            wexpr = f"session_window({rt}, '{d.group(1)} {d.group(2).lower()}')"
            wname = "session_window"
        else:
            size = _SIZE_RE.search(props)
            if not size:
                raise ValueError(f"WINDOW {kind}: missing SIZE in {props!r}")
            dur = f"'{size.group(1)} {size.group(2).lower()}'"
            if kind == "HOPPING":
                adv = _ADVANCE_RE.search(props)
                if not adv:
                    raise ValueError(
                        f"WINDOW HOPPING: missing ADVANCE BY in {props!r}"
                    )
                wexpr = (
                    f"window({rt}, {dur}, "
                    f"'{adv.group(1)} {adv.group(2).lower()}')"
                )
            else:  # TUMBLING
                wexpr = f"window({rt}, {dur})"
            wname = "window"
        # splice the WINDOW clause out via the masked match span (the
        # original and masked strings have identical indices). Splice
        # order matters: the WINDOW clause sits AFTER the FROM ident, so
        # remove it first and the FROM span below stays valid.
        select = select[: m.start()] + " " + select[m.end():]
        if gm:
            df = self._views.get(src.group(1))
            if df is not None and df.isStreaming:
                delay = f"{gm['gn']} {gm['gunit'].lower()}"
                wmname = self._watermarked_view(src.group(1), delay)
                # read the watermarked view, aliased back to the source
                # name so every qualified reference still binds; the
                # original view never mutates (per-statement policy)
                select = (
                    select[: src.start(1)]
                    + f"{wmname} {src.group(1)}"
                    + select[src.end(1):]
                )

        def subs(seg: str) -> str:
            seg = re.sub(r"\bWINDOWSTART\b", f"{wname}.start", seg,
                         flags=re.IGNORECASE)
            return re.sub(r"\bWINDOWEND\b", f"{wname}.end", seg,
                          flags=re.IGNORECASE)

        select = _map_outside_literals(select, subs)
        if not _GROUP_BY_RE.search(
            _LITERAL_RE.sub(lambda mm: "'" + "x" * (len(mm.group(0)) - 2) + "'",
                            select)
        ):
            raise ValueError(f"WINDOW {kind}: windowed query needs GROUP BY")
        # prepend the window key into the FIRST GROUP BY outside literals
        # (whatever follows — more keys, HAVING — stays intact); the
        # nonlocal flag keeps it to exactly one insertion even when string
        # literals split the statement into several rewrite segments
        inserted = False

        def insert_once(seg: str) -> str:
            nonlocal inserted
            if inserted:
                return seg
            new, n = _GROUP_BY_RE.subn(
                lambda g: g.group(0) + wexpr + ", ", seg, count=1
            )
            inserted = n > 0
            return new

        return _map_outside_literals(select, insert_once)

    def _select(self, sql: str) -> DataFrame:
        # EMIT CHANGES: continuous push query. Over batch state it reads
        # the tables as of their last DDL — a pinned table's stored rows
        # or a lazy view's evaluation (the streaming update path lives in
        # streaming.pipeline). Same dialect rewrites as CTAS
        # (COUNT_DISTINCT, UCASE/LCASE, WINDOW ...) apply to push queries.
        return self.spark.sql(self._rewrite_select(sql))


# --------------------------------------------------------- driver queries
# ksql-dialect aggregate surface over the driver testdata (VERDICT r18
# #4): each runs the REAL dialect statements through KsqlContext, then
# canonicalizes the array/map result to a sorted string so the driver's
# column-sorted value hash is engine-order-independent (the vocab_encode
# precedent).


def q_ksql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOPK(value, 5) per event_type through the dialect (the two-phase
    pre-pruned plan — see ``_rewrite_topk``); array canonicalized to a
    comma-joined descending string."""
    from pyspark.sql import functions as F

    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    ctx = KsqlContext(spark)
    ctx.register_topic("ksql_events_topic", load_table(spark, sf_dir, "events"))
    ctx.execute(
        "CREATE STREAM ksql_ev_tk (event_id BIGINT, ts TIMESTAMP, "
        "event_type VARCHAR, value DOUBLE) WITH "
        "(KAFKA_TOPIC='ksql_events_topic', VALUE_FORMAT='JSON', "
        "TIMESTAMP='ts');"
    )
    out = ctx.execute(
        "CREATE TABLE ksql_top_values AS SELECT event_type, "
        "TOPK(value, 5) AS top_vals FROM ksql_ev_tk GROUP BY event_type;"
    )
    return out.select(
        "event_type",
        F.array_join(
            F.transform("top_vals", lambda x: x.cast("string")), ","
        ).alias("top_vals"),
    )


ORACLE_KSQL_TOPK = """
SELECT event_type,
       array_to_string(list_transform(
         list_slice(
           list_sort(list(value) FILTER (WHERE value IS NOT NULL), 'DESC'),
           1, 5),
         x -> CAST(x AS VARCHAR)), ',') AS top_vals
FROM events GROUP BY event_type
"""


def q_ksql_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM(event_type) per user bucket through the dialect (CSAS
    derives the bucket, then the two-level map aggregate — see
    ``_rewrite_histogram``); map canonicalized to a key-sorted
    'k:v' string."""
    from pyspark.sql import functions as F

    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    ctx = KsqlContext(spark)
    ctx.register_topic("ksql_events_topic2", load_table(spark, sf_dir, "events"))
    ctx.execute(
        "CREATE STREAM ksql_ev_h (event_id BIGINT, user_id BIGINT, "
        "event_type VARCHAR) WITH (KAFKA_TOPIC='ksql_events_topic2', "
        "VALUE_FORMAT='JSON');"
    )
    ctx.execute(
        "CREATE STREAM ksql_ev_hb AS SELECT event_id, event_type, "
        "user_id % 10 AS user_bucket FROM ksql_ev_h;"
    )
    out = ctx.execute(
        "CREATE TABLE ksql_type_hist AS SELECT user_bucket, "
        "HISTOGRAM(event_type) AS hist FROM ksql_ev_hb GROUP BY "
        "user_bucket;"
    )
    return out.select(
        "user_bucket",
        F.array_join(
            F.transform(
                F.map_entries("hist"),
                lambda e: F.concat(
                    e["key"], F.lit(":"), e["value"].cast("string")
                ),
            ),
            ",",
        ).alias("hist"),
    )


ORACLE_KSQL_HISTOGRAM = """
WITH c AS (
  SELECT user_id % 10 AS user_bucket, event_type AS v, count(*) AS n
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
)
SELECT user_bucket,
       string_agg(v || ':' || CAST(n AS VARCHAR), ',' ORDER BY v) AS hist
FROM c GROUP BY user_bucket
"""

def q_ksql_topk_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOPKDISTINCT(value, 5) per event_type through the dialect (the
    dense_rank two-phase pre-prune — see ``_topk_preprune``); array
    canonicalized to a comma-joined descending string."""
    from pyspark.sql import functions as F

    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    ctx = KsqlContext(spark)
    ctx.register_topic("ksql_events_topic3", load_table(spark, sf_dir, "events"))
    ctx.execute(
        "CREATE STREAM ksql_ev_tkd (event_id BIGINT, ts TIMESTAMP, "
        "event_type VARCHAR, value DOUBLE) WITH "
        "(KAFKA_TOPIC='ksql_events_topic3', VALUE_FORMAT='JSON', "
        "TIMESTAMP='ts');"
    )
    out = ctx.execute(
        "CREATE TABLE ksql_topd_values AS SELECT event_type, "
        "TOPKDISTINCT(value, 5) AS top_vals FROM ksql_ev_tkd "
        "GROUP BY event_type;"
    )
    return out.select(
        "event_type",
        F.array_join(
            F.transform("top_vals", lambda x: x.cast("string")), ","
        ).alias("top_vals"),
    )


ORACLE_KSQL_TOPK_DISTINCT = """
SELECT event_type,
       array_to_string(list_transform(
         list_slice(
           list_sort(list(DISTINCT value) FILTER (WHERE value IS NOT NULL),
                     'DESC'),
           1, 5),
         x -> CAST(x AS VARCHAR)), ',') AS top_vals
FROM events GROUP BY event_type
"""
