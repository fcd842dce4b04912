"""Minimal ksql-compatible REST surface over :class:`ksql.KsqlContext`.

The reference drives ksqlDB entirely over two HTTP endpoints
(reference: ci_cd/Makefile:112-127):

- ``POST /ksql``  — DDL statements (CREATE STREAM / CREATE TABLE), payload
  ``{"ksql": "...", "streamsProperties": {...}}``
- ``POST /query`` — queries (SELECT ... [EMIT CHANGES]), same payload;
  ksqlDB streams rows back as chunked JSON

This module serves the same two endpoints from a background thread with
only the standard library (no web framework in the container), delegating
statement handling to ``KsqlContext.execute``. Responses:

- ``/ksql``  -> ``[{"statementText": ..., "status": "SUCCESS", "columns": [...]}]``
- ``/query`` -> JSON array of ``{"row": {"columns": [...]}}`` objects —
  the shape of a ksql pull/push response body, materialized. A pull
  reads each table as of its last DDL: a pinned CTAS (the pin rule in
  ``ksql``: batch, deterministic, no time functions, immutable leaves)
  serves the rows computed once at DDL time, any other table re-evaluates
  its lazy view; new input shows up once the client re-issues the DDL.

Re-issued DDL never breaks an in-flight pull: the pull holds the plan
it resolved, and a pinned table's rows live as long as any plan reads
them.

Scale note: this is a CONTROL-plane shim — statements and small result
sets. Row streaming happens inside Spark; nothing row-sized ever funnels
through the driver except the client-requested result, same as ksqlDB's
own REST query endpoint.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .ksql import KsqlContext


def _json_default(v):
    """Serializer for row values json.dumps has no encoding for: dates,
    timestamps, Decimals (ISO / string forms — what ksqlDB's own REST
    layer emits for temporal and decimal columns)."""
    import datetime
    import decimal

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


#: Hard cap on rows a single ``/query`` response will buffer on the driver.
#: Any registered view is servable through this endpoint, so an uncapped
#: ``collect()`` lets one HTTP request buffer an arbitrarily large table in
#: driver memory. ksqlDB's own endpoint streams chunked rows; this batch
#: shim instead fetches ``max_rows + 1``, returns ``max_rows``, and appends
#: a ``finalMessage`` truncation marker (the field ksqlDB uses for
#: end-of-stream notices) so clients can detect the cut.
DEFAULT_QUERY_MAX_ROWS = 10_000


class KsqlRestServer:
    """``serve(ctx)`` on a random free port; ``close()`` to stop."""

    def __init__(
        self,
        ctx: KsqlContext,
        host: str = "127.0.0.1",
        port: int = 0,
        max_rows: int = DEFAULT_QUERY_MAX_ROWS,
    ):
        self.ctx = ctx
        self.max_rows = max_rows
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # silent test server
                pass

            def _reply(self, code: int, payload) -> None:
                body = json.dumps(payload, default=_json_default).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/vnd.ksql.v1+json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self) -> None:  # noqa: N802 (stdlib naming)
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    payload = self.rfile.read(n).decode()
                    if self.path == "/ksql":
                        # KsqlContext.execute accepts a payload OR bare SQL;
                        # mirror its dispatch so a bare-SQL body doesn't
                        # succeed server-side and then 400 on the reply
                        stmt = payload.strip()
                        if stmt.startswith("{"):
                            stmt = json.loads(stmt)["ksql"]
                        df = outer.ctx.execute(payload)
                        cols = df.columns if df is not None else []
                        self._reply(200, [{
                            "statementText": stmt,
                            "status": "SUCCESS",
                            "columns": cols,
                        }])
                    elif self.path == "/query":
                        df = outer.ctx.execute(payload)
                        cap = outer.max_rows
                        # limit(cap+1) pushes the bound into the Spark plan
                        # (CollectLimit) — the driver never materializes
                        # more than cap+1 rows no matter the view's size.
                        collected = df.limit(cap + 1).collect()
                        rows = [
                            {"row": {"columns": list(r)}}
                            for r in collected[:cap]
                        ]
                        if len(collected) > cap:
                            rows.append({
                                "finalMessage": (
                                    f"Query output truncated at {cap} rows"
                                )
                            })
                        self._reply(200, rows)
                    else:
                        self._reply(404, {"error": f"unknown path {self.path}"})
                except Exception as exc:  # surface as ksql-style error object
                    self._reply(400, {
                        "@type": "statement_error",
                        "message": str(exc)[:500],
                    })

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=5)
