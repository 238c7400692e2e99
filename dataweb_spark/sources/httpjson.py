"""Trino-protocol external engine: SQL over HTTP, JSON row-pages back.

The reference's TrinoRunner speaks Trino's REST protocol
(``core/src/execute/data_stores/trino.rs:27-200``): POST the SQL to
``/v1/statement``, then follow ``nextUri`` links, each response carrying
``columns`` (name + Trino type string) and ``data`` (JSON row arrays).
Column types drive the Arrow decode; when the engine doesn't declare
usable types, the schema is INFERRED from the first data page
(``trino.rs:89-173`` — the fallback this module exists to reproduce;
the flightsql/jdbc paths always trust a remote-declared schema).

Two halves:

* :class:`TrinoLikeServer` — an in-process engine speaking the protocol
  shape (statement POST, paged ``nextUri`` chain, per-page ``columns`` +
  ``data``), backed by DuckDB. Stands in for a live Trino, which can't be
  installed in-sandbox; ``declare_types=False`` makes it emit ``unknown``
  column types to force the client's inference fallback.
* :func:`trino_read` — the Spark-side runner. The driver POSTs once to
  resolve the schema (declared types when usable, else first-page value
  inference); the page WALK runs inside one ``mapInArrow`` task on an
  executor — the ``nextUri`` chain is inherently sequential (one cursor),
  so protocol order bounds parallelism exactly as in the reference, and
  row pages never touch the driver.

JSON carries no date/timestamp scalars — Trino serializes them as strings
— so temporal and varchar columns decode as Arrow strings and the entity
mapping's ``CAST`` (``map_source_frame``) restores the logical type, the
same trust boundary the reference applies to Trino values.
"""

from __future__ import annotations

import json
import threading
import urllib.request

import pyarrow as pa

# Trino type string → Arrow type for the JSON decode. Temporal types stay
# strings (JSON transport form); the entity-level cast parses them.
_TRINO_TO_ARROW = {
    "bigint": pa.int64(),
    "integer": pa.int64(),
    "smallint": pa.int64(),
    "tinyint": pa.int64(),
    "double": pa.float64(),
    "real": pa.float64(),
    "boolean": pa.bool_(),
    "varchar": pa.string(),
    "date": pa.string(),
    "timestamp": pa.string(),
}


def _infer_arrow_type(values) -> pa.DataType:
    """First-page value inference (``trino.rs:89-173`` fallback): the first
    non-null value decides; all-null columns decode as string."""
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):
            return pa.bool_()
        if isinstance(v, int):
            return pa.int64()
        if isinstance(v, float):
            return pa.float64()
        return pa.string()
    return pa.string()


def _page_schema(page: dict) -> pa.Schema | None:
    """Schema from a response page: declared types when every column maps
    to a known Trino type, else inference from the page's data rows, else
    None (no columns and no data yet — keep following nextUri)."""
    cols = page.get("columns")
    if not cols:
        return None
    names = [c["name"] for c in cols]
    base = [c.get("type", "unknown").split("(")[0].strip().lower()
            for c in cols]
    if all(t in _TRINO_TO_ARROW for t in base):
        return pa.schema([(n, _TRINO_TO_ARROW[t])
                          for n, t in zip(names, base)])
    rows = page.get("data") or []
    return pa.schema([
        (n, _infer_arrow_type([r[i] for r in rows]))
        for i, n in enumerate(names)])


def _coerce(v, typ: pa.DataType):
    """JSON scalar → schema-typed Python value (string columns accept any
    scalar's JSON text form — drifted engine views stay readable)."""
    if v is None:
        return None
    if pa.types.is_string(typ) and not isinstance(v, str):
        return json.dumps(v) if isinstance(v, (dict, list)) else str(v)
    return v


def _rows_to_batch(rows: list, schema: pa.Schema) -> pa.RecordBatch:
    arrays = [
        pa.array([_coerce(r[i], f.type) for r in rows], type=f.type)
        for i, f in enumerate(schema)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _http_json(url: str, body: bytes | None = None) -> dict:
    req = urllib.request.Request(
        url, data=body,
        headers={"Content-Type": "text/plain"} if body is not None else {})
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read().decode("utf-8"))


def _walk_pages(base_url: str, sql: str):
    """POST the statement, then follow the ``nextUri`` chain; yields each
    response page in protocol order."""
    page = _http_json(f"{base_url}/v1/statement", sql.encode("utf-8"))
    yield page
    while page.get("nextUri"):
        page = _http_json(page["nextUri"])
        yield page


def trino_resolve_schema(base_url: str, sql: str) -> pa.Schema:
    """One bounded statement walk for schema resolution: stops at the first
    page that yields a schema (declared types, or inference from the first
    DATA page when types are unusable)."""
    for page in _walk_pages(base_url, sql):
        schema = _page_schema(page)
        if schema is not None and (page.get("data")
                                   or _declared_usable(page)):
            return schema
        if schema is not None and not page.get("nextUri"):
            return schema
    raise ValueError("statement produced no columns")


def _declared_usable(page: dict) -> bool:
    cols = page.get("columns") or []
    return bool(cols) and all(
        c.get("type", "unknown").split("(")[0].strip().lower()
        in _TRINO_TO_ARROW for c in cols)


def trino_read(spark, base_url: str, sql: str):
    """Run ``sql`` on a Trino-protocol engine; stream row pages on an
    executor. One partition: the page chain is one protocol cursor (the
    engine parallelizes internally; transfer narrowing comes from the
    dialect pushdown upstream). For large un-aggregated pulls, see
    :func:`trino_read_partitioned`."""
    return _chains_frame(spark, base_url, [sql],
                         trino_resolve_schema(base_url, sql))


def _chains_frame(spark, base_url: str, statements: list[str],
                  arrow_schema: pa.Schema):
    """One partition per statement (``readers.item_frame``); each task
    walks its statement's page chain."""
    from dataweb_spark.sources.readers import item_frame

    def fetch(stmt):
        for page in _walk_pages(base_url, stmt):
            rows = page.get("data") or []
            if rows:
                yield _rows_to_batch(rows, arrow_schema)

    return item_frame(spark, statements, fetch, arrow_schema)


def partition_predicates(column: str, lower: int, upper: int,
                         num_partitions: int) -> list[str]:
    """JDBC-style range split over a numeric column: ``num_partitions``
    disjoint, complete predicates. First stride is open below (and takes
    NULLs), last is open above — rows outside [lower, upper) are never
    lost, exactly like Spark's JDBC partitioned read."""
    n = max(1, int(num_partitions))
    if n == 1 or upper <= lower:
        return ["1 = 1"]
    bounds = [lower + (upper - lower) * i // n for i in range(1, n)]
    preds = [f"{column} < {bounds[0]} OR {column} IS NULL"]
    preds += [f"{column} >= {bounds[i]} AND {column} < {bounds[i + 1]}"
              for i in range(len(bounds) - 1)]
    preds.append(f"{column} >= {bounds[-1]}")
    return preds


def trino_read_partitioned(spark, base_url: str, sql: str, column: str,
                           lower: int, upper: int, num_partitions: int):
    """Parallel page chains for large un-aggregated pulls: one statement
    (its own protocol cursor) per range-split predicate over ``column``,
    each walked by its own executor task — N cursors where
    :func:`trino_read` has one. The Trino protocol keeps each chain
    sequential, but chains are independent statements, so transfer
    parallelism scales with ``num_partitions`` exactly as Spark's JDBC
    ``partitionColumn`` read does (the reference's serial TrinoRunner
    stream has no analog — this is the scale path past it).

    ``column`` is the engine-side name in the result of ``sql``; callers
    must not push a LIMIT into ``sql`` (per-chain limits would each pick
    their own rows)."""
    preds = partition_predicates(column, lower, upper, num_partitions)
    subs = [f"SELECT * FROM ({sql}) q WHERE {p}" for p in preds]
    # Schema from the ORIGINAL statement (a sub-range may be empty, which
    # would force all-string inference on undeclared types).
    return _chains_frame(spark, base_url, subs,
                         trino_resolve_schema(base_url, sql))


# ---------------------------------------------------------------------------
# In-process Trino-protocol engine (test harness / sandbox stand-in)
# ---------------------------------------------------------------------------

class TrinoLikeServer:
    """DuckDB behind the Trino REST protocol shape.

    ``tables`` maps engine table name → parquet path. ``page_size`` rows
    per response page (forces a real ``nextUri`` chain); with
    ``declare_types=False`` every column is declared type ``unknown`` so
    clients must exercise the inference fallback."""

    def __init__(self, tables: dict[str, str], page_size: int = 1000,
                 declare_types: bool = True):
        import http.server
        import socketserver

        import duckdb

        self.executed: list[str] = []
        self.page_size = page_size
        self.declare_types = declare_types
        self._results: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._con = duckdb.connect()
        for name, path in tables.items():
            self._con.execute(
                f'create view "{name}" as '
                f"select * from read_parquet('{path}')")
        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence request logging
                pass

            def _send(self, payload: dict):
                body = json.dumps(payload).encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                sql = self.rfile.read(n).decode("utf-8")
                self._send(outer._start(sql))

            def do_GET(self):
                # /v1/statement/<qid>/<page>
                parts = self.path.strip("/").split("/")
                self._send(outer._page(parts[-2], int(parts[-1])))

        class Server(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

        self._httpd = Server(("127.0.0.1", 0), Handler)
        self.port = self._httpd.server_address[1]
        self.base_url = f"http://127.0.0.1:{self.port}"
        t = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        t.start()

    def _start(self, sql: str) -> dict:
        import uuid as _uuid
        with self._lock:
            self.executed.append(sql)
        cur = self._con.cursor()
        try:
            tbl = cur.execute(sql).arrow()
        finally:
            cur.close()

        def trino_type(t: pa.DataType) -> str:
            if not self.declare_types:
                return "unknown"
            if pa.types.is_boolean(t):
                return "boolean"
            if pa.types.is_integer(t):
                return "bigint"
            if pa.types.is_floating(t) or pa.types.is_decimal(t):
                return "double"
            if pa.types.is_date(t):
                return "date"
            if pa.types.is_timestamp(t):
                return "timestamp"
            if pa.types.is_string(t) or pa.types.is_large_string(t):
                return "varchar"
            return "unknown"

        def jsonable(v):
            if hasattr(v, "isoformat"):
                return v.isoformat()
            try:
                import decimal
                if isinstance(v, decimal.Decimal):
                    return float(v)
            except Exception:
                pass
            return v

        qid = _uuid.uuid4().hex[:12]
        with self._lock:
            self._results[qid] = {
                "columns": [{"name": f.name, "type": trino_type(f.type)}
                            for f in tbl.schema],
                "rows": [[jsonable(v) for v in row.values()]
                         for row in tbl.to_pylist()],
            }
            # abandoned chains (e.g. a client that only peeked the first
            # page for schema resolution) must not accumulate forever
            while len(self._results) > 64:
                self._results.pop(next(iter(self._results)))
        return self._page(qid, 0)

    def _page(self, qid: str, idx: int) -> dict:
        res = self._results[qid]
        start, end = idx * self.page_size, (idx + 1) * self.page_size
        page = {"id": qid, "columns": res["columns"],
                "data": res["rows"][start:end]}
        if end < len(res["rows"]):
            page["nextUri"] = f"{self.base_url}/v1/statement/{qid}/{idx + 1}"
        else:
            self._results.pop(qid, None)  # chain complete: free the result
        return page

    def shutdown(self):
        self._httpd.shutdown()


def serve_trino_like(tables: dict[str, str], page_size: int = 1000,
                     declare_types: bool = True) -> TrinoLikeServer:
    return TrinoLikeServer(tables, page_size, declare_types)
