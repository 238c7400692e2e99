"""FlightSQL external engine: SQL in, Arrow record batches out.

The reference's FlightSQLRunner (``core/src/execute/data_stores/
flight_sql.rs:100-117``) drives the STANDARD FlightSQL flow —
``prepare(sql)`` → ``stmt.execute()`` → ``do_get`` per endpoint — and
infers the schema from a peeked first batch when none is declared
(``flight_sql.rs:146-160``). Two halves here:

* :class:`DuckDbFlightSqlServer` — an in-process engine speaking that
  protocol, backed by DuckDB over parquet files. This is a REAL second
  engine dialect (DuckDB SQL, not Spark SQL) behind a real gRPC socket,
  standing in for Dremio/ballista/etc. that can't be installed in-sandbox.
* :func:`flightsql_read` — the Spark-side runner: the driver prepares and
  plans (``DoAction CreatePreparedStatement`` →
  ``GetFlightInfo(CommandPreparedStatementQuery)``), executors stream the
  result batches via ``mapInArrow``.

Commands ride the standard protobuf-``Any`` envelope
(:mod:`flightsql_proto` — hand-encoded; no FlightSQL client exists for
Python and protobuf codegen isn't in-sandbox), so a real FlightSQL
engine could be dropped behind :func:`flightsql_read` for this flow.
Raw-SQL commands/tickets are still accepted server-side for
compatibility with pre-envelope clients.

Tickets carry the SQL itself (as ``TicketStatementQuery.statement_handle``
— the standard leaves ticket contents server-defined): the engine is
stateless, so a retried Spark task simply re-executes — no
single-use-ticket bookkeeping (unlike the relay protocol, where tickets
index planned per-source tasks).

Scale notes: one endpoint = one partition today (engines like Trino
parallelize internally; the transfer is the bottleneck only when the
pushed-down query is under-selective — which the dialect pushdown
minimizes). Engines that support partitioned exports can return several
endpoints and parallelism follows for free.
"""

from __future__ import annotations

import json
import threading
import uuid

import pyarrow as pa
import pyarrow.flight as flight

from dataweb_spark.sources import flightsql_proto as fsp


class DuckDbFlightSqlServer(flight.FlightServerBase):
    """DuckDB behind the simplified FlightSQL protocol.

    ``tables`` maps engine table name → parquet path; every connection
    registers them as views. Each ``do_get`` runs on a fresh cursor so
    concurrent Spark tasks don't share DuckDB state.
    """

    def __init__(self, tables: dict[str, str],
                 location: str = "grpc://127.0.0.1:0"):
        super().__init__(location)
        import duckdb

        self._lock = threading.Lock()
        self.executed: list[str] = []  # queries seen (dialect-test probe)
        # ONE connection created on the constructing thread; request
        # handlers take per-thread cursors from it — the documented DuckDB
        # threading pattern. Fresh connections inside gRPC handler threads
        # crash natively under concurrency.
        self._con = duckdb.connect()
        self._prepared: dict[bytes, str] = {}
        import os as _os
        for name, path in tables.items():
            if _os.path.isdir(path):
                # a Spark-written table is a DIRECTORY of part files —
                # possibly NESTED under partitionBy subdirectories, so
                # glob recursively and recover hive-partition columns
                # (review-caught r15: a top-level glob binds zero files
                # for partitioned writes)
                path = _os.path.join(path, "**", "*.parquet")
                self._con.execute(
                    f"create view \"{name}\" as select * from "
                    f"read_parquet('{path}', hive_partitioning=true)")
            else:
                self._con.execute(
                    f"create view \"{name}\" as "
                    f"select * from read_parquet('{path}')")

    def _peek_schema(self, sql: str) -> pa.Schema:
        cur = self._con.cursor()
        try:
            # Schema without execution: LIMIT 0 over the query (the peek-
            # first-batch analog of flight_sql.rs:146-160, no data pulled).
            return cur.execute(
                f"select * from ({sql}) q limit 0").arrow().schema
        finally:
            cur.close()

    def do_action(self, context, action):
        """Standard prepared-statement actions (FlightSql.proto):
        CreatePreparedStatement registers a handle → SQL mapping and
        returns the dataset schema; ClosePreparedStatement drops it."""
        body = action.body.to_pybytes() if action.body else b""
        if action.type == fsp.CREATE_PREPARED_ACTION:
            sql = fsp.parse_create_prepared_request(body)
            schema = self._peek_schema(sql)
            handle = uuid.uuid4().bytes
            with self._lock:
                self._prepared[handle] = sql
                # Crashed clients never Close: cap the registry (oldest
                # handles evicted; an evicted handle just re-prepares).
                while len(self._prepared) > 128:
                    self._prepared.pop(next(iter(self._prepared)))
            return iter([flight.Result(fsp.create_prepared_result(
                handle, schema.serialize().to_pybytes()))])
        if action.type == fsp.CLOSE_PREPARED_ACTION:
            _, handle = fsp.parse_command(body)
            with self._lock:
                self._prepared.pop(handle, None)
            return iter([])
        raise flight.FlightServerError(f"unknown action {action.type!r}")

    def _resolve_sql(self, raw: bytes) -> str:
        """FlightSQL envelope (prepared handle / direct statement /
        statement ticket) or, failing that, legacy raw SQL bytes."""
        try:
            kind, payload = fsp.parse_command(raw)
        except (ValueError, IndexError):
            return raw.decode("utf-8")  # pre-envelope client
        if kind == "prepared":
            with self._lock:
                sql = self._prepared.get(payload)
            if sql is None:
                raise flight.FlightServerError("unknown prepared-statement "
                                               "handle (already closed?)")
            return sql
        return payload.decode("utf-8")  # statement / ticket carry the SQL

    def get_flight_info(self, context, descriptor):
        sql = self._resolve_sql(descriptor.command)
        schema = self._peek_schema(sql)
        ticket = flight.Ticket(
            fsp.ticket_statement_query(sql.encode("utf-8")))
        return flight.FlightInfo(schema, descriptor,
                                 [flight.FlightEndpoint(ticket, [])], -1, -1)

    def do_get(self, context, ticket):
        sql = self._resolve_sql(ticket.ticket)
        with self._lock:
            self.executed.append(sql)
        cur = self._con.cursor()
        try:
            # Materialize before returning: a lazy fetch_record_batch
            # reader must not outlive the cursor (native crash once it is
            # collected mid-stream). DuckDB→Arrow is zero-copy columnar,
            # and the pushed-down query already narrowed the result.
            table = cur.execute(sql).arrow()
        finally:
            cur.close()
        return flight.RecordBatchStream(table)


def serve_duckdb_flightsql(tables: dict[str, str]) -> DuckDbFlightSqlServer:
    server = DuckDbFlightSqlServer(tables)
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    return server


def flightsql_read(spark, host: str, port: int, sql: str):
    """Run ``sql`` on the engine; stream result batches on executors.

    Driver-side planning follows the reference's flow
    (``flight_sql.rs:109-117``): ``prepare(sql)`` →
    ``execute`` (= ``GetFlightInfo`` on the prepared handle) → one Spark
    partition per endpoint, each task opening its own Flight connection
    for ``do_get``. Engines without the prepared-statement actions get
    the direct ``CommandStatementQuery`` envelope instead.
    """
    from dataweb_spark.sources.readers import item_frame

    client = flight.connect(f"grpc://{host}:{port}")
    handle = None
    try:
        res = list(client.do_action(flight.Action(
            fsp.CREATE_PREPARED_ACTION, fsp.create_prepared_request(sql))))
        handle, _ = fsp.parse_create_prepared_result(
            res[0].body.to_pybytes())
        command = fsp.prepared_statement_query(handle)
    except (flight.FlightError, ValueError, IndexError):
        # Engine lacks prepare support, returned no Result, or a malformed
        # body — all mean the same thing: use the direct-statement form.
        handle = None
        command = fsp.statement_query(sql)
    try:
        info = client.get_flight_info(flight.FlightDescriptor.for_command(
            command))
    finally:
        if handle is not None:
            # Planning is done (or failed); endpoints' tickets are
            # self-contained, so release the server-side handle either way.
            try:
                list(client.do_action(flight.Action(
                    fsp.CLOSE_PREPARED_ACTION,
                    fsp.close_prepared_request(handle))))
            except flight.FlightError:
                pass  # the server's handle cap bounds a failed close
    arrow_schema = info.schema

    def fetch(tk):
        import pyarrow.flight as fl
        c = fl.connect(f"grpc://{host}:{port}")
        for chunk in c.do_get(fl.Ticket(tk)):
            if chunk.data.num_rows:
                yield pa.Table.from_batches([chunk.data]) \
                        .cast(arrow_schema).to_batches()[0]
        c.close()

    return item_frame(spark, [ep.ticket.ticket for ep in info.endpoints],
                      fetch, arrow_schema)
