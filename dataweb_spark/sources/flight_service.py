"""Arrow Flight facade over the query gateway — the flight_server analog.

Mirrors the reference's 2-step protocol (``test/flight_utils.py:42-75``,
server side ``flight_server/src/flight.rs:471-630``):

* ``list_flights`` — one descriptor per declared entity with its resolved
  Arrow schema (``flight.rs:471-494``).
* ``get_flight_info`` — descriptor ``cmd`` carries JSON
  ``{"sql": ..., "principal": ..., "mode": "template"|"engine"}``; the
  server validates, maps the query to per-source tasks and returns a
  ``FlightInfo`` whose endpoints each carry a ticket
  ``{"task_id", "relay", "source"}`` — one endpoint per mapped source
  (``flight.rs:194-232``), or a single endpoint in engine mode.
* ``do_get`` — executes the stored task and streams its Arrow record
  batches (``flight.rs:449-460``).

The per-source endpoint fan-out preserves the reference's
partial-aggregate-per-source semantics: callers merge partials client-side
exactly as ``test/validation.py:29-60`` does.

Scale note: results stream through the driver here (single-process facade).
On a real cluster the transport between engines is the shared object store
(jobs layer) — this facade exists for protocol parity and lightweight
clients, not bulk data movement.
"""

from __future__ import annotations

import json
import re
import threading
import uuid

import pyarrow as pa
import pyarrow.flight as flight

from pyspark.sql import SparkSession

from dataweb_spark.catalog.model import Web
from dataweb_spark.plans.gateway import QueryGateway
from dataweb_spark.plans.resolve import resolve_entity
from dataweb_spark.plans.validation import ValidationError
from dataweb_spark.sources.readers import item_frame


class _TokenServerAuthHandler(flight.ServerAuthHandler):
    """Handshake-token authentication: token → principal.

    The reference derives principals from mTLS x509 fingerprints
    (``core/src/pki/mod.rs:12-25``, ``core/src/model/user.rs:17-28``); the
    in-container analog is a pre-shared token map. After the handshake every
    call carries the token and ``context.peer_identity()`` returns the
    mapped principal — the request JSON can no longer spoof one."""

    def __init__(self, tokens: dict[str, str]):
        super().__init__()
        self._tokens = dict(tokens)

    def authenticate(self, outgoing, incoming):
        token = incoming.read().decode("utf-8")
        if token not in self._tokens:
            raise flight.FlightUnauthenticatedError("unknown token")
        outgoing.write(token.encode("utf-8"))

    def is_valid(self, token):
        t = token.decode("utf-8") if isinstance(token, bytes) else str(token)
        if t not in self._tokens:
            raise flight.FlightUnauthenticatedError("invalid or missing token")
        return self._tokens[t].encode("utf-8")


class _TokenClientAuth(flight.ClientAuthHandler):
    def __init__(self, token: str):
        super().__init__()
        self._token = token.encode("utf-8")

    def authenticate(self, outgoing, incoming):
        outgoing.write(self._token)
        self._token = incoming.read()

    def get_token(self):
        return self._token


class _CertServerAuthHandler(flight.ServerAuthHandler):
    """x509-fingerprint principals with challenge-proof of key possession.

    The reference's identity model (``core/src/pki/mod.rs:12-25``,
    ``core/src/model/user.rs:17-28``): a registry maps the SHA-256
    fingerprint of a DER client certificate to a principal. The handshake
    proves the caller actually HOLDS the certificate's private key:

      server → nonce ; client → DER cert ‖ signature(nonce) ;
      server: verify sig against the cert's own public key, fingerprint
      the DER, look the fingerprint up, return a random session token.

    Presenting a stolen certificate without its key fails verification;
    an unregistered fingerprint is rejected; request-JSON principals are
    ignored downstream exactly as with token auth."""

    def __init__(self, users):
        super().__init__()
        # users: any shape pki.normalize_x509_users accepts (shared with
        # the REST face so the two transports cannot drift)
        from dataweb_spark.sources.pki import normalize_x509_users
        self._by_fp = {fp: u.principal
                       for fp, u in normalize_x509_users(users).items()}
        self._sessions: dict[bytes, str] = {}
        self._lock = threading.Lock()

    def authenticate(self, outgoing, incoming):
        import os

        from dataweb_spark.sources.pki import (
            fingerprint_der,
            verify_possession,
        )
        nonce = os.urandom(32)
        outgoing.write(nonce)
        payload = incoming.read()
        if len(payload) < 4:
            raise flight.FlightUnauthenticatedError("malformed handshake")
        cert_len = int.from_bytes(payload[:4], "big")
        der, sig = payload[4:4 + cert_len], payload[4 + cert_len:]
        if not verify_possession(der, nonce, sig):
            raise flight.FlightUnauthenticatedError(
                "certificate possession proof failed")
        fp = fingerprint_der(der)
        principal = self._by_fp.get(fp)
        if principal is None:
            raise flight.FlightUnauthenticatedError(
                f"unregistered certificate fingerprint {fp[:16]}…")
        token = os.urandom(24)
        with self._lock:
            self._sessions[token] = principal
        outgoing.write(token)

    def is_valid(self, token):
        with self._lock:
            principal = self._sessions.get(bytes(token))
        if principal is None:
            raise flight.FlightUnauthenticatedError(
                "invalid or missing session token")
        return principal.encode("utf-8")


class _CertClientAuth(flight.ClientAuthHandler):
    """Client half of :class:`_CertServerAuthHandler`.

    ``private_key`` may be a key object or PEM bytes — executor tasks
    (the distributed scan path) receive the key as PEM inside their
    serialized closure and re-load it here."""

    def __init__(self, cert_der: bytes, private_key):
        super().__init__()
        from dataweb_spark.sources.pki import load_private_key
        self._der = cert_der
        self._key = load_private_key(private_key)
        self._token = b""

    def authenticate(self, outgoing, incoming):
        from dataweb_spark.sources.pki import sign_nonce
        nonce = incoming.read()
        sig = sign_nonce(self._key, nonce)
        outgoing.write(len(self._der).to_bytes(4, "big") + self._der + sig)
        self._token = incoming.read()

    def get_token(self):
        return self._token


# Ids that appear in filesystem paths (job/task ids) must be plain
# identifiers — anything else is a path-traversal attempt.
_SAFE_ID = re.compile(r"[A-Za-z0-9_-]+")


class RelayFlightServer(flight.FlightServerBase):
    """One relay's Flight surface. Start with ``serve_in_background``.

    ``tokens`` (token → principal) turns on handshake authentication: the
    effective principal is the handshake identity, request-JSON principals
    are ignored, and ``do_get`` re-checks that the caller is the principal
    the task was planned for (origin-user re-check,
    ``flight_server/src/flight.rs:396-447``). Without ``tokens`` the server
    trusts the request principal — dev mode only.

    ``x509_relays`` enrolls trusted PEER RELAYS by certificate
    fingerprint: a request arriving under a relay identity is a forwarded
    query whose JSON principal names the ORIGIN user — honored exactly as
    the reference honors origination info from a registered relay
    (``core/src/execute/utils.rs:62-126``); the same JSON field from a
    USER identity stays ignored."""

    def __init__(self, spark: SparkSession, web: Web, relay_name: str,
                 location: str = "grpc://127.0.0.1:0",
                 tokens: dict[str, str] | None = None,
                 x509_users=None,
                 x509_relays=None,
                 job_store=None,
                 tls: tuple[bytes, bytes] | None = None,
                 mtls_ca: bytes | None = None):
        if tokens and (x509_users is not None or x509_relays is not None):
            raise ValueError("choose token auth OR x509 auth, not both")
        relay_principals: frozenset[str] = frozenset()
        if x509_users is not None or x509_relays is not None:
            # ``x509_relays`` enrolls TRUSTED PEER RELAYS by certificate
            # fingerprint — the ``get_relay_by_x509_fingerprint`` table of
            # the reference (``core/src/execute/utils.rs:70-94``): a
            # request arriving under a relay identity is a FORWARDED
            # query, and its JSON principal names the origin user the
            # peer already authenticated. User and relay tables share one
            # handshake; merge + disjointness live in ONE pki helper so
            # the Flight and REST faces cannot drift.
            from dataweb_spark.sources.pki import merge_identity_tables
            merged, relay_principals = merge_identity_tables(
                x509_users, x509_relays)
            auth = _CertServerAuthHandler(merged)
        elif tokens:
            auth = _TokenServerAuthHandler(tokens)
        else:
            auth = None
        self._relay_principals = relay_principals
        tls_certificates = None
        if mtls_ca is not None and tls is None:
            raise ValueError("mtls_ca requires tls (server cert/key)")
        if tls is not None:
            # TLS on the gRPC channel itself (the reference runs mTLS
            # end-to-end): the possession-challenge handshake above now
            # rides an encrypted transport instead of plaintext.
            cert_pem, key_pem = tls
            tls_certificates = [flight.CertKeyPair(cert_pem, key_pem)]
            if location.startswith("grpc://"):
                location = "grpc+tls://" + location[len("grpc://"):]
        # ``mtls_ca`` enables HANDSHAKE-level mutual TLS (the reference's
        # transport model, ``pki/mod.rs:12-25``): gRPC rejects any client
        # whose certificate doesn't chain to this CA before a single RPC
        # runs. Principal RESOLUTION still uses the possession-challenge
        # handshake (pyarrow doesn't surface the verified peer cert to
        # handlers), so the two layers compose: the CA gates the
        # transport, the challenge binds the principal.
        super().__init__(location, auth_handler=auth,
                         tls_certificates=tls_certificates,
                         verify_client=mtls_ca is not None,
                         root_certificates=mtls_ca or b"")
        self.spark = spark
        self.web = web
        self.relay_name = relay_name
        self.gateway = QueryGateway(spark, web, relay_name)
        self._authed = auth is not None
        self._tasks: dict[str, tuple] = {}   # ticket id → (df, principal)
        self._lock = threading.Lock()
        # Transfer accounting: what this relay actually shipped. The
        # pushdown tests (and operators) read these via the ``stats``
        # action to prove a narrowed peer query shrank the transfer.
        self.served_rows = 0
        self.served_batches = 0
        self._max_tasks = 4096  # re-planned-but-unredeemed ticket bound
        self.job_store = job_store  # enables do_put result push

    def _principal(self, context, requested: str | None) -> str | None:
        if not self._authed:
            return requested
        ident = context.peer_identity().decode("utf-8")
        if ident in self._relay_principals:
            # Trusted-relay delegation (``utils.rs:70-94``): the transport
            # identity is an enrolled peer relay forwarding on behalf of
            # the ORIGIN principal named in the request. All-or-none
            # origination (``utils.rs:116-124``): a relay hop without an
            # origin principal is malformed, never defaulted.
            if requested is None:
                raise flight.FlightUnauthenticatedError(
                    f"peer relay {ident!r} forwarded no origin principal")
            return requested
        # Direct user: transport identity IS the principal; any claimed
        # JSON principal is ignored.
        return ident

    # -- catalog listing (flight.rs:471-494) ------------------------------

    def list_flights(self, context, criteria):
        relay = self.web.relay(self.relay_name)
        for entity_name in relay.entities:
            df = resolve_entity(self.spark, self.web, self.relay_name,
                                entity_name)
            if df is None:
                continue
            schema = _to_arrow_schema(df)
            desc = flight.FlightDescriptor.for_path(entity_name)
            yield flight.FlightInfo(schema, desc, [], -1, -1)

    # -- query mapping (flight.rs:501-630) --------------------------------

    def get_flight_info(self, context, descriptor):
        req = json.loads(descriptor.command.decode("utf-8"))
        sql = req["sql"]
        principal = self._principal(context, req.get("principal"))
        mode = req.get("mode", "template")
        try:
            if mode == "engine":
                df = self.gateway.query(sql, principal)
                parts = [(self.relay_name, "__engine__", df)]
            else:
                parts = self.gateway.query_template(
                    sql, principal,
                    template_base=req.get("template_base"))
        except ValidationError as e:
            raise flight.FlightServerError(str(e)) from e

        endpoints = []
        schema = None
        # Redemption is keyed on the DIRECT transport identity, not the
        # effective principal: under relay delegation the task computes the
        # ORIGIN principal's view but only the planning relay (or the same
        # direct user) may redeem the ticket.
        owner = (context.peer_identity().decode("utf-8")
                 if self._authed else principal)
        with self._lock:
            for relay, source, df in parts:
                task_id = uuid.uuid4().hex
                self._tasks[task_id] = (df, owner)
                ticket = flight.Ticket(json.dumps(
                    {"task_id": task_id, "relay": relay,
                     "source": source}).encode("utf-8"))
                endpoints.append(flight.FlightEndpoint(ticket, []))
                if schema is None:
                    schema = _to_arrow_schema(df)
            # Retried executor tasks re-plan (a fresh get_flight_info per
            # retry); the superseded plans' tickets are never redeemed —
            # evict oldest so a long-lived relay stays bounded.
            while len(self._tasks) > self._max_tasks:
                self._tasks.pop(next(iter(self._tasks)))
        return flight.FlightInfo(schema, descriptor, endpoints, -1, -1)

    # -- task execution (flight.rs:449-460) -------------------------------

    def do_get(self, context, ticket):
        info = json.loads(ticket.ticket.decode("utf-8"))
        with self._lock:
            # Tickets are single-use in the reference protocol
            # (``flight.rs:449-460``) — pop so a long-lived server doesn't
            # retain one analyzed plan per endpoint per query forever.
            task = self._tasks.pop(info["task_id"], None)
        if task is None:
            raise flight.FlightServerError(f"unknown task {info['task_id']}")
        df, owner = task
        if self._authed:
            caller = context.peer_identity().decode("utf-8")
            if caller != owner:
                # origin-user re-check (flight.rs:396-447): a ticket planned
                # under one transport identity cannot be redeemed by another.
                raise flight.FlightUnauthorizedError(
                    f"task belongs to identity {owner!r}")
        table = df.toArrow()
        with self._lock:
            self.served_rows += table.num_rows
            self.served_batches += 1
        return flight.RecordBatchStream(table)

    # -- result push (flight.rs do_put analog) ----------------------------

    def do_put(self, context, descriptor, reader, writer):
        """A remote worker pushes one task's result stream to THIS relay.

        The reference's workers stream results back to the origin relay
        via ``do_put`` keyed by request/task ids
        (``flight_server/src/flight.rs`` put path); here the pushed stream
        lands in the relay's job store as a completed-task parquet, so
        submitters poll/read it exactly like locally-executed tasks. The
        job must already exist in the store (a blind push to an unknown
        job id is refused), and when auth is on the pusher's
        transport-derived principal is recorded with the task."""
        import pyarrow.parquet as pq

        if self.job_store is None:
            raise flight.FlightServerError("result push not enabled "
                                           "(no job store)")
        meta = json.loads(descriptor.command.decode("utf-8"))
        job_id = meta["job_id"]
        task_id = meta["task_id"]
        # job_id/task_id reach os.path.join below — a crafted id like
        # "../../tmp/evil" would escape the store root and let any network
        # client write parquet anywhere, so both must be plain identifiers.
        for label, ident in (("job_id", job_id), ("task_id", task_id)):
            if not isinstance(ident, str) or not _SAFE_ID.fullmatch(ident):
                raise flight.FlightServerError(
                    f"invalid {label} {ident!r}: must match "
                    f"{_SAFE_ID.pattern}")
        st = self.job_store.read_status(job_id)
        if st is None:
            raise flight.FlightServerError(f"unknown job {job_id!r}")
        principal = None
        if self._authed:
            principal = context.peer_identity().decode("utf-8")
            job_principal = st.get("principal")
            if job_principal is not None and principal != job_principal:
                # A job submitted under one principal only accepts result
                # pushes from that principal — otherwise any authenticated
                # client could overwrite another submitter's results.
                # Delegated jobs are recorded under their ORIGIN principal
                # (which no transport identity maps to), so a trusted PEER
                # RELAY may push for them — but it must ASSERT that origin
                # in the push command and match the job, the same
                # all-or-none origination contract as get_flight_info
                # (``utils.rs:62-126``); a relay never silently overwrites
                # an arbitrary job.
                asserted = meta.get("origin_principal")
                if (principal not in self._relay_principals
                        or asserted != job_principal):
                    raise flight.FlightUnauthorizedError(
                        f"job {job_id!r} belongs to principal "
                        f"{job_principal!r}")
        table = reader.read_all()
        import os as _os
        out_dir = _os.path.join(self.job_store.root, "results",
                                f"task_{task_id}")
        root_real = _os.path.realpath(self.job_store.root)
        if not _os.path.realpath(out_dir).startswith(root_real + _os.sep):
            raise flight.FlightServerError("result path escapes job store")
        _os.makedirs(out_dir, exist_ok=True)
        pq.write_table(table, _os.path.join(out_dir, "part-0.parquet"))
        task = {"task_id": task_id,
                "relay": meta.get("relay", "remote"),
                "source": meta.get("source", "pushed"),
                "status": "COMPLETE", "n_rows": table.num_rows,
                "result_path": out_dir, "error": None,
                "pushed_by": principal}
        tasks = [t for t in st.get("tasks", [])
                 if t["task_id"] != task_id] + [task]
        pending = any(t["status"] not in ("COMPLETE", "FAILED")
                      for t in tasks)
        if meta.get("final") and not pending:
            status = "COMPLETE"
        elif st.get("status") in ("COMPLETE", "FAILED"):
            status = st["status"]  # never regress a terminal job
        else:
            status = "IN_PROGRESS"
        self.job_store.mirror_status(job_id, status, tasks)

    # -- transfer stats (Flight action) -----------------------------------

    def do_action(self, context, action):
        if action.type == "stats":
            with self._lock:
                body = json.dumps({"served_rows": self.served_rows,
                                   "served_batches": self.served_batches})
            return [body.encode("utf-8")]
        raise flight.FlightServerError(f"unknown action {action.type!r}")


def _to_arrow_schema(df) -> pa.Schema:
    """Arrow schema of a DataFrame without executing it."""
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(df.schema)


def serve_in_background(spark: SparkSession, web: Web, relay_name: str,
                        tokens: dict[str, str] | None = None,
                        x509_users=None,
                        x509_relays=None,
                        job_store=None,
                        tls: tuple[bytes, bytes] | None = None,
                        mtls_ca: bytes | None = None
                        ) -> RelayFlightServer:
    """Start the server on an ephemeral port; returns the running server
    (``server.port`` for clients; ``server.shutdown()`` to stop).
    ``tls`` is a ``(cert_pem, key_pem)`` pair enabling grpc+tls;
    ``mtls_ca`` (CA bundle PEM) additionally requires every client to
    present a certificate chaining to that CA at the TLS handshake;
    ``x509_relays`` enrolls trusted peer-relay fingerprints whose
    forwarded requests carry the origin principal (see
    :class:`RelayFlightServer`)."""
    import socket
    import time

    server = RelayFlightServer(spark, web, relay_name, tokens=tokens,
                               x509_users=x509_users,
                               x509_relays=x509_relays,
                               job_store=job_store,
                               tls=tls, mtls_ca=mtls_ca)
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    # Don't return until the gRPC loop accepts connections: the thread
    # may not have reached serve() yet on a loaded machine, and a client
    # racing that window sees a bare connection-refused. A raw TCP
    # connect is enough as the readiness probe even under (m)TLS — the
    # handshake happens after accept. Fail loud, not open: a serve()
    # crash or an expired deadline raises here instead of handing back
    # a server object that refuses every connection.
    deadline = time.monotonic() + 15.0
    while True:
        try:
            with socket.create_connection(("127.0.0.1", server.port),
                                          timeout=0.5):
                return server
        except OSError:
            if not t.is_alive():
                raise RuntimeError(
                    "flight server thread died during startup "
                    f"(port {server.port})")
            if time.monotonic() >= deadline:
                raise RuntimeError(
                    "flight server did not accept connections within "
                    f"15s (port {server.port})")
            time.sleep(0.05)


# -- client helpers (test/flight_utils.py analog) -------------------------

def _connect(host: str, port: int, token: str | None,
             cert: tuple | None = None,
             tls_root_certs: bytes | None = None,
             client_tls: tuple[bytes, bytes] | None = None
             ) -> flight.FlightClient:
    if tls_root_certs is not None:
        kwargs = {"tls_root_certs": tls_root_certs}
        if client_tls is not None:
            # Mutual TLS: present our (cert_pem, key_pem) at the handshake.
            kwargs["cert_chain"], kwargs["private_key"] = client_tls
        client = flight.connect(f"grpc+tls://{host}:{port}", **kwargs)
    else:
        client = flight.connect(f"grpc://{host}:{port}")
    if cert is not None:
        client.authenticate(_CertClientAuth(*cert))
    elif token is not None:
        client.authenticate(_TokenClientAuth(token))
    return client


def flight_query(port: int, sql: str, principal: str | None = None,
                 mode: str = "template", host: str = "127.0.0.1",
                 token: str | None = None,
                 cert: tuple | None = None,
                 tls_root_certs: bytes | None = None,
                 client_tls: tuple[bytes, bytes] | None = None
                 ) -> pa.Table:
    """2-step client: get_flight_info → do_get every endpoint → concat.

    The concat of per-source streams is exactly what the reference's test
    client does (``flight_utils.py:66-75``). With ``token`` (or ``cert``,
    a ``(der_bytes, private_key)`` pair) the client authenticates first
    and the server derives the principal from the handshake, ignoring
    ``principal``. ``tls_root_certs`` (PEM) switches to grpc+tls;
    ``client_tls`` is the ``(cert_pem, key_pem)`` pair a
    ``mtls_ca``-gated server requires at the TLS handshake."""
    client = _connect(host, port, token, cert, tls_root_certs, client_tls)
    cmd = json.dumps({"sql": sql, "principal": principal,
                      "mode": mode}).encode("utf-8")
    info = client.get_flight_info(flight.FlightDescriptor.for_command(cmd))
    tables = []
    for ep in info.endpoints:
        reader = client.do_get(ep.ticket)
        tables.append(reader.read_all())
    return pa.concat_tables(tables, promote_options="default")


def flight_list_entities(port: int, host: str = "127.0.0.1",
                         token: str | None = None,
                         tls_root_certs: bytes | None = None,
                         cert: tuple | None = None,
                         client_tls: tuple[bytes, bytes] | None = None
                         ) -> dict[str, pa.Schema]:
    client = _connect(host, port, token, cert, tls_root_certs, client_tls)
    return {fi.descriptor.path[0].decode("utf-8"): fi.schema
            for fi in client.list_flights()}


def flight_put_result(port: int, job_id: str, task_id: str, table: pa.Table,
                      relay: str = "remote", source: str = "pushed",
                      final: bool = True, host: str = "127.0.0.1",
                      token: str | None = None,
                      cert: tuple | None = None,
                      tls_root_certs: bytes | None = None,
                      client_tls: tuple[bytes, bytes] | None = None,
                      origin_principal: str | None = None) -> None:
    """Worker side of the result push: stream ``table`` to the origin
    relay's ``do_put`` as the result of ``(job_id, task_id)``.
    ``origin_principal`` is required when pushing under a RELAY identity
    for a delegated job: it must name (and match) the job's origin
    principal."""
    client = _connect(host, port, token, cert, tls_root_certs, client_tls)
    cmd = json.dumps({"job_id": job_id, "task_id": task_id, "relay": relay,
                      "source": source, "final": final,
                      "origin_principal": origin_principal}).encode("utf-8")
    writer, _ = client.do_put(
        flight.FlightDescriptor.for_command(cmd), table.schema)
    writer.write_table(table)
    writer.close()


def flight_stats(port: int, host: str = "127.0.0.1",
                 token: str | None = None,
                 tls_root_certs: bytes | None = None,
                 cert: tuple | None = None,
                 client_tls: tuple[bytes, bytes] | None = None) -> dict:
    """Transfer counters of a (possibly remote-process) relay — how many
    rows/batches it has served. Lets tests and operators PROVE that a
    pushed-down peer query shrank the transfer, across process boundaries."""
    client = _connect(host, port, token, cert, tls_root_certs, client_tls)
    (result,) = client.do_action(flight.Action("stats", b""))
    return json.loads(result.body.to_pybytes().decode("utf-8"))


def flight_read_distributed(spark: SparkSession, host: str, port: int,
                            sql: str, principal: str | None = None,
                            mode: str = "template",
                            token: str | None = None,
                            tls_root_certs: bytes | None = None,
                            cert: tuple | None = None,
                            client_tls: tuple[bytes, bytes] | None = None):
    """Partition-per-endpoint Flight scan: executors stream the batches.

    The ``WebEntityScan`` physical plan analog
    (``webengine/src/web_source.rs:163-300``): the driver makes ONE cheap
    ``get_flight_info`` call for the endpoint list; the frame has exactly
    one partition per endpoint and no Exchange (:func:`item_frame` — the
    tickets ride in the task closure, not through a shuffle), and each
    task ``do_get``\\ s its own ticket and yields Arrow record batches
    via ``mapInArrow`` — result bytes never touch the driver, and
    endpoint count = scan parallelism exactly as in the reference.

    Tickets are single-use (reference protocol), so a RETRIED Spark task
    cannot re-redeem the one it was handed: on an unknown-ticket failure the
    task re-plans with its own ``get_flight_info`` (same command) and
    redeems the endpoint at its ordinal position — endpoint order is the
    server's stable per-source plan order, so position identifies "this
    task's slice" across plans.

    ``cert`` is a ``(der_bytes, private_key)`` possession-challenge
    identity and ``client_tls`` a ``(cert_pem, key_pem)`` mTLS pair —
    both travel to the executor tasks (keys serialized as PEM), so the
    distributed path authenticates exactly like the driver-pull path
    (the reference's relays present their own identity on every outbound
    channel, ``flight.rs:127-167``).
    """
    client = _connect(host, port, token, cert, tls_root_certs, client_tls)
    cmd_bytes = json.dumps({"sql": sql, "principal": principal,
                            "mode": mode}).encode("utf-8")
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(cmd_bytes))
    tickets = [(ep.ticket.ticket, idx, cmd_bytes)
               for idx, ep in enumerate(info.endpoints)]
    return _tickets_frame(spark, host, port, tickets, info.schema,
                          token=token, tls_root_certs=tls_root_certs,
                          cert=cert, client_tls=client_tls)


def _tickets_frame(spark: SparkSession, host: str, port: int,
                   tickets: list, arrow_schema,
                   token: str | None = None,
                   tls_root_certs: bytes | None = None,
                   cert: tuple | None = None,
                   client_tls: tuple[bytes, bytes] | None = None):
    """One Spark partition per (ticket, ordinal, plan-command) triple
    (:func:`item_frame`); each task redeems its ticket on an executor and
    streams the batches (re-planning at its ordinal on a consumed ticket —
    task retries)."""
    if cert is not None:
        # Key objects don't pickle; ship the possession-challenge key as
        # PEM bytes and let the task-side auth handler re-load it.
        from dataweb_spark.sources.pki import private_key_pem
        cert = (bytes(cert[0]), private_key_pem(cert[1]))

    def fetch(ticket):
        import pyarrow.flight as fl
        tk, idx, cmd = ticket
        if tls_root_certs is not None:
            kwargs = {"tls_root_certs": tls_root_certs}
            if client_tls is not None:
                kwargs["cert_chain"], kwargs["private_key"] = client_tls
            c = fl.connect(f"grpc+tls://{host}:{port}", **kwargs)
        else:
            c = fl.connect(f"grpc://{host}:{port}")
        if cert is not None:
            c.authenticate(_CertClientAuth(*cert))
        elif token is not None:
            c.authenticate(_TokenClientAuth(token))
        try:
            reader = c.do_get(fl.Ticket(tk))
        except fl.FlightError:
            # ticket already consumed (task retry): re-plan and redeem
            # this task's ordinal endpoint from the fresh plan
            info2 = c.get_flight_info(fl.FlightDescriptor.for_command(cmd))
            reader = c.do_get(info2.endpoints[idx].ticket)
        for chunk in reader:
            if chunk.data.num_rows:
                # cast defensively: concat/union on the caller side
                # expects exactly the advertised schema
                yield pa.Table.from_batches([chunk.data]) \
                        .cast(arrow_schema).to_batches()[0]
        c.close()

    return item_frame(spark, tickets, fetch, arrow_schema)


def flight_forward_template(spark: SparkSession, host: str, port: int,
                            sql: str, principal: str | None = None,
                            token: str | None = None,
                            tls_root_certs: bytes | None = None,
                            cert: tuple | None = None,
                            client_tls: tuple[bytes, bytes] | None = None,
                            template_base: str | None = None,
                            driver_pull: bool = False
                            ) -> list[tuple[str, str, "DataFrame"]]:
    """Forward a template-mode query to a peer relay WHOLE — the
    relay→relay fan-out of the reference (``flight.rs:237-309``): the peer
    maps the one-entity SQL per ITS sources and answers one endpoint per
    source carrying that source's PARTIAL result. Only the partials cross
    the wire (for aggregates: group rows, not entity rows). Returns
    ``[(peer_relay, peer_source, partial_df), ...]`` with the peer's own
    endpoint identities; each frame streams on an executor
    (single-endpoint ``mapInArrow``).

    ``driver_pull=True`` (r16, guide §5): redeem every endpoint on the
    DRIVER over the already-authenticated planning connection — one
    concurrent ``do_get`` per endpoint — and return local-relation
    frames. For the top-groups protocol rounds, whose answers are
    BOUNDED by construction (≤ m·sources / ≤ candidate-cap rows) and are
    collected to the driver immediately afterwards anyway, the executor
    fan-out is pure overhead: a Spark job per endpoint frame, a Python
    worker round-trip and a fresh gRPC connect+auth per endpoint just to
    move a few dozen rows that end up on the driver regardless (a
    2-endpoint aggregate round at sf0.01 on a 4-core host: 0.82 s on
    executors, 0.33 s pulled). Unbounded template results keep the
    executor path."""
    client = _connect(host, port, token, cert, tls_root_certs, client_tls)
    cmd: dict = {"sql": sql, "principal": principal, "mode": "template"}
    if template_base is not None:
        # r16: aggregate-protocol rounds tell the peer which partial
        # template they extend, so the peer's gateway shares ONE fact
        # extraction across all rounds (QueryGateway._round_facts); the
        # peer still fully validates every round SQL.
        cmd["template_base"] = template_base
    cmd_bytes = json.dumps(cmd).encode("utf-8")
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(cmd_bytes))
    metas = []
    for ep in info.endpoints:
        try:
            meta = json.loads(ep.ticket.ticket.decode("utf-8"))
        except Exception:
            meta = {}
        metas.append((meta.get("relay", "peer"), meta.get("source", "peer")))

    if driver_pull:
        from pyspark.sql.pandas.types import from_arrow_schema

        tables: list = [None] * len(info.endpoints)
        errs: list[BaseException] = []

        def pull(i: int, ep) -> None:
            try:
                # FlightClient is thread-safe; concurrent do_gets overlap
                # the peer's per-source execution of one round
                tables[i] = client.do_get(ep.ticket).read_all()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errs.append(e)

        import threading
        threads = [threading.Thread(target=pull, args=(i, ep))
                   for i, ep in enumerate(info.endpoints)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errs:
            raise errs[0]
        schema = from_arrow_schema(info.schema)
        return [
            ((relay, source,
              spark.createDataFrame(tbl.cast(info.schema), schema=schema)))
            for (relay, source), tbl in zip(metas, tables)
        ]

    out = []
    for idx, ((relay, source), ep) in enumerate(zip(metas, info.endpoints)):
        df = _tickets_frame(spark, host, port,
                            [(ep.ticket.ticket, idx, cmd_bytes)],
                            info.schema, token=token,
                            tls_root_certs=tls_root_certs,
                            cert=cert, client_tls=client_tls)
        out.append((relay, source, df))
    return out
