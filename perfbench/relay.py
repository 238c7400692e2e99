"""``relay`` workload: one client's sessions of entity SQL over Flight.

Three in-process relays share the benchmark's one SparkSession:

* ``na_us``  — the demo web's two-source ``lineitem`` (trino-shaped and
  csv-shaped sources, default permission on the csv one);
* ``global`` — the demo web's ``customer`` / ``orders`` dimensions;
* ``edge``   — an identity view of ``na_us``'s ``lineitem`` through a
  Flight connection, so its queries cross one relay hop.

One operation is one session: every template below once, in a seeded
order, with seeded literals. A seeded share of sessions replays an
earlier session verbatim. Answers are checked after the timed loop
against DuckDB over the same parquet, through the repo's mapped-union
oracle views.
"""

from __future__ import annotations

import contextlib
import math
import os
import time
import traceback

import numpy as np

import datagen

SF = 0.02
SESSIONS = 400          # pre-generated; a run uses a prefix
REPLAY_SHARE = 0.25     # chance that a session replays an earlier one
WARMUP_SESSIONS = 3

# name → (relay, sql template, oracle template, ordered?)
TEMPLATES = {
    "edge_agg": ("edge", """
        select returnflag, linestatus, count(*) as n,
               sum(quantity) as sum_qty, min(extendedprice) as min_price
        from lineitem where quantity >= {q}
        group by returnflag, linestatus""", "entity", False),
    "edge_topk": ("edge", """
        select extendedprice, quantity, partkey, suppkey, linenumber,
               returnflag, linestatus
        from lineitem where quantity >= {q}
        order by extendedprice desc, partkey, suppkey, linenumber,
                 quantity, returnflag, linestatus
        limit {k}""", "entity", True),
    "edge_topgroups": ("edge", """
        select partkey, sum(quantity) as total_qty, count(*) as n
        from lineitem where quantity >= {q}
        group by partkey
        order by total_qty desc, partkey asc
        limit {k}""", "entity", True),
    "edge_scan": ("edge", """
        select partkey, suppkey, linenumber, quantity, extendedprice,
               returnflag
        from lineitem where partkey >= {p} and partkey < {p_end}""",
                  "entity", False),
    "na_us_agg": ("na_us", """
        select returnflag, linestatus, count(*) as n,
               count(orderkey) as n_orderkey,
               sum(extendedprice) as revenue
        from lineitem where discount_percent <= {d}
        group by returnflag, linestatus""", "entity", False),
    "global_join": ("global", """
        select c.mktsegment, count(*) as n, sum(o.totalprice) as total
        from customer c join orders o on c.custkey = o.custkey
        where o.orderdate >= timestamp '{y}-01-01'
          and o.orderdate < timestamp '{y}-07-01'
        group by c.mktsegment""", """
        select c_mktsegment as mktsegment, count(*) as n,
               sum(o_totalprice) as total
        from customer join orders on c_custkey = o_custkey
        where o_orderdate >= timestamp '{y}-01-01'
          and o_orderdate < timestamp '{y}-07-01'
        group by c_mktsegment""", False),
}


def make_sessions(seed: int, n: int = SESSIONS, stream: int = 10
                  ) -> tuple[list, list[bool]]:
    """Seeded sessions: lists of ``(template, literals, principal)``.
    Returns the sessions and, per session, whether it is a replay."""
    rng = np.random.default_rng([seed, stream])
    sessions, replay = [], []
    names = sorted(TEMPLATES)
    n_part = int(datagen.PARTS_PER_SF * SF)
    for i in range(n):
        if i > 0 and rng.random() < REPLAY_SHARE:
            sessions.append(sessions[int(rng.integers(0, i))])
            replay.append(True)
            continue
        p = int(rng.integers(0, n_part - 40))
        lits = {
            "edge_agg": {"q": int(rng.integers(1, 41))},
            "edge_topk": {"q": int(rng.integers(1, 41)),
                          "k": int(rng.integers(10, 51))},
            "edge_topgroups": {"q": int(rng.integers(1, 21)),
                               "k": int(rng.integers(5, 21))},
            "edge_scan": {"p": p, "p_end": p + int(rng.integers(10, 41))},
            "na_us_agg": {"d": int(rng.integers(1, 11))},
            "global_join": {"y": int(rng.integers(1992, 1998))},
        }
        principal = "all_access" if i % 2 else None
        order = [names[j] for j in rng.permutation(len(names))]
        sessions.append([(t, lits[t], principal if t == "na_us_agg"
                          else None) for t in order])
        replay.append(False)
    return sessions, replay


def _edge_web(na_us_port: int):
    from dataweb_spark.catalog.model import (
        DataConnection, DataSource, Entity, Mapping, RelayCatalog, Web,
    )
    from dataweb_spark.demo import LINEITEM_INFOS

    edge = RelayCatalog(name="edge")
    edge.add_entity(Entity("lineitem", list(LINEITEM_INFOS)))
    edge.add_connection(DataConnection(
        "na_us_flight", "flight", {"port": str(na_us_port)}))
    edge.add_source(DataSource(
        name="lineitem_na_us", connection="na_us_flight", entity="lineitem",
        source_sql="select * from {table}",
        mappings=[Mapping(i.name, i.name) for i in LINEITEM_INFOS],
        options={"entity": "lineitem"}))
    web = Web()
    web.add_relay(edge)
    return web


def _rows(table, ordered: bool) -> list[tuple]:
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    rows = list(zip(*cols)) if cols else []
    return rows if ordered else sorted(rows, key=repr)


def _same(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                        x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


class Relay:
    name = "relay"
    unit = "session"

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.data_dir = os.path.join(workdir, "relay_data")
        self.sessions, self.replay = make_sessions(seed)
        # warm-up sessions come from their own stream, so no timed
        # session finds its literals already cached
        self.warm = make_sessions(seed, WARMUP_SESSIONS, stream=11)[0]
        self.servers: dict = {}
        self.answers: list = []     # (template, lits, principal, table)
        self.query_s: list[float] = []
        self.items = 0              # completed queries
        self.client_bytes = 0
        self.on_query = None        # tracer hook: on_query(template) → ctx

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        from dataweb_spark.demo import build_demo_web
        from dataweb_spark.sources.flight_service import serve_in_background

        datagen.write_tables(datagen.relay_tables(self.seed, SF),
                             self.data_dir)
        demo = build_demo_web(self.data_dir)
        for name in ("na_us", "global"):
            self.servers[name] = serve_in_background(self.spark, demo, name)
        self.servers["edge"] = serve_in_background(
            self.spark, _edge_web(self.servers["na_us"].port), "edge")

    def warmup(self) -> None:
        for session in self.warm:
            self.run_session(session, record=False)

    def close(self) -> None:
        for s in self.servers.values():
            s.shutdown()
        self.servers.clear()

    # -- one operation --------------------------------------------------

    def query(self, template: str, lits: dict, principal):
        from dataweb_spark.sources.flight_service import flight_query

        relay, sql, _, _ = TEMPLATES[template]
        return flight_query(self.servers[relay].port, sql.format(**lits),
                            principal=principal, mode="engine")

    def op(self, i: int) -> None:
        self.run_session(self.sessions[i])

    def run_session(self, session, record: bool = True) -> None:
        for template, lits, principal in session:
            with self._query_ctx(template):
                t0 = time.perf_counter()
                try:
                    table = self.query(template, lits, principal)
                except Exception:  # noqa: BLE001 — counted as failed
                    traceback.print_exc()
                    table = None
                dt = time.perf_counter() - t0
            if record:
                self.query_s.append(dt)
                self.items += 1
                self.client_bytes += table.nbytes if table else 0
                self.answers.append((template, lits, principal, table))

    def _query_ctx(self, template: str):
        return (self.on_query(template) if self.on_query is not None
                else contextlib.nullcontext())

    def sample(self) -> dict[str, int]:
        """Cumulative transfer counters: rows and batches served, summed
        over the relays' Flight ``stats`` actions, and bytes the client
        received."""
        from dataweb_spark.sources.flight_service import flight_stats

        pre = "sources.flight_service."
        out = {pre + "served_rows": 0, pre + "served_batches": 0,
               pre + "client_bytes": self.client_bytes}
        for server in self.servers.values():
            for key, val in flight_stats(server.port).items():
                out[pre + key] += val
        return out

    # -- correctness ----------------------------------------------------

    def verify(self) -> tuple[int, list[str]]:
        """Checks every recorded answer against DuckDB; returns the
        number of queries checked and one message per mismatch."""
        import duckdb

        from dataweb_spark.queries import (_FED_VIEW_ALL_ACCESS,
                                           _FED_VIEW_DEFAULT)

        con = duckdb.connect()
        for t in ("lineitem", "customer", "orders"):
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"create view {t} as select * from "
                        f"read_parquet('{path}')")
        expected: dict = {}
        bad = []
        for template, lits, principal, table in self.answers:
            key = (template, tuple(sorted(lits.items())), principal)
            _, sql, oracle, ordered = TEMPLATES[template]
            if key not in expected:
                if oracle == "entity":
                    view = (_FED_VIEW_ALL_ACCESS if principal == "all_access"
                            else _FED_VIEW_DEFAULT)
                    osql = view + sql.format(**lits).replace(
                        "from lineitem", "from entity_lineitem")
                else:
                    osql = oracle.format(**lits)
                expected[key] = _rows(con.execute(osql).arrow(), ordered)
            if table is None or not _same(_rows(table, ordered),
                                          expected[key]):
                bad.append(f"{template} {lits} principal={principal}")
        con.close()
        return len(self.answers), bad

    def replay_share(self, n_ops: int) -> float:
        return sum(self.replay[:n_ops]) / max(n_ops, 1)
