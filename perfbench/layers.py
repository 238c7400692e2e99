"""Per-layer instrumentation for the traced run.

Installs :class:`spans.Tracer` wrappers on the program's modules and
samples Spark, JVM and session counters around each traced operation.
Every per-layer metric is reported per traced operation; a layer the
workload does not reach reads 0.
"""

from __future__ import annotations

import importlib
import weakref

from corpus import STAGES as CORPUS_STAGES

RELAYS = ("na_us", "global", "edge")

# (module, function, span name)
FUNCTIONS = [
    ("plans.validation", "validate_sql", "plans.validation.validate_sql"),
    ("plans.pruning", "extract_entity_predicates", "plans.pruning.extract"),
    ("plans.pruning", "extract_entity_limit", "plans.pruning.extract"),
    ("plans.pruning", "extract_referenced_columns", "plans.pruning.extract"),
    ("plans.pruning", "output_shape_has_star", "plans.pruning.extract"),
    ("plans.aggpush", "extract_aggregate_query", "plans.aggpush.extract"),
    ("plans.topk", "extract_topk_query", "plans.topk.extract"),
    ("plans.topk", "extract_order_limit", "plans.topk.extract"),
    ("plans.topk", "extract_grouped_topk", "plans.topk.extract"),
    ("plans.resolve", "register_entity_views",
     "plans.resolve.register_entity_views"),
    ("plans.topgroups", "run_topk_groups", "plans.topgroups.run"),
    ("sources.readers", "read_source_frame",
     "sources.readers.read_source_frame"),
    ("sources.readers", "read_connection_table",
     "sources.readers.read_connection_table"),
    ("functions.dedup_index", "classify_against_index",
     "functions.dedup_index.classify"),
    ("functions.dedup_index", "ingest_batch",
     "functions.dedup_index.ingest_batch"),
]

# span name → (self-time metric, call-count metric)
TIMED = {span: (f"{span}_s", f"{span}_calls") for span in (
    "plans.validation.validate_sql", "plans.pruning.extract",
    "plans.aggpush.extract", "plans.topk.extract",
    "plans.resolve.register_entity_views", "plans.gateway.query_template",
    "plans.topgroups.run", "sources.readers.read_source_frame")}
TIMED["plans.gateway.query"] = ("plans.gateway.query_self_s",
                                "plans.gateway.query_calls")

# Layer spans whose union is the "covered" share of a relay query.
RELAY_LAYERS = frozenset(TIMED) | {
    f"sources.flight_service.{rpc}.{r}" for r in RELAYS
    for rpc in ("get_flight_info", "do_get")}


def metric_names() -> list[str]:
    """Every per-layer metric, in report order."""
    names = [name for pair in TIMED.values() for name in pair]
    names += ["plans.topgroups.protocol_share",
              "sources.flight_service.peer_rounds"]
    for rpc in ("get_flight_info", "do_get"):
        names += [f"sources.flight_service.{rpc}_s.{r}" for r in RELAYS]
    names += ["sources.flight_service.served_rows",
              "sources.flight_service.served_batches",
              "sources.flight_service.client_bytes",
              "sources.readers.read_source_frame_memo_hits",
              "relay.query_tail_s", "relay.replay_share"]
    names += [f"{s}_s" for s in CORPUS_STAGES]
    names += ["functions.dedup.lsh_useful_ratio",
              "functions.dedup.injected_recall",
              "functions.dedup_index.classify_s",
              "functions.dedup_index.append_s",
              "files.fp", "files.bands", "files.corpus",
              "bytes_written_per_admitted_byte",
              "session.live_sql_caches", "session.rotate_generations",
              "spark.jobs", "spark.stages", "spark.tasks", "jvm.gc_s",
              "host.calib_s", "host.calib_end_s",
              "trace.overhead_s", "trace.layer_coverage"]
    return names


def unit(name: str) -> str:
    stem = name.rsplit(".", 1)[0] if name.endswith(RELAYS) else name
    if stem.endswith("_s"):
        return "s"
    if name.endswith("client_bytes"):
        return "bytes"
    if name.endswith(("share", "ratio", "recall", "coverage", "_byte")):
        return "ratio"
    return "count"


def install(tracer) -> None:
    """Wrap the program's layer entry points (imports them first, so each
    ``from … import`` binding exists before it is rebound)."""
    from dataweb_spark.plans.gateway import QueryGateway
    from dataweb_spark.sources.flight_service import RelayFlightServer

    mods = {m: importlib.import_module(f"dataweb_spark.{m}")
            for m, _, _ in FUNCTIONS}
    seen = weakref.WeakValueDictionary()

    def memo_hit(out):
        raw = out[0]
        if seen.get(id(raw)) is raw:
            tracer.count("sources.readers.read_source_frame_memo_hits")
        else:
            seen[id(raw)] = raw

    def protocol(out):
        tracer.count("plans.topgroups.protocol", out is not None)

    after = {"read_connection_table": memo_hit, "run_topk_groups": protocol}
    for m, fn, name in FUNCTIONS:
        tracer.wrap_function(mods[m], fn, name, after.get(fn))
    tracer.wrap_method(QueryGateway, "query",
                       lambda *a, **k: "plans.gateway.query")
    tracer.wrap_method(QueryGateway, "query_template",
                       lambda *a, **k: "plans.gateway.query_template")
    for rpc in ("get_flight_info", "do_get"):
        tracer.wrap_method(
            RelayFlightServer, rpc,
            lambda srv, *a, rpc=rpc: f"sources.flight_service.{rpc}."
                                     f"{srv.relay_name}")


class SparkCounters:
    """Jobs, stages and tasks started, and JVM GC time, between calls."""

    def __init__(self, spark, group: str):
        self.sc = spark.sparkContext
        self.group = group
        self.sc.setJobGroup(group, "perfbench operation")
        self._seen: set[int] = set(self._job_ids())
        self._gc = self._gc_ms()

    def _job_ids(self) -> list[int]:
        st = self.sc.statusTracker()
        return list(st.getJobIdsForGroup(self.group)) + \
            list(st.getJobIdsForGroup(None))

    def _gc_ms(self) -> int:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(max(b.getCollectionTime(), 0)
                   for b in mf.getGarbageCollectorMXBeans())

    def delta(self) -> dict[str, float]:
        st = self.sc.statusTracker()
        new = [j for j in self._job_ids() if j not in self._seen]
        self._seen.update(new)
        stages = tasks = 0
        for j in new:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                stages += 1
                sinfo = st.getStageInfo(sid)
                tasks += sinfo.numTasks if sinfo else 0
        gc = self._gc_ms()
        out = {"spark.jobs": len(new), "spark.stages": stages,
               "spark.tasks": tasks, "jvm.gc_s": (gc - self._gc) / 1000.0}
        self._gc = gc
        return out


def session_counters(spark) -> dict[str, float]:
    from dataweb_spark import session

    gens = session._PROXY_GENERATIONS.get(spark, {})
    return {
        "session.live_sql_caches":
            spark.sparkContext._jsc.sc().getPersistentRDDs().size(),
        "session.rotate_generations":
            sum(len(site) for site in gens.values()),
    }
