"""Async job layer — the REST ``POST /query`` → ``GET /query/{id}`` path.

Reference lifecycle (SURVEY.md §3.3): a submitted request is validated,
mapped to one task per mapped source, enqueued, and executed by background
workers (``query_runner/src/lib.rs:300-329``); each task's result is
persisted as ``task_{id}/result.parquet`` in an object store
(``core/src/execute/result_manager.rs:58-92``); the status machine is
Queued → InProgress → Complete/Failed (``core/src/model/query.rs:131-139``);
polling returns status until everything lands unless ``allow_partial``
(``rest_server/src/query/route.rs:57-147``); results stream back as NDJSON
with ``_relay_metadata_`` injected per record
(``rest_server/src/query/utils.rs:57-169``); individual task failures are
logged and the rest proceed (``flight_server/src/flight.rs:273-306``).

Spark-first shape: tasks are Spark actions submitted from a thread pool
(the Spark scheduler multiplexes them); plan construction (temp-view
registration + analysis) is serialized under a lock because temp views are
session-global, while the expensive part — execution + parquet write — runs
concurrently. Results live under ``results_dir/task_{id}/`` as parquet, so
"read a stored result" is just ``spark.read.parquet`` (the result-source
analog, ``result_manager.rs:94-104``).
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataweb_spark.catalog.model import Web
from dataweb_spark.plans.gateway import (
    QueryGateway,
    bind_template_view,
    pushdown_facts,
)
from dataweb_spark.plans.resolve import (
    PROVENANCE_RELAY,
    PROVENANCE_SOURCE,
    failover,
    plan_entity,
)
from dataweb_spark.plans.validation import ValidationError, validate_sql
from dataweb_spark.session import scratch_dir

QUEUED = "QUEUED"
IN_PROGRESS = "IN_PROGRESS"
COMPLETE = "COMPLETE"
FAILED = "FAILED"
CANCELLED = "CANCELLED"


@dataclass
class QueryTask:
    """One per mapped source (per replica group: ``source`` names the
    member that answered) — the ``QueryTask`` row analog
    (``core/src/model/query.rs:112-129``)."""
    task_id: str
    relay: str
    source: str
    status: str = QUEUED
    error: str | None = None
    result_path: str | None = None
    n_rows: int | None = None
    elapsed_s: float | None = None


@dataclass
class QueryJob:
    """The persisted request analog (``core/src/model/query.rs:79-104``)."""
    job_id: str
    sql: str
    principal: str | None
    mode: str  # "engine" | "template"
    tasks: dict[str, QueryTask] = field(default_factory=dict)
    created_at: float = field(default_factory=time.time)
    cancel_requested: bool = False

    @property
    def status(self) -> str:
        st = [t.status for t in self.tasks.values()]
        if any(s in (QUEUED, IN_PROGRESS) for s in st):
            return IN_PROGRESS if any(s != QUEUED for s in st) else QUEUED
        if any(s == CANCELLED for s in st):
            return CANCELLED
        if all(s == FAILED for s in st):
            return FAILED
        return COMPLETE


class JobNotReady(Exception):
    """Raised by ``result`` when tasks are still outstanding and
    ``allow_partial`` is off (``route.rs:110-127`` returns status instead)."""


class JobManager:
    """Submit/poll/fetch for one (web, home relay) pair."""

    def __init__(self, spark: SparkSession, web: Web, relay_name: str,
                 results_dir: str | None = None, max_workers: int = 8):
        self.spark = spark
        self.web = web
        self.relay_name = relay_name
        self.gateway = QueryGateway(spark, web, relay_name)
        self.results_dir = results_dir or scratch_dir("dataweb_results_")
        self._jobs: dict[str, QueryJob] = {}
        self._lock = threading.Lock()       # job table + temp-view analysis
        self._pool = ThreadPoolExecutor(max_workers=max_workers,
                                        thread_name_prefix="dw-query")

    # -- submit ----------------------------------------------------------

    def submit(self, sql: str, principal: str | None = None,
               mode: str = "template") -> str:
        """Validate, map to tasks, enqueue; returns the job id.

        ``template`` mode = one task per mapped source — per replica
        group of the entity's source plan, declared-order failover, so
        mirrors answer once — with per-source partial results (the
        reference's only async mode). ``engine`` mode = a single task
        running the composed cross-source query.
        """
        if mode not in ("template", "engine"):
            raise ValueError(f"unknown mode {mode!r}")
        q = validate_sql(self.spark, sql, single_entity=(mode == "template"))
        relay = self.web.relay(self.relay_name)
        unknown = {e for e in q.entities if e not in relay.entities}
        if unknown:
            raise ValidationError(
                f"unknown entity(ies): {sorted(unknown)}; "
                f"relay {self.relay_name!r} declares {sorted(relay.entities)}")

        job = QueryJob(job_id=uuid.uuid4().hex[:12], sql=sql,
                       principal=principal, mode=mode)
        if mode == "engine":
            t = QueryTask(task_id=uuid.uuid4().hex[:12],
                          relay=self.relay_name, source="__engine__")
            job.tasks[t.task_id] = t
            work = [(t, None)]
        else:
            # one task per replica group of the entity's source plan
            entity = next(iter(q.entities))
            facts = pushdown_facts(q, relay.entities, topk=False)
            plan = plan_entity(self.web, self.relay_name, entity,
                               facts.entity(entity))
            work = []
            for node, chain in plan.walk() if plan is not None else ():
                for group in node.groups:
                    t = QueryTask(task_id=uuid.uuid4().hex[:12],
                                  relay=node.relay.name,
                                  source=group[0].name)
                    job.tasks[t.task_id] = t
                    work.append((t, (entity, node, chain, group)))
            if not work:
                raise ValidationError("query mapped to no sources")

        with self._lock:
            self._jobs[job.job_id] = job
        for t, leaf in work:
            self._pool.submit(self._run_task, job, t, leaf)
        return job.job_id

    # -- worker ----------------------------------------------------------

    def _run_task(self, job: QueryJob, task: QueryTask, leaf) -> None:
        """``leaf`` is ``(home entity, plan node, hop chain, replica
        group)`` for a template task, None for the engine task."""
        if job.cancel_requested:
            if task.status == QUEUED:
                task.status = CANCELLED
            return
        task.status = IN_PROGRESS
        t_start = time.time()
        # Tag this pool thread's Spark actions with a per-job group so
        # cancel() can interrupt running stages (thread-local property —
        # other sessions/threads are untouched).
        self.spark.sparkContext.setJobGroup(
            f"dwjob-{job.job_id}", f"dataweb job {job.job_id}",
            interruptOnCancel=True)
        try:
            # Plan under the lock (temp views are session-global; analysis
            # binds the view into the DataFrame so execution can overlap).
            with self._lock:
                if leaf is None:
                    df = self.gateway.query(job.sql, job.principal)
                else:
                    entity, node, chain, group = leaf

                    def bind(source):
                        df = bind_template_view(
                            self.spark, node, chain, source,
                            job.principal, entity, job.sql)
                        task.source = source.name  # the member that answered
                        return df

                    df = failover(node.relay.name, group, bind)
            if job.cancel_requested:
                # cancel landed during planning, before any Spark job
                # existed for cancelJobGroup to interrupt
                task.error = "cancelled"
                task.status = CANCELLED
                return
            path = os.path.join(self.results_dir, f"task_{task.task_id}")
            df.write.mode("overwrite").parquet(path)
            task.result_path = path
            task.n_rows = self.spark.read.parquet(path).count()
            task.status = COMPLETE
        except Exception as e:  # partial-failure tolerance (flight.rs:273-306)
            if job.cancel_requested:
                task.error = "cancelled"
                task.status = CANCELLED
            else:
                task.error = f"{type(e).__name__}: {e}"
                task.status = FAILED
        finally:
            task.elapsed_s = round(time.time() - t_start, 3)

    # -- poll ------------------------------------------------------------

    def status(self, job_id: str) -> dict:
        job = self._jobs[job_id]
        return {
            "job_id": job.job_id,
            "status": job.status,
            "mode": job.mode,
            "principal": job.principal,
            # a cancel that lands mid-run returns before the interrupted
            # task settles; the flag says the worker will stop it
            "cancel_requested": job.cancel_requested,
            "tasks": [
                {"task_id": t.task_id, "relay": t.relay, "source": t.source,
                 "status": t.status, "n_rows": t.n_rows, "error": t.error,
                 "elapsed_s": t.elapsed_s}
                for t in job.tasks.values()],
        }

    def wait(self, job_id: str, timeout: float = 120.0,
             poll: float = 0.1) -> dict:
        deadline = time.time() + timeout
        while time.time() < deadline:
            st = self.status(job_id)
            if st["status"] in (COMPLETE, FAILED, CANCELLED):
                return st
            time.sleep(poll)
        return self.status(job_id)

    def list_jobs(self) -> list[dict]:
        """Submission-ordered job summaries (newest last) — the ops-facing
        queue view behind ``GET /query``."""
        with self._lock:
            jobs = sorted(self._jobs.values(), key=lambda j: j.created_at)
        return [{"job_id": j.job_id, "status": j.status, "mode": j.mode,
                 "principal": j.principal, "created_at": j.created_at,
                 "n_tasks": len(j.tasks)} for j in jobs]

    # -- cancel ----------------------------------------------------------

    def cancel(self, job_id: str, principal: str | None = None) -> dict:
        """Best-effort job cancellation (``route.rs`` DELETE analog).

        Queued tasks flip to CANCELLED and never start; running tasks get
        their Spark job group interrupted (stages killed mid-flight), which
        surfaces as a CANCELLED task rather than FAILED. Tasks that already
        completed keep their results — readable via
        ``result(allow_partial=True)``. A job submitted under a principal
        can only be cancelled by that principal (same authorization rule as
        the do_put result push)."""
        job = self._jobs[job_id]
        if job.principal is not None and principal != job.principal:
            raise PermissionError(
                f"job {job_id} belongs to principal {job.principal!r}")
        job.cancel_requested = True
        with self._lock:
            for t in job.tasks.values():
                if t.status == QUEUED:
                    t.status = CANCELLED
        sc = self.spark.sparkContext
        group = f"dwjob-{job_id}"
        # The future-jobs variant also kills Spark jobs the task is ABOUT
        # to start — plain cancelJobGroup only hits currently-active jobs,
        # leaving a race in the window where the action is still in
        # physical planning (no active job yet). PySpark doesn't surface
        # it (Spark 4.1), so go through the JVM context.
        if hasattr(sc, "cancelJobGroupAndFutureJobs"):
            sc.cancelJobGroupAndFutureJobs(group)
        elif hasattr(sc._jsc.sc(), "cancelJobGroupAndFutureJobs"):
            sc._jsc.sc().cancelJobGroupAndFutureJobs(group)
        else:  # pragma: no cover — Spark < 3.5
            sc.cancelJobGroup(group)
        return self.status(job_id)

    # -- results ---------------------------------------------------------

    def result(self, job_id: str, allow_partial: bool = False) -> DataFrame:
        """Union of task results (with provenance), read back from the
        parquet result store."""
        job = self._jobs[job_id]
        pending = [t for t in job.tasks.values()
                   if t.status in (QUEUED, IN_PROGRESS)]
        failed = [t for t in job.tasks.values()
                  if t.status in (FAILED, CANCELLED)]
        if (pending or failed) and not allow_partial:
            raise JobNotReady(
                f"job {job_id}: {len(pending)} pending, {len(failed)} failed "
                f"(pass allow_partial=True for completed-task results)")
        parts = []
        for t in job.tasks.values():
            if t.status != COMPLETE:
                continue
            df = self.spark.read.parquet(t.result_path)
            parts.append(df.withColumn(PROVENANCE_RELAY, F.lit(t.relay))
                           .withColumn(PROVENANCE_SOURCE, F.lit(t.source)))
        if not parts:
            raise JobNotReady(f"job {job_id}: no completed tasks")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def result_ndjson(self, job_id: str,
                      allow_partial: bool = False) -> Iterator[str]:
        """NDJSON export with ``_relay_metadata_`` per record."""
        df = self.result(job_id, allow_partial=allow_partial)
        yield from self.gateway.to_ndjson(df)

    def shutdown(self) -> None:
        self._pool.shutdown(wait=True)
