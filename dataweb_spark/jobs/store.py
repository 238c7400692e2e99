"""File-backed cross-process job queue + result store.

The reference separates submission from execution: the REST server enqueues
a persisted request, `query_runner` worker processes claim and execute it,
results land in a shared object store, and the submitter polls status until
it can read them back (``query_runner/src/lib.rs:117-221``,
``rest_server/src/query/route.rs:110-137``; RabbitMQ broker option
``core/src/messaging/mod.rs:49-92``). This module is that topology on a
shared filesystem — the natural Spark deployment shape, where the "broker"
is the object store itself:

* ``submit`` writes the job spec to ``queued/`` (atomic tmp+rename).
* A worker (any process) ``claim``\\ s by renaming into ``claimed/`` —
  rename is atomic, exactly one worker wins a job.
* The worker executes via :class:`~dataweb_spark.jobs.manager.JobManager`
  (task parquet results under ``results/``) and mirrors per-task status
  into ``status/{job_id}.json``, appending every observed job-level state
  to ``history`` so the Queued → InProgress → Complete machine is
  auditable even by a poller that misses a transition.
* ``result`` reads completed task parquets back and unions them with
  provenance — the result-source analog, with the reference's
  ``allow_partial`` polling semantics (``route.rs:110-127``).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataweb_spark.jobs.manager import (
    CANCELLED,
    COMPLETE,
    FAILED,
    IN_PROGRESS,
    QUEUED,
    JobManager,
    JobNotReady,
)
from dataweb_spark.plans.resolve import PROVENANCE_RELAY, PROVENANCE_SOURCE
from dataweb_spark.session import scratch_dir


class _JobQueueCommon:
    """Submitter-facing polling/result logic shared by every broker kind
    (``read_status`` is the only storage primitive it needs)."""

    @staticmethod
    def _initial_status(job_id: str, principal: str | None) -> dict:
        """One definition of the submit-time status payload for every
        broker kind — a new field added here reaches all of them."""
        return {"job_id": job_id, "status": QUEUED, "history": [QUEUED],
                "principal": principal, "tasks": []}

    @staticmethod
    def _job_spec(job_id: str, sql: str, principal: str | None,
                  mode: str) -> dict:
        return {"job_id": job_id, "sql": sql, "principal": principal,
                "mode": mode}

    def wait(self, job_id: str, timeout: float = 120.0,
             poll: float = 0.05) -> dict:
        deadline = time.time() + timeout
        while time.time() < deadline:
            st = self.read_status(job_id)
            if st and st["status"] in (COMPLETE, FAILED, CANCELLED):
                return st
            time.sleep(poll)
        return self.read_status(job_id) or {"job_id": job_id,
                                            "status": QUEUED, "tasks": []}

    def result(self, spark: SparkSession, job_id: str,
               allow_partial: bool = False) -> DataFrame:
        """Union of completed task results read back from the store."""
        st = self.read_status(job_id)
        if st is None:
            raise JobNotReady(f"job {job_id}: no status recorded")
        tasks = st.get("tasks", [])
        pending = [t for t in tasks if t["status"] in (QUEUED, IN_PROGRESS)]
        failed = [t for t in tasks if t["status"] in (FAILED, CANCELLED)]
        if (not tasks or pending or failed) and not allow_partial:
            raise JobNotReady(
                f"job {job_id}: {len(pending)} pending, {len(failed)} failed "
                f"(pass allow_partial=True for completed-task results)")
        parts = []
        for t in tasks:
            if t["status"] != COMPLETE or not t.get("result_path"):
                continue
            df = spark.read.parquet(t["result_path"])
            parts.append(df.withColumn(PROVENANCE_RELAY, F.lit(t["relay"]))
                           .withColumn(PROVENANCE_SOURCE, F.lit(t["source"])))
        if not parts:
            raise JobNotReady(f"job {job_id}: no completed tasks")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out


class FileJobQueue(_JobQueueCommon):
    """Shared-filesystem job queue; safe for many submitters + workers."""

    def __init__(self, root: str):
        self.root = root
        for d in ("queued", "claimed", "cancelled", "status", "results",
                  "cancel_flags"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    # -- submitter side ---------------------------------------------------

    def submit(self, sql: str, principal: str | None = None,
               mode: str = "template") -> str:
        job_id = uuid.uuid4().hex[:12]
        # principal recorded in the STATUS too: do_put authorizes result
        # pushes against it (a job submitted under one principal refuses
        # pushes from another).
        self._write_status(job_id, self._initial_status(job_id, principal))
        self._atomic_json(
            os.path.join(self.root, "queued", f"{job_id}.json"),
            self._job_spec(job_id, sql, principal, mode))
        return job_id

    def read_status(self, job_id: str) -> dict | None:
        path = os.path.join(self.root, "status", f"{job_id}.json")
        try:
            with open(path, encoding="utf-8") as f:
                st = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None
        # The cancel flag is a SIDECAR MARKER, not a status field: the
        # status file is rewritten whole by the worker's mirror_status,
        # so a flag stored inside it can be clobbered by a concurrent
        # read-modify-write (cancel lands between the worker's read and
        # its atomic replace → last-writer-wins loses the flag). Marker
        # existence is monotonic — no rewrite can un-set it.
        if os.path.exists(os.path.join(self.root, "cancel_flags", job_id)):
            st["cancel_requested"] = True
        return st

    def _flag_cancel(self, job_id: str) -> None:
        """Raise the monotonic cancel flag (idempotent touch)."""
        path = os.path.join(self.root, "cancel_flags", job_id)
        with open(path, "w", encoding="utf-8"):
            pass

    def cancel(self, job_id: str, principal: str | None = None) -> dict:
        """Cancel a queued or claimed job.

        A still-queued job is taken off the queue with the SAME atomic
        rename the workers use to claim — exactly one of {worker, cancel}
        wins the file. A claimed job gets ``cancel_requested`` set in its
        status; the executing worker observes the flag between polls and
        interrupts the job through :meth:`JobManager.cancel`. Principal
        rule matches do_put: a job submitted under a principal refuses
        cancellation from anyone else."""
        st = self.read_status(job_id)
        if st is None:
            raise KeyError(f"unknown job {job_id}")
        if st.get("principal") and principal != st["principal"]:
            raise PermissionError(
                f"job {job_id} belongs to principal {st['principal']!r}")
        src = os.path.join(self.root, "queued", f"{job_id}.json")
        dst = os.path.join(self.root, "cancelled", f"{job_id}.json")
        try:
            os.rename(src, dst)
            self.mirror_status(job_id, CANCELLED, st.get("tasks", []))
        except (FileNotFoundError, OSError):
            # already claimed (or finished): raise the sidecar marker —
            # the executing worker observes it via read_status between
            # polls; unlike a status-file field it cannot be lost to a
            # concurrent mirror_status rewrite
            self._flag_cancel(job_id)
        return self.read_status(job_id)

    # -- worker side ------------------------------------------------------

    def claim(self) -> dict | None:
        """Atomically take one queued job (rename wins exactly once)."""
        qdir = os.path.join(self.root, "queued")
        for name in sorted(os.listdir(qdir)):
            if not name.endswith(".json"):
                continue
            src = os.path.join(qdir, name)
            dst = os.path.join(self.root, "claimed", name)
            try:
                os.rename(src, dst)
            except (FileNotFoundError, OSError):
                continue  # another worker won this one
            with open(dst, encoding="utf-8") as f:
                return json.load(f)
        return None

    def mirror_status(self, job_id: str, status: str,
                      tasks: list[dict]) -> None:
        st = self.read_status(job_id) or {"job_id": job_id, "history": []}
        hist = st.get("history", [])
        if not hist or hist[-1] != status:
            hist = hist + [status]
        self._write_status(job_id, {
            "job_id": job_id, "status": status, "history": hist,
            "tasks": tasks, "principal": st.get("principal"),
            "cancel_requested": st.get("cancel_requested", False)})

    # -- internals --------------------------------------------------------

    def _write_status(self, job_id: str, payload: dict) -> None:
        self._atomic_json(
            os.path.join(self.root, "status", f"{job_id}.json"), payload)

    @staticmethod
    def _atomic_json(path: str, payload: dict) -> None:
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(payload, f)
        os.replace(tmp, path)


class InMemoryJobQueue(_JobQueueCommon):
    """Channel-broker alternative (``core/src/messaging/mod.rs:49-92``):
    the reference lets deployments swap the persisted queue for a message
    channel (its RabbitMQ option; in-process mpsc in tests). Here the
    control plane is a lock-guarded deque + status dict — submission,
    claiming, and status never touch the filesystem; only task RESULTS do
    (they're data, written as parquet under ``root`` like every other
    sink). Single-process topology: submitter threads + worker threads in
    one driver, the common shape for a notebook or service embedding the
    engine. Same interface as :class:`FileJobQueue`, so ``run_worker``
    and the Flight ``do_put`` path take either."""

    def __init__(self, root: str | None = None):
        import threading

        self.root = root or scratch_dir("dw_jobs_")
        os.makedirs(os.path.join(self.root, "results"), exist_ok=True)
        self._lock = threading.Lock()
        self._queued: list[dict] = []
        self._status: dict[str, dict] = {}

    def submit(self, sql: str, principal: str | None = None,
               mode: str = "template") -> str:
        job_id = uuid.uuid4().hex[:12]
        with self._lock:
            self._status[job_id] = self._initial_status(job_id, principal)
            self._queued.append(self._job_spec(job_id, sql, principal,
                                               mode))
        return job_id

    def read_status(self, job_id: str) -> dict | None:
        import copy
        with self._lock:
            st = self._status.get(job_id)
            return copy.deepcopy(st) if st is not None else None

    def claim(self) -> dict | None:
        with self._lock:
            return self._queued.pop(0) if self._queued else None

    def cancel(self, job_id: str, principal: str | None = None) -> dict:
        """Channel-broker cancel: dequeue-or-flag under the same lock the
        workers claim under, so exactly one of {worker, cancel} gets a
        still-queued job."""
        with self._lock:
            st = self._status.get(job_id)
            if st is None:
                raise KeyError(f"unknown job {job_id}")
            if st.get("principal") and principal != st["principal"]:
                raise PermissionError(
                    f"job {job_id} belongs to principal "
                    f"{st['principal']!r}")
            before = len(self._queued)
            self._queued = [s for s in self._queued
                            if s["job_id"] != job_id]
            if len(self._queued) < before:
                hist = st.get("history", [])
                if not hist or hist[-1] != CANCELLED:
                    hist = hist + [CANCELLED]
                self._status[job_id] = dict(
                    st, status=CANCELLED, history=hist)
            else:
                self._status[job_id] = dict(st, cancel_requested=True)
        return self.read_status(job_id)

    def mirror_status(self, job_id: str, status: str,
                      tasks: list[dict]) -> None:
        with self._lock:
            st = self._status.get(job_id, {"job_id": job_id, "history": []})
            hist = st.get("history", [])
            if not hist or hist[-1] != status:
                hist = hist + [status]
            self._status[job_id] = {
                "job_id": job_id, "status": status, "history": hist,
                "tasks": tasks, "principal": st.get("principal"),
                "cancel_requested": st.get("cancel_requested", False)}


def run_worker(spark: SparkSession, web, relay_name: str,
               queue: FileJobQueue, poll: float = 0.1,
               stop_file: str | None = None,
               max_jobs: int | None = None) -> int:
    """Worker loop: claim → execute → mirror status. Returns jobs run.

    Executes each claimed job through a :class:`JobManager` whose results
    dir is the store's ``results/`` tree, mirroring the status machine
    (with history) into the store as it progresses."""
    manager = JobManager(spark, web, relay_name,
                         results_dir=os.path.join(queue.root, "results"))
    done = 0
    while max_jobs is None or done < max_jobs:
        if stop_file and os.path.exists(stop_file):
            break
        spec = queue.claim()
        if spec is None:
            time.sleep(poll)
            continue
        job_id = spec["job_id"]
        try:
            local_id = manager.submit(spec["sql"], spec.get("principal"),
                                      spec.get("mode", "template"))
        except Exception as e:  # validation failure → FAILED, recorded
            queue.mirror_status(job_id, FAILED, [
                {"task_id": "-", "relay": relay_name, "source": "-",
                 "status": FAILED, "n_rows": None, "result_path": None,
                 "error": f"{type(e).__name__}: {e}"}])
            done += 1
            continue
        cancel_sent = False
        while True:
            qst = queue.read_status(job_id) or {}
            if qst.get("cancel_requested") and not cancel_sent:
                # submitter cancelled after the claim: interrupt the
                # running Spark stages through the manager
                manager.cancel(local_id, spec.get("principal"))
                cancel_sent = True
            st = manager.status(local_id)
            tasks = [dict(t, result_path=_task_path(manager, t))
                     for t in st["tasks"]]
            queue.mirror_status(job_id, st["status"], tasks)
            if st["status"] in (COMPLETE, FAILED, CANCELLED):
                break
            time.sleep(poll)
        done += 1
    return done


def _task_path(manager: JobManager, t: dict) -> str | None:
    job_tasks = [jt for j in manager._jobs.values()
                 for jt in j.tasks.values() if jt.task_id == t["task_id"]]
    return job_tasks[0].result_path if job_tasks else None
