"""Async job layer — the REST POST/GET lifecycle analog (SURVEY.md §3.3):
per-source tasks, parquet result store, allow_partial, NDJSON metadata,
partial-failure tolerance."""

import json

import pytest

from dataweb_spark.jobs import COMPLETE, FAILED, JobManager, JobNotReady
from dataweb_spark.plans.validation import ValidationError


@pytest.fixture()
def manager(spark, demo_web, tmp_path):
    m = JobManager(spark, demo_web, "na_us", results_dir=str(tmp_path))
    yield m
    m.shutdown()


def test_template_job_per_source_tasks(manager, spark):
    job_id = manager.submit(
        "select returnflag, count(*) as n from lineitem group by returnflag")
    st = manager.wait(job_id)
    assert st["status"] == COMPLETE
    # one task per mapped source of the demo web's lineitem entity
    assert sorted(t["source"] for t in st["tasks"]) == \
        ["lineitem_csv", "lineitem_trino"]
    assert all(t["status"] == COMPLETE for t in st["tasks"])
    # results persisted as parquet and read back with provenance
    df = manager.result(job_id)
    rows = df.collect()
    assert {r["_source_id_"] for r in rows} == \
        {"lineitem_csv", "lineitem_trino"}
    # per-source PARTIAL counts sum to the entity-view total
    total = sum(r["n"] for r in rows)
    from dataweb_spark.plans.gateway import QueryGateway
    gw = QueryGateway(spark, manager.web, "na_us")
    expected = gw.query("select count(*) as n from lineitem").collect()[0]["n"]
    assert total == expected


def test_engine_job_single_task(manager, spark):
    job_id = manager.submit(
        "select returnflag, count(*) as n from lineitem group by returnflag",
        mode="engine")
    st = manager.wait(job_id)
    assert st["status"] == COMPLETE
    assert len(st["tasks"]) == 1
    df = manager.result(job_id)
    assert df.count() == 3  # A / N / R — final (non-partial) aggregate


def test_result_before_done_requires_allow_partial(manager):
    job_id = manager.submit("select count(*) as n from lineitem")
    # immediately: either still running (JobNotReady) or already done
    st = manager.status(job_id)
    if st["status"] not in (COMPLETE, FAILED):
        with pytest.raises(JobNotReady):
            manager.result(job_id)
    manager.wait(job_id)
    assert manager.result(job_id).count() >= 1


def test_ndjson_has_relay_metadata(manager):
    job_id = manager.submit(
        "select returnflag, count(*) as n from lineitem group by returnflag")
    manager.wait(job_id)
    recs = [json.loads(x) for x in manager.result_ndjson(job_id)]
    assert recs, "no NDJSON records"
    for r in recs:
        assert r["_relay_metadata_"]["_source_relay_"] == "na_us"
        assert r["_relay_metadata_"]["_source_id_"] in (
            "lineitem_csv", "lineitem_trino")


def test_partial_failure_tolerated(spark, demo_web, tmp_path):
    """A source with a broken path fails its task; the other proceeds —
    flight.rs:273-306 behavior."""
    import copy

    web = copy.deepcopy(demo_web)
    bad = web.relay("na_us").sources["lineitem_csv"]
    bad.options["table"] = "nonexistent_file.parquet"
    m = JobManager(spark, web, "na_us", results_dir=str(tmp_path))
    try:
        job_id = m.submit("select count(*) as n from lineitem")
        st = m.wait(job_id)
        by_source = {t["source"]: t for t in st["tasks"]}
        assert by_source["lineitem_csv"]["status"] == FAILED
        assert by_source["lineitem_csv"]["error"]
        assert by_source["lineitem_trino"]["status"] == COMPLETE
        with pytest.raises(JobNotReady):
            m.result(job_id)                       # failed task present
        df = m.result(job_id, allow_partial=True)  # completed tasks only
        assert df.count() == 1
        assert df.collect()[0]["_source_id_"] == "lineitem_trino"
    finally:
        m.shutdown()


def test_submit_rejects_bad_sql(manager):
    with pytest.raises(ValidationError):
        manager.submit("drop table lineitem")
    with pytest.raises(ValidationError):
        manager.submit("select * from nosuch")


# ---------------------------------------------------------------------------
# In-memory channel broker (messaging/mod.rs:49-92 analog)
# ---------------------------------------------------------------------------

def test_inmemory_queue_end_to_end(spark, demo_web):
    """Submit → worker thread claims over the in-process channel → status
    machine observed → results read back; no control-plane files."""
    import os
    import threading

    from dataweb_spark.jobs.manager import COMPLETE, QUEUED
    from dataweb_spark.jobs.store import InMemoryJobQueue, run_worker

    q = InMemoryJobQueue()
    t = threading.Thread(
        target=run_worker,
        args=(spark, demo_web, "na_us", q),
        kwargs={"max_jobs": 2}, daemon=True)
    t.start()
    job1 = q.submit("select returnflag, sum(quantity) as q from lineitem "
                    "group by returnflag", mode="engine")
    job2 = q.submit("drop table lineitem")  # must fail validation
    st1 = q.wait(job1, timeout=120)
    st2 = q.wait(job2, timeout=120)
    t.join(timeout=30)
    assert st1["status"] == COMPLETE
    assert st1["history"][0] == QUEUED and st1["history"][-1] == COMPLETE
    assert st2["status"] == "FAILED"
    df = q.result(spark, job1)
    rows = {r["returnflag"]: round(r["q"], 2) for r in df.collect()}
    assert set(rows) == {"N", "A", "R"}
    # control plane stayed in memory: no queued/claimed/status dirs
    assert not os.path.exists(os.path.join(q.root, "queued"))
    assert not os.path.exists(os.path.join(q.root, "status"))
    assert os.path.exists(os.path.join(q.root, "results"))


# -- cancellation -----------------------------------------------------------

def test_cancel_queued_and_running_jobs(spark, demo_web, tmp_path):
    """DELETE-analog semantics: queued tasks never start; a running job's
    Spark stages are interrupted through its job group."""
    import time as _t

    from dataweb_spark.jobs import CANCELLED

    spark.udf.register("dw_sleep_key",
                       lambda x: (_t.sleep(0.4), x)[1], "long")
    m = JobManager(spark, demo_web, "na_us",
                   results_dir=str(tmp_path), max_workers=1)
    try:
        # j1 occupies the single pool worker with a multi-second write
        j1 = m.submit("select dw_sleep_key(cast(quantity as bigint)) as k "
                      "from lineitem limit 20", mode="engine")
        # j2's tasks sit QUEUED behind it
        j2 = m.submit("select count(*) as n from lineitem")
        st2 = m.cancel(j2)
        assert st2["status"] == CANCELLED
        assert all(t["status"] == CANCELLED for t in st2["tasks"])
        # interrupt the running job mid-write
        st1 = m.cancel(j1)
        st1 = m.wait(j1, timeout=60)
        assert st1["status"] == CANCELLED
        # j2 stayed cancelled even after the pool drained
        assert m.status(j2)["status"] == CANCELLED
        with pytest.raises(JobNotReady):
            m.result(j2)
        # nothing completed → even allow_partial has no rows to return
        with pytest.raises(JobNotReady):
            m.result(j2, allow_partial=True)
    finally:
        m.shutdown()


def test_cancel_honors_principal(spark, demo_web, tmp_path):
    m = JobManager(spark, demo_web, "na_us", results_dir=str(tmp_path))
    try:
        j = m.submit("select count(*) as n from lineitem",
                     principal="na_analyst")
        with pytest.raises(PermissionError):
            m.cancel(j, principal="someone_else")
        m.wait(j)
    finally:
        m.shutdown()


def test_filequeue_cancel_wins_the_claim_race(tmp_path):
    from dataweb_spark.jobs import CANCELLED
    from dataweb_spark.jobs.store import FileJobQueue

    q = FileJobQueue(str(tmp_path / "q"))
    job_id = q.submit("select count(*) as n from lineitem")
    st = q.cancel(job_id)
    assert st["status"] == CANCELLED
    # the claim rename loses: no worker can ever take this job
    assert q.claim() is None
    # terminal for waiters too
    assert q.wait(job_id, timeout=1)["status"] == CANCELLED


def test_filequeue_cancel_after_claim_sets_flag(tmp_path):
    from dataweb_spark.jobs.store import FileJobQueue

    q = FileJobQueue(str(tmp_path / "q"))
    job_id = q.submit("select 1")
    assert q.claim()["job_id"] == job_id
    st = q.cancel(job_id)
    assert st["cancel_requested"] is True
    # worker mirrors preserve the flag
    q.mirror_status(job_id, "IN_PROGRESS", [])
    assert q.read_status(job_id)["cancel_requested"] is True


def test_filequeue_cancel_survives_stale_mirror_rewrite(tmp_path):
    """The race that flaked test_relayctl_status_and_cancel: the worker's
    mirror_status is a read-modify-write of the whole status file, so a
    cancel landing between its read and its atomic replace used to be
    clobbered (last-writer-wins). The flag now lives in a sidecar marker
    file that no status rewrite can touch. Simulate the interleaving
    deterministically: write a stale status payload captured BEFORE the
    cancel, then assert the flag is still visible."""
    import json
    import os

    from dataweb_spark.jobs.store import FileJobQueue

    q = FileJobQueue(str(tmp_path / "q"))
    job_id = q.submit("select 1")
    assert q.claim()["job_id"] == job_id
    stale = q.read_status(job_id)          # worker's read, pre-cancel
    assert not stale.get("cancel_requested")
    assert q.cancel(job_id)["cancel_requested"] is True
    # the worker's atomic replace lands AFTER the cancel, carrying the
    # stale (flag-less) payload — exactly the judged interleaving
    q._atomic_json(os.path.join(q.root, "status", f"{job_id}.json"),
                   dict(stale, status="IN_PROGRESS"))
    raw = json.load(open(os.path.join(q.root, "status",
                                      f"{job_id}.json")))
    assert not raw.get("cancel_requested")  # file itself lost the field…
    assert q.read_status(job_id)["cancel_requested"] is True  # …flag holds
    # and subsequent proper mirrors keep it
    q.mirror_status(job_id, "IN_PROGRESS", [])
    assert q.read_status(job_id)["cancel_requested"] is True


def test_inmemory_queue_cancel(tmp_path):
    from dataweb_spark.jobs import CANCELLED
    from dataweb_spark.jobs.store import InMemoryJobQueue

    q = InMemoryJobQueue(str(tmp_path / "q"))
    a = q.submit("select 1", principal="alice")
    with pytest.raises(PermissionError):
        q.cancel(a, principal="bob")
    st = q.cancel(a, principal="alice")
    assert st["status"] == CANCELLED
    assert q.claim() is None
    with pytest.raises(KeyError):
        q.cancel("nosuchjob")
    # claimed job: flag, not dequeue
    b = q.submit("select 2")
    assert q.claim()["job_id"] == b
    assert q.cancel(b)["cancel_requested"] is True


def test_worker_propagates_cancel_to_running_job(spark, demo_web, tmp_path):
    """Cancel after the claim: the worker sees cancel_requested in the
    store and interrupts the job through JobManager.cancel."""
    import threading
    import time as _t

    from dataweb_spark.jobs import CANCELLED
    from dataweb_spark.jobs.store import FileJobQueue, run_worker

    spark.udf.register("dw_sleep2", lambda x: (_t.sleep(0.4), x)[1], "long")
    q = FileJobQueue(str(tmp_path / "q"))
    job_id = q.submit("select dw_sleep2(cast(quantity as bigint)) as k "
                      "from lineitem limit 20", mode="engine")
    w = threading.Thread(target=run_worker,
                         args=(spark, demo_web, "na_us", q),
                         kwargs={"max_jobs": 1}, daemon=True)
    w.start()
    # wait until the worker has claimed it and mirrored progress
    for _ in range(400):
        if q.read_status(job_id)["status"] != "QUEUED":
            break
        _t.sleep(0.05)
    assert q.read_status(job_id)["status"] == "IN_PROGRESS"
    st = q.cancel(job_id)
    assert st["cancel_requested"] is True
    final = q.wait(job_id, timeout=60)
    assert final["status"] == CANCELLED
    w.join(timeout=60)
    assert not w.is_alive()


def test_task_status_records_elapsed_time(manager):
    job_id = manager.submit(
        "select returnflag, count(*) as n from lineitem group by returnflag")
    st = manager.wait(job_id)
    assert st["status"] == COMPLETE
    for t in st["tasks"]:
        assert t["elapsed_s"] is not None and t["elapsed_s"] > 0


# -- template jobs run the same source plan as the template path -----------

def test_template_job_one_task_per_replica_group(spark, sf_dir, tmp_path):
    """Mirrors of one replica_group declare identical data: a template
    job runs ONE task for the group (the preferred member), so its
    partials add up to the template union's instead of doubling it."""
    from pyspark.sql import functions as F

    from dataweb_spark.catalog.model import (
        DataConnection, DataField, DataSource, Entity, Information, Mapping,
        RelayCatalog, Web,
    )
    r = RelayCatalog(name="home")
    r.add_entity(Entity("t", [Information("v", "bigint")]))
    r.add_connection(DataConnection("files", "file",
                                    {"path": sf_dir, "format": "parquet"}))
    for name in ("mirror_a", "mirror_b"):
        r.add_source(DataSource(
            name=name, connection="files", entity="t",
            source_sql="select * from {table}",
            fields=[DataField("r_regionkey", "r_regionkey")],
            mappings=[Mapping("v", "r_regionkey")],
            options={"table": "region.parquet"}, replica_group="regions"))
    m = JobManager(spark, Web(relays={"home": r}), "home",
                   results_dir=str(tmp_path))
    try:
        sql = "select count(*) as n from t"
        job_id = m.submit(sql)
        st = m.wait(job_id)
        assert st["status"] == COMPLETE
        assert [(t["relay"], t["source"]) for t in st["tasks"]] == \
            [("home", "mirror_a")]
        total = m.result(job_id).agg(F.sum("n")).first()[0]
        union = m.gateway.query_template_union(sql) \
            .agg(F.sum("n")).first()[0]
        assert total == union == 5
    finally:
        m.shutdown()


def test_template_job_maps_remote_hop(spark, sf_dir, tmp_path):
    """A job over a renamed ×10 hop (home ``t.key10`` = peer ``t2.k`` × 10)
    binds the home entity's view through the hop's mapping, exactly like
    the template path: with no ``t`` view left over from an earlier
    query, its result equals ``query_template_union`` over the same SQL."""
    from dataweb_spark.catalog.model import (
        DataConnection, DataField, DataSource, Entity, Information, Mapping,
        RelayCatalog, RemoteEntityMapping, RemoteInfoMapping, Transformation,
        Web,
    )
    peer = RelayCatalog(name="peer")
    peer.add_entity(Entity("t2", [Information("k", "bigint"),
                                  Information("name", "string")]))
    peer.add_connection(DataConnection("files", "file",
                                       {"path": sf_dir, "format": "parquet"}))
    peer.add_source(DataSource(
        name="p_src", connection="files", entity="t2",
        source_sql="select * from {table}",
        fields=[DataField("n_nationkey", "n_nationkey"),
                DataField("n_name", "n_name")],
        mappings=[Mapping("k", "n_nationkey"), Mapping("name", "n_name")],
        options={"table": "nation.parquet"}))
    home = RelayCatalog(name="home")
    home.add_entity(Entity("t", [Information("key10", "bigint"),
                                 Information("name", "string")]))
    home.remote_mappings.append(RemoteEntityMapping(
        local_entity="t", peer="peer", remote_entity="t2",
        info_mappings=[RemoteInfoMapping(
            "key10", "k", Transformation("{v} * 10", "{v} / 10"))]))
    web = Web()
    web.add_relay(peer)
    web.add_relay(home)

    spark.catalog.dropTempView("t")
    m = JobManager(spark, web, "home", results_dir=str(tmp_path))
    try:
        sql = "select key10, name from t where key10 < 50"
        job_id = m.submit(sql)
        st = m.wait(job_id)
        assert st["status"] == COMPLETE, st
        assert [(t["relay"], t["source"]) for t in st["tasks"]] == \
            [("peer", "p_src")]
        cols = ["key10", "name", "_source_relay_", "_source_id_"]
        got = sorted(tuple(r) for r in m.result(job_id).select(*cols)
                     .collect())
        want = sorted(tuple(r) for r in m.gateway.query_template_union(sql)
                      .select(*cols).collect())
        assert got == want
        assert [r[0] for r in got] == [0, 10, 20, 30, 40]
    finally:
        m.shutdown()
