#!/usr/bin/env python3
"""The repository benchmark: one workload, one client, one JVM.

    python3 perfbench/run.py --workload relay|corpus --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. Set-up generates the workload's inputs
from the seed, starts one SparkSession (``local[nproc]``), builds the
workload state and runs its warm-up operations. The timed loop is closed
with one client: the next operation starts when the previous one ends,
until ``--seconds`` have passed. Every answer is checked afterwards; any
mismatch makes the exit code nonzero.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
traced and untraced operations and prints the per-layer metrics of the
traced ones, plus the tracing overhead (traced minus untraced median
operation time). The last stdout line is one JSON object.

Each run works in a fresh directory under ``.perfbench_run/`` in the
checkout (inputs, index, warehouse, Spark local dirs, temp files) and
removes it at exit. A child process that outlives the run fails it.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
import uuid

import layers
import proc
import stats
from corpus import Corpus
from relay import Relay
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WATCHDOG_S = 170.0
# The JVM's resident size follows its heap's growth, which varies from run
# to run; a 1 GiB cap (ample for these inputs) bounds that spread.
DRIVER_MEM = "1g"
UNITS = {"setup_s": "s", "op_p50_s": "s", "throughput_per_s": "1/s",
         "peak_rss_mb": "MiB"}
WORKLOADS = {"relay": Relay, "corpus": Corpus}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def calib() -> float:
    """Fixed CPU probe (median of three runs of the same pure-Python
    loop); compares host speed between the start and end of a run."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]


def start_spark(name: str, workdir: str):
    from dataweb_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    spark = get_spark(f"perfbench-{name}", master=f"local[{os.cpu_count()}]",
                      extra_conf={
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={workdir} "
            "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    jvm = getattr(gateway, "proc", None)
    gateway.shutdown()
    if jvm is not None:
        with contextlib.suppress(OSError):
            jvm.stdin.close()   # the gateway JVM exits when stdin closes
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


class Run:
    """One benchmark invocation: set-up, timed loop, checks, metrics."""

    def __init__(self, args, workdir: str):
        self.args = args
        self.peak = proc.PeakTreeMemory().start()
        self.spark = start_spark(args.workload, workdir)
        t_jvm = proc.process_age_s()
        self.w = WORKLOADS[args.workload](self.spark, workdir, args.seed)
        self.w.setup()
        t_state = proc.process_age_s()
        self.w.warmup()
        self.setup_s = proc.process_age_s()
        print(f"perfbench: set-up {self.setup_s:.2f} s = jvm {t_jvm:.2f} + "
              f"state {t_state - t_jvm:.2f} + warm-up "
              f"{self.setup_s - t_state:.2f}", file=sys.stderr)
        self.tracer = Tracer()
        self.counters = None
        self.layer_sums: dict[str, float] = {}
        if args.trace:
            layers.install(self.tracer)
            self.counters = layers.SparkCounters(
                self.spark, f"perfbench-{args.workload}")
            self._hook_spans()

    def _hook_spans(self) -> None:
        qids = itertools.count(1)
        tracer = self.tracer

        @contextlib.contextmanager
        def query(template):
            tracer.qid = next(qids)
            with tracer.span("relay.query"):
                yield

        self.w.on_query = query
        self.w.on_stage = tracer.span

    def loop(self) -> None:
        """Closed loop, one client, for ``--seconds``; with tracing on,
        even operations are traced and odd ones are not."""
        self.op_s: list[float] = []
        self.traced_s: list[float] = []
        self.op_errors = 0
        self.calib_start = calib()
        t_start = time.perf_counter()
        for i in itertools.count():
            if time.perf_counter() - t_start >= self.args.seconds:
                break
            traced = bool(self.args.trace) and i % 2 == 0
            before = self.w.sample() if traced else None
            self.tracer.enabled = traced
            t0 = time.perf_counter()
            try:
                self.w.op(i)
            except Exception:  # noqa: BLE001 — counted as a failed op
                traceback.print_exc()
                self.op_errors += 1
            dt = time.perf_counter() - t0
            self.tracer.enabled = False
            (self.traced_s if traced else self.op_s).append(dt)
            if traced:
                sample = self.counters.delta()
                sample.update(layers.session_counters(self.spark))
                sample.update({k: v - before[k]
                               for k, v in self.w.sample().items()})
                for k, v in sample.items():
                    self.layer_sums[k] = self.layer_sums.get(k, 0.0) + v
        self.wall_s = time.perf_counter() - t_start
        self.ops = i
        self.calib_end = calib()

    def check(self) -> tuple[int, int, list[str]]:
        attempted, bad = self.w.verify()
        return attempted + self.op_errors, len(bad) + self.op_errors, bad

    # -- metrics --------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        return {"setup_s": self.setup_s,
                "op_p50_s": statistics.median(self.op_s or self.traced_s),
                "throughput_per_s": self.w.items / self.wall_s,
                "peak_rss_mb": self.peak.peak_mb}

    def per_layer(self) -> dict[str, float]:
        n = max(len(self.traced_s), 1)
        wall, calls = self.tracer.totals()
        selfs = self.tracer.self_times()
        out = {m: 0.0 for m in layers.metric_names()}
        for span, (self_s, n_calls) in layers.TIMED.items():
            out[self_s] = selfs.get(span, 0.0) / n
            out[n_calls] = calls.get(span, 0) / n
        for k, v in self.layer_sums.items():
            if k in out:
                out[k] = v / n
        counts = self.tracer.counts
        out["sources.readers.read_source_frame_memo_hits"] = \
            counts["sources.readers.read_source_frame_memo_hits"] / n
        out["host.calib_s"] = self.calib_start
        out["host.calib_end_s"] = self.calib_end
        if self.op_s and self.traced_s:
            out["trace.overhead_s"] = (statistics.median(self.traced_s)
                                       - statistics.median(self.op_s))
        if self.w.name == "relay":
            self._relay_layers(out, wall, calls, selfs, n)
        else:
            self._corpus_layers(out, wall, selfs, n)
        return out

    def _corpus_layers(self, out, wall, selfs, n) -> None:
        for stage in layers.CORPUS_STAGES:
            out[f"{stage}_s"] = wall.get(stage, 0.0) / n
        out["functions.dedup.lsh_useful_ratio"] = \
            self.w.verified / max(self.w.candidates, 1)
        out["functions.dedup.injected_recall"] = self.w.injected_recall()
        ingest = "functions.dedup_index.ingest_batch"
        out["functions.dedup_index.classify_s"] = \
            wall.get("functions.dedup_index.classify", 0.0) / n
        out["functions.dedup_index.append_s"] = selfs.get(ingest, 0.0) / n
        sums = self.layer_sums
        out["bytes_written_per_admitted_byte"] = (
            sums.get("bytes_written", 0.0)
            / max(sums.get("admitted_bytes", 0.0), 1.0))
        covered = sum(wall.get(s, 0.0)
                      for s in (*layers.CORPUS_STAGES, ingest))
        out["trace.layer_coverage"] = covered / sum(self.traced_s)

    def _relay_layers(self, out, wall, calls, selfs, n) -> None:
        runs = calls.get("plans.topgroups.run", 0)
        out["plans.topgroups.protocol_share"] = (
            self.tracer.counts["plans.topgroups.protocol"] / runs
            if runs else 0.0)
        gfi = sum(calls.get(f"sources.flight_service.get_flight_info.{r}", 0)
                  for r in layers.RELAYS)
        out["sources.flight_service.peer_rounds"] = \
            (gfi - calls.get("relay.query", 0)) / n
        for rpc in ("get_flight_info", "do_get"):
            for r in layers.RELAYS:
                out[f"sources.flight_service.{rpc}_s.{r}"] = \
                    selfs.get(f"sources.flight_service.{rpc}.{r}", 0.0) / n
        t = stats.tail(self.w.query_s)
        out["relay.query_tail_s"] = t[1] if t else 0.0
        out["relay.replay_share"] = self.w.replay_share(self.ops)
        out["trace.layer_coverage"] = self.tracer.coverage(
            "relay.query", layers.RELAY_LAYERS)

    def close(self) -> list[int]:
        """Stops everything the run started; returns the pids of child
        processes that had to be killed."""
        self.tracer.unpatch()
        self.w.close()
        kids = proc.descendants()
        stop_spark(self.spark)
        self.peak.stop()
        return proc.reap(kids, grace_s=15.0)


def report(run, e2e: dict, attempted: int, failed: int) -> None:
    """Human-readable lines ahead of the JSON result."""
    a = run.args
    w = run.w
    print(f"perfbench workload={a.workload} seed={a.seed} "
          f"seconds={a.seconds:g} trace={a.trace} clients=1 (closed loop) "
          f"cores={os.cpu_count()} ops={run.ops} (one op = one {w.unit})")
    for k, v in e2e.items():
        print(f"  {k:<18} {v:.4f} {UNITS[k]}")
    print(f"  error_rate         {failed / attempted:.4f} "
          f"({failed} of {attempted} checked)")
    print(f"  host.calib_s       {run.calib_start:.4f} s before, "
          f"{run.calib_end:.4f} s after the timed loop")
    if a.workload == "relay":
        t = stats.tail(w.query_s)
        tail = (f"{t[1]:.4f} s at p{t[0]} of {t[2]} queries" if t else
                f"n/a ({len(w.query_s)} queries, needs > 10)")
        print(f"  query_tail_s       {tail}")
        print(f"  replay_share       {w.replay_share(run.ops):.3f}")
    else:
        print(f"  injected_recall    {w.injected_recall():.4f}")


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "dataweb_spark", "__init__.py")):
        print("perfbench: dataweb_spark/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_run",
                           f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(workdir, sub))
    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # no /tmp/hsperfdata_* from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)
    os.chdir(workdir)
    watchdog = threading.Timer(WATCHDOG_S, _abort, args=(workdir,))
    watchdog.daemon = True
    watchdog.start()
    run = None
    leaked: list[int] = []
    try:
        run = Run(args, workdir)
        run.loop()
        attempted, failed, bad = run.check()
        e2e = run.end_to_end()
        metrics = run.per_layer() if args.trace else e2e
        leaked = run.close()
    except BaseException:
        if run is not None:
            with contextlib.suppress(Exception):
                run.close()
        proc.reap(proc.descendants(), grace_s=0.0)
        raise
    finally:
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(workdir))
        watchdog.cancel()
    for msg in bad:
        print(f"perfbench: WRONG ANSWER {msg}", file=sys.stderr)
    if leaked:
        print(f"perfbench: child processes outlived the run: {leaked}",
              file=sys.stderr)
    report(run, e2e, attempted, failed)
    ok = failed == 0 and not leaked
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0 if ok else 1


def _unit(name: str) -> str:
    return UNITS.get(name) or layers.unit(name)


def _abort(workdir: str) -> None:
    """Watchdog: a hung run kills its children, removes its work
    directory and exits without a result."""
    print(f"perfbench: exceeded {WATCHDOG_S:.0f} s; aborting",
          file=sys.stderr)
    proc.reap(proc.descendants(), grace_s=0.0)
    shutil.rmtree(workdir, ignore_errors=True)
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
