#!/usr/bin/env python3
"""Repository benchmark for the combat-log pipeline and its operators.

    python3 perfbench/run.py --workload batch_night --seed 1 --seconds 20 \
        --trace 0

Workloads (all inputs are generated from ``--seed``):

* ``batch_night`` - the batch side, one repetition being
  ``runner.cli.main`` (read, parse, sessionize, route, aggregate, write
  11 tables, commit the manifest) over logs with hundreds of short
  fights each, then ``doc_minhash_lsh_pairs``, ``doc_simhash_near_pairs``
  and ``emb_cosine_near_dup`` over documents and embeddings with planted
  near-duplicate clusters.
* ``live_feed`` - a combat corpus cut mid-fight into chunks that land
  one at a time; each arrival is one ``streaming.run_stream_once`` call
  on a shared checkpoint with a parquet sink (closed loop).

Set-up (timed as ``setup_s``) starts the Spark session, writes the
inputs, computes the oracles once and runs one warm-up repetition. The
run then repeats the workload at least ``min_reps`` times (a workload
attribute) and while the next repetition is expected to end within
``--seconds``, and checks every repetition against the oracles; a
repetition that raises or mismatches counts in ``failed``. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` one more repetition runs layer by layer and the last line
carries the per-layer metrics, metrics of layers the workload does not
run being 0. The line before it is a report with the host, library
versions, a 1-s CPU canary before and after the workload, the failed
share and, when traced, the spans. ``--smoke`` runs the same code on
tiny inputs.

Everything the run writes stays under ``perfbench/.work/`` and is removed
at exit, except the span dumps kept under ``perfbench/.work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_HEAP = "2g"

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("events_per_s", "events/s"),
              ("latency_p50_s", "s"), ("latency_p90_s", "s"),
              ("peak_rss_mb", "MB")]

_LAYER_JOBS = ("jobs", "tasks", "tasks_failed")
PER_LAYER = (
    [("sources.read_s", "s"), ("sources.read_bytes", "bytes"),
     ("sources.rows", "count")]
    + [("grammar.detok_s", "s"), ("grammar.parse_s", "s"),
       ("grammar.rows_out", "count"), ("grammar.parse_null_ts", "count")]
    + [("sessionize.fights_s", "s"), ("sessionize.marker_rows", "count"),
       ("sessionize.fights", "count"), ("sessionize.assign_s", "s"),
       ("sessionize.assign_rows_out", "count"),
       ("sessionize.assign_probe_pairs", "count"),
       ("sessionize.in_fight_ratio", "ratio")]
    + [("route.s", "s"), ("route.routed_events", "count"),
       ("route.unrouted_rows", "count")]
    + [(f"aggregate.{t}_{k}", u) for t in
       ("damage_done_skills", "damage_received_skills", "heal", "threat",
        "pulls", "rates") for k, u in (("s", "s"), ("rows", "count"))]
    + [("aggregate.s", "s"), ("pipeline.cache_bytes", "bytes")]
    + [("runner.write_s", "s"), ("runner.write_bytes", "bytes"),
       ("runner.write_files", "count"), ("runner.commit_s", "s")]
    + [("streaming.trigger_ms", "ms"), ("streaming.rows_in", "count"),
       ("streaming.pulls_out", "count"), ("streaming.state_rows", "count"),
       ("streaming.state_bytes", "bytes")]
    + [("operators.minhash_sig_s", "s"), ("operators.minhash_s", "s"),
       ("operators.minhash_pairs", "count"),
       ("operators.simhash_sig_s", "s"), ("operators.simhash_s", "s"),
       ("operators.simhash_pairs", "count"),
       ("operators.emb_candidates", "count"),
       ("operators.emb_near_dup_s", "s"), ("operators.emb_pairs", "count")]
)
# layers with a span of their own: self time plus Spark job/task counts
LAYERS = ("sources", "grammar", "sessionize", "route", "aggregate", "runner",
          "streaming", "operators")
PER_LAYER += [(f"{layer}.{k}", "count") for layer in LAYERS
              for k in _LAYER_JOBS]
PER_LAYER += [(f"{layer}.self_s", "s") for layer in LAYERS]
PER_LAYER += [("trace.spans_s", "s"), ("trace.untraced_wall_s", "s"),
              ("trace.overhead_s", "s")]


def canary() -> float:
    """Millions of iterations of a bare Python loop in one second."""
    n, end = 0, time.perf_counter() + 1.0
    while time.perf_counter() < end:
        n += 1
    return n / 1e6


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids of every process visible in /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


class RssSampler(threading.Thread):
    """Peak summed resident memory of the driver JVM (this process's
    child) and the PySpark daemon and Python workers below it, polled
    from /proc. Other children of the JVM are short-lived helpers
    (e.g. the shell commands of Hadoop's local file system); until they
    exec they share the JVM's pages, so counting them would count the
    JVM twice."""

    PERIOD_S = 0.1

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_rss_kb() -> int:
        kids = _children()
        total = 0
        todo = [(pid, True) for pid in kids.get(os.getpid(), [])]
        while todo:
            pid, direct = todo.pop()
            todo += [(k, False) for k in kids.get(pid, [])]
            try:
                if not direct:
                    with open(f"/proc/{pid}/cmdline", "rb") as fh:
                        if b"pyspark.daemon" not in fh.read():
                            continue
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def run(self):
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop_evt.wait(self.PERIOD_S)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, app: str):
    from team_goldo_combat_log_parser_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(app, cores=host_cores(), extra_conf={
        "spark.driver.memory": DRIVER_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    })


def _descendants() -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _identity(pid: int) -> str | None:
    """Start time of a live (non-zombie) process, None once it is gone;
    comparing it guards against a recycled pid."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM and the Python workers
    it forked have exited (killing any left after 30 s)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = {p: _identity(p) for p in _descendants()}
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None and proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p, ident in started.items()
                 if ident is not None and _identity(p) == ident]
        if not alive:
            break
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
    if proc is not None:
        proc.wait()


def quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def run_rep(fn, failures: list[str]):
    try:
        r = fn()
    except Exception:  # noqa: BLE001 - one failed repetition, keep going
        failures.append(traceback.format_exc(limit=3))
        print(failures[-1], file=sys.stderr)
        return None
    if r.errors:
        failures.append("output mismatch: " + ", ".join(r.errors))
        print(failures[-1], file=sys.stderr)
        return None
    return r


def main(argv: list[str] | None = None) -> int:
    canary_before = canary()
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (for the benchmark's own test)")
    args = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # Spark prefers this variable over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads  # imports the package: fails fast without it
        from tracing import Tracer

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; choose "
                             f"from {sorted(workloads.WORKLOADS)}")
        wl = workloads.WORKLOADS[args.workload](args.smoke)
        return _run(args, wl, work, t_start, canary_before, Tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str, t_start: float, canary_before: float,
         tracer_cls) -> int:
    import pyspark

    spark = start_spark(work, f"perfbench-{args.workload}")
    failures: list[str] = []
    warm_failures: list[str] = []
    try:
        wl.setup(spark, work, args.seed)
        warm = run_rep(lambda: wl.warmup(spark), warm_failures)
        setup_s = time.perf_counter() - t_start

        reps = []
        sampler = RssSampler()
        sampler.start()
        t0 = time.perf_counter()
        attempted = 0
        while attempted < wl.min_reps or (
                time.perf_counter() - t0
                + (time.perf_counter() - t0) / attempted <= args.seconds):
            r = run_rep(lambda: wl.rep(spark), failures)
            attempted += 1
            if r is not None:
                reps.append(r)
        peak_rss_mb = sampler.stop()

        spans, layer = None, {}
        if args.trace:
            tr = tracer_cls(spark, f"{args.workload}-{args.seed}")
            attempted += 1
            try:
                layer, errors = wl.trace(spark, tr)
                if errors:
                    failures.append("traced output mismatch: "
                                    + ", ".join(errors))
            except Exception:  # noqa: BLE001 - report, keep the result line
                failures.append(traceback.format_exc(limit=3))
                print(failures[-1], file=sys.stderr)
            spans = tr.dump()
            for name in LAYERS:
                layer.update({f"{name}.{k}": v
                              for k, v in tr.job_stats(name).items()})
                layer[f"{name}.self_s"] = tr.self_time(name)
            roots = [s for s in tr.spans if s["parent"] is None]
            layer["trace.spans_s"] = sum(s["end"] - s["start"] for s in roots)
    finally:
        stop_spark(spark)
    canary_after = canary()

    walls = [r.wall_s for r in reps]
    lats = [x for r in reps for x in r.latencies]
    if args.trace:
        untraced = statistics.median(walls) if walls else 0.0
        layer["trace.untraced_wall_s"] = untraced
        layer["trace.overhead_s"] = layer.get("trace.spans_s", 0.0) - untraced
        metrics = {n: {"value": layer.get(n, 0), "unit": u}
                   for n, u in PER_LAYER}
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls) if walls else 0.0,
            "events_per_s": (statistics.median(r.events / r.wall_s
                                               for r in reps) if reps else 0.0),
            "latency_p50_s": quantile(lats, 0.5) if lats else 0.0,
            "latency_p90_s": quantile(lats, 0.9) if lats else 0.0,
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}

    failed = len(failures)
    import duckdb
    import numpy
    import pandas
    import pyarrow
    report = {
        "workload": args.workload, "seed": args.seed, "smoke": args.smoke,
        "trace": args.trace, "cores": host_cores(), "driver_heap": DRIVER_HEAP,
        "versions": {"python": sys.version.split()[0],
                     "pyspark": pyspark.__version__,
                     "pandas": pandas.__version__,
                     "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__, "duckdb": duckdb.__version__},
        "canary_mips": [round(canary_before, 2), round(canary_after, 2)],
        "repetitions": len(walls), "rep_wall_s": [round(w, 3) for w in walls],
        "latency_samples": len(lats),
        "warmup_failures": [f.splitlines()[-1] for f in warm_failures],
        "failed_share": failed / attempted,
        "failures": [f.splitlines()[-1] for f in failures],
    }
    if spans is not None:
        report["spans"] = spans
        trace_dir = os.path.join(HERE, ".work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"),
                  "w") as fh:
            json.dump(report, fh, indent=1)
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0 and warm is not None,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
