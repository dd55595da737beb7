"""Benchmark of the engine's build, search and ingest paths.

    python3 perfbench/run.py --workload search --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json):

* ``search``: a positional base index; a closed-loop stream of BM25
  top-k, paged and phrase queries that the driver fast path serves.
* ``ingest``: the same base index, then cycles of upsert batches, stream
  queries over live delta generations (the distributed plan), tiered
  merges and one fold per cycle; outputs are checked after each fold.

The last line on stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A readable report with every
metric's sample count goes to stderr. ``--trace 1`` also enables the
Spark event log and writes the spans to ``perfbench/_work/traces/``.
The exit code is 0 only if every output matched the DuckDB oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "content_rw_elasticsearch_spark"
WORKLOADS = ("search", "ingest")
END_GRACE_S = 30


def _spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        # a fixed, pre-touched heap: the engine's 16g default is a ceiling
        # this corpus never needs, and an adaptively grown heap makes the
        # JVM's RSS vary by ~40% from run to run. The JVM's RSS is then
        # constant, so peak_rss_mb cannot see the engine's heap use: the
        # traced run's jvm.* metrics report it
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        # JVM logging would reach stdout, whose last line is the result
        "spark.driver.extraJavaOptions":
            "-Xms1g -XX:+AlwaysPreTouch -Xlog:disable -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false"})
    return conf


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _end_all(procs: dict[int, str]) -> None:
    """Wait until every process in ``procs`` (pid -> start time) has
    ended. Those left after ``END_GRACE_S`` are killed and waited for."""
    from probe import start_time

    deadline = time.monotonic() + END_GRACE_S
    killed = False
    while True:
        for pid in list(procs):
            try:
                os.waitpid(pid, os.WNOHANG)  # reap it if it is a child
            except ChildProcessError:
                pass
            if start_time(pid) != procs[pid]:
                del procs[pid]
        if not procs:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {sorted(procs)} did not end")
            for pid in procs:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + END_GRACE_S
        time.sleep(0.1)


def _report(run, e2e, layer, args, overhead) -> None:
    out = sys.stderr
    n = max(run.attempted, 1)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={run.attempted} failed={run.failed} "
          f"failed_frac={run.failed / n:.4f}", file=out)
    for m in run.mismatches:
        print(f"  MISMATCH {m}", file=out)
    for name, (v, unit, cnt) in (e2e | (layer or run.unbounded)).items():
        print(f"  {name:34s} {v:14.4f} {unit:7s} n={cnt}", file=out)
    print(f"  (query_tail_ms is p{run.tail_p})", file=out)
    if overhead is not None:
        print("  tracing overhead (traced - untraced, same seed):", file=out)
        for name, (d, rel) in overhead.items():
            print(f"    {name:32s} {d:+12.4f} ({rel:+.1%})", file=out)
    elif args.trace:
        print("  tracing overhead: no untraced run of this workload and "
              "seed in perfbench/_work/results yet", file=out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ — run "
              "from the root of a full checkout", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers import the engine package: put the checkout on their
    # path, and keep every scratch file inside the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ.update({
        "SPARK_GRAFT_CPUS": "4",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
    })
    sys.path[:0] = [HERE, ROOT]
    from probe import Tracer, descendants
    from workloads import Run, per_layer

    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    tracer = Tracer(bool(args.trace), run_id=f"{tag}-{time.time_ns()}")
    run = Run(args.workload, args.seed, args.seconds, run_dir, tracer,
              _spark_conf(run_dir, bool(args.trace)))
    try:
        with run.mem:
            run.setup()
            run.measure()
    finally:
        # the JVM, the Python workers it started and any other child:
        # all of them have ended when this block is left
        procs = descendants()
        try:
            _stop_spark()
        finally:
            _end_all(procs | descendants())
    e2e = run.end_to_end()
    layer = None
    if args.trace:
        tracer.attach_event_log(os.path.join(run_dir, "eventlog"))
        tracer.dump(os.path.join(WORK, "traces", f"{tag}.jsonl"))
        layer = per_layer(run)

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({k: v[0] for k, v in e2e.items()}, f)
    overhead = None
    base = os.path.join(results,
                        f"{args.workload}-seed{args.seed}-trace0.json")
    if args.trace and os.path.exists(base):
        with open(base) as f:
            untraced = json.load(f)
        overhead = {k: (v[0] - untraced[k], v[0] / untraced[k] - 1)
                    for k, v in e2e.items() if untraced.get(k)}
    _report(run, e2e, layer, args, overhead)
    shutil.rmtree(run_dir, ignore_errors=True)

    metrics = layer if args.trace else e2e
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
