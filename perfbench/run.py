"""Seeded end-to-end and per-layer benchmark of projet_graphdb_spark.

    python3 perfbench/run.py --workload gql_write --seed 1 --seconds 15 --trace 0

Run from the repository root.  One invocation is one fresh process: it
generates the workload's inputs from the seed, sets the engine up
(Spark session, input frames, untimed warm-up cycles of the query
stream; this is ``setup_s``), then runs the next cycles closed
loop with one client for ``round(seconds / nominal cycle wall)`` whole
cycles of shapes, and at least ``MIN_SAMPLES`` queries.  Every output is
checked afterwards against an independent reference (``checks.py``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs each
query twice, untraced and traced in alternating order, and prints the
per-layer metrics of the traced runs plus the tracing overhead.  The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Everything the run writes stays under ``.bench_work/`` in the current
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"
END_TO_END = [
    ("setup_s", "s"), ("queries_per_s", "1/s"), ("latency_p50_s", "s"), ("latency_p90_s", "s"),
]
P90_MIN_SAMPLES = 100  # ten samples beyond the 90th percentile
# One cycle's wall at 4 cores.  A run times round(seconds / this) whole
# cycles, and at least enough cycles for MIN_SAMPLES latencies, so every
# run does the same work whatever the machine's speed.
NOMINAL_CYCLE_S = {"gql_read": 6.0, "gql_write": 7.5, "graph_iter": 9.0, "vector_dedup": 10.0}
MIN_SAMPLES = 15
# Untimed warm-up cycles on the measured tables.  After one cycle the
# vector_dedup operators are still 10-20 % slower than later, by a
# margin that varies from run to run; a second cycle absorbs it.
WARM_CYCLES = {"gql_read": 1, "gql_write": 1, "graph_iter": 1, "vector_dedup": 2}


def configure_env(work: str) -> int:
    """Environment for the Spark driver, its JVM and its Python workers.
    Must run before pyspark starts a gateway.  Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pypath = [ROOT, HERE] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers (pandas UDFs) import the package too
        "PYTHONPATH": os.pathsep.join(pypath),
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    })
    os.environ.pop("SPARK_GRAFT_CKPT_DIR", None)  # default in-memory barriers
    sys.path[:0] = [ROOT, HERE]
    return cores


def latency_metrics(latencies: list) -> dict:
    """Median and 90th percentile of the per-query latencies (s)."""
    p90 = statistics.quantiles(latencies, n=10)[8] if len(latencies) > 1 else latencies[0]
    return {"latency_p50_s": statistics.median(latencies), "latency_p90_s": p90}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The last line of standard output; ``metrics`` maps each name to
    ``{"value", "unit"}``."""
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


def set_up(get_spark, workload_cls, manifest: dict, warm_stream: list, tracer_cls=None):
    """Session, input frames, and the untimed warm-up cycles of the
    measured stream on the measured tables.  Returns (spark, workload,
    seconds, tracer)."""
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t_session = time.perf_counter() - t0
    wl = workload_cls(manifest)
    tracer = None
    if tracer_cls is not None:
        tracer = tracer_cls(spark, wl)
        tracer.install()
    wl.load(spark)
    if tracer is not None:
        tracer.take_cold_load()
        tracer.uninstall()
    t_load = time.perf_counter() - t0
    for q in warm_stream:
        wl.run(spark, q)
    secs = time.perf_counter() - t0
    print(f"setup {secs:.2f}s: session {t_session:.2f}s, inputs {t_load - t_session:.2f}s, "
          f"warm-up {secs - t_load:.2f}s", file=sys.stderr)
    return spark, wl, secs, tracer


def timed_loop(spark, wl, stream: list, n_shapes: int, tracer=None) -> tuple:
    """Closed loop, one client, over ``stream``.  Returns (records, wall,
    overhead ratios); a record is (query, result, latency_s, error,
    trace_record)."""
    records, ratios, cycles = [], [], []
    t_start = time.perf_counter()
    for i, q in enumerate(stream):
        if tracer is None:
            records.append(_one(wl, spark, q))
        else:
            pair = {}
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                if traced:
                    tracer.install()
                    tracer.begin(i)
                rec = _one(wl, spark, q)
                if traced:
                    rec = rec[:4] + (tracer.end(q["shape"]),)
                    tracer.uninstall()
                pair[traced] = rec
                records.append(rec)
            if pair[False][3] is None and pair[True][3] is None:
                ratios.append(pair[True][2] / pair[False][2])
        if (i + 1) % n_shapes == 0:
            cycles.append(time.perf_counter() - t_start - sum(cycles))
    print("cycle walls: " + " ".join(f"{c:.2f}" for c in cycles), file=sys.stderr)
    return records, time.perf_counter() - t_start, ratios


def _one(wl, spark, q) -> tuple:
    t0 = time.perf_counter()
    try:
        res, err = wl.run(spark, q), None
    except Exception as e:  # a failed query is counted, not fatal
        res, err = None, f"{type(e).__name__}: {e}"
        traceback.print_exc(file=sys.stderr)
    return (q, res, time.perf_counter() - t0, err, None)


def check_all(checker, records: list) -> int:
    failed = 0
    for q, res, _, err, trec in records:
        ok = False
        if err is None:
            try:
                ok, info = checker.check(q, res)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                info = {}
            if trec is not None:
                trec["info"] = info
        if not ok:
            failed += 1
            print(f"FAILED {q['shape']} {json.dumps(q['params'])[:200]}: "
                  f"{err or 'wrong result'}", file=sys.stderr)
    return failed


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["gql_read", "gql_write", "graph_iter", "vector_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".bench_work")
    cores = configure_env(work)
    # the engine import comes first: without the package there is no result
    from projet_graphdb_spark.engine import get_spark

    from checks import Checker
    from gen import make_inputs
    from workloads import WORKLOADS

    in_dir = os.path.join(work, f"inputs-{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        manifest = make_inputs(args.workload, args.seed, in_dir)
        checker = Checker(manifest)
        stream = manifest["stream"]
        n_shapes = len({q["shape"] for q in stream})
        cls = WORKLOADS[args.workload]
        tracer_cls = None
        if args.trace:
            from tracing import Tracer as tracer_cls
        # the first cycles warm up, the next ones are timed
        n_warm = WARM_CYCLES[args.workload] * n_shapes
        spark, wl, setup_s, tracer = set_up(get_spark, cls, manifest, stream[:n_warm],
                                            tracer_cls)
        n_cycles = max(round(args.seconds / NOMINAL_CYCLE_S[args.workload]),
                       -(-MIN_SAMPLES // n_shapes))
        records, wall, ratios = timed_loop(
            spark, wl, stream[n_warm: n_warm + n_cycles * n_shapes], n_shapes, tracer
        )
        failed = check_all(checker, records)
        attempted = len(records)
        lat = [r[2] for r in records if r[3] is None]
        by_shape = {}
        for q, _, t, err, _ in records:
            by_shape.setdefault(q["shape"], []).append(t)
        print(f"{args.workload} seed={args.seed} queries={attempted} failed={failed} "
              f"wall={wall:.3f}s cores={cores}", file=sys.stderr)
        for shape, ts in sorted(by_shape.items()):
            print(f"  {shape:24s} n={len(ts):3d} median={statistics.median(ts):.4f}s",
                  file=sys.stderr)
        if args.trace:
            tracer.dump(os.path.join(work, f"trace-{args.workload}-{args.seed}.jsonl"))
            overhead = statistics.median(ratios) - 1.0 if ratios else 0.0
            metrics = tracer.metrics(overhead, cores)
        else:
            if len(lat) < P90_MIN_SAMPLES:
                print(f"  note: latency_p90_s rests on {len(lat)} samples "
                      f"(< {P90_MIN_SAMPLES})", file=sys.stderr)
            values = {"setup_s": setup_s,
                      "queries_per_s": len(lat) / wall, **latency_metrics(lat or [wall])}
            metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
        line = result_line(failed == 0, attempted, failed, metrics)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(in_dir, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
