"""KG benchmark: one command, one named workload, one JSON result line.

    python3 kgbench/run.py --workload skewed --seed 1 --seconds 25 --trace 0

Both workloads (see README.md) run the same operations, interleaved:
store builds, query rounds, batch folds with reads after each commit,
and the distributed owl:sameAs closure; ``skewed`` draws its inputs
with hot entities and a hot sameAs component, ``uniform`` without. The
program runs as ``local[nproc]`` in this process; inputs are generated
from ``--seed``; outputs are checked
against the generator's ground truth and DuckDB after the timed window.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones. Everything the run writes stays under ``.kgbench_out/`` in the
checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".kgbench_out")
# workload -> skewed input shape (Zipf entities and a hot sameAs
# component) or uniform; both run the same operations
WORKLOADS = {"skewed": True, "uniform": False}
QUERY_CLASSES = ("find", "bgp", "agg", "setop")

# (name, unit, span or count name, kind); kind "s"/"ms" = median self
# time of that span, "count" = median of the recorded count
LAYER_METRICS = [
    ("sources.iceberg.read_s", "s", "sources.iceberg.read", "s"),
    ("extract.mentions_s", "s", "extract.mentions", "s"),
    ("extract.structure_s", "s", "extract.structure", "s"),
    ("extract.mention_rows", "count", "extract.mention_rows", "count"),
    ("canonicalize.rep_dim_s", "s", "canonicalize.rep_dim", "s"),
    ("canonicalize.construct_s", "s", "canonicalize.construct_s", "count"),
    ("canonicalize.incremental_s", "s", "canonicalize.incremental", "s"),
    ("canonicalize.reelect_rows_rewritten", "count",
     "canonicalize.reelect_rows_rewritten", "count"),
    ("canonicalize.cc_s", "s", "canonicalize.cc", "s"),
    ("canonicalize.cc_spark_jobs", "count", "canonicalize.cc_spark_jobs", "count"),
    ("canonicalize.rewrite_s", "s", "canonicalize.rewrite", "s"),
    ("materialize.write_s", "s", "materialize.write", "s"),
    ("materialize.bytes_written", "bytes", "materialize.bytes_written", "count"),
    ("materialize.files_written", "count", "materialize.files_written", "count"),
    ("materialize.rows_written_per_new_row", "ratio",
     "materialize.rows_written_per_new_row", "count"),
    ("sparql.compile_ms", "ms", "sparql.compile", "ms"),
] + [m for c in QUERY_CLASSES for m in (
    (f"query.exec_ms.{c}", "ms", f"query.exec.{c}", "ms"),
    (f"query.spark_jobs.{c}", "count", f"query.spark_jobs.{c}", "count"),
    (f"query.rows_returned.{c}", "count", f"query.rows_returned.{c}", "count"),
)]


def start_spark(work: str, trace: bool):
    """local[nproc] session whose scratch space is inside ``work``."""
    from jena_spark.session import get_spark

    from workloads import NPROC

    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the short-lived JVM that spark-submit starts first reads these
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    return get_spark("kgbench", cores=NPROC, shuffle_partitions=NPROC, extra_conf={
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the monitoring REST API is read only by the traced run
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop the session and end the JVM that PySpark launched, waiting
    for it: left alone, it exits only after this process has, once it
    reads the end of its stdin pipe."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def log(msg: str) -> None:
    print(f"kgbench: [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _med(v):
    return statistics.median(v)


def _land(b, tables) -> None:
    with ThreadPoolExecutor(len(tables)) as pool:
        for f in [pool.submit(fn, *args) for fn, *args in tables]:
            f.result()


def _end_setup(b) -> float:
    """Warm-up samples and counts are set-up, not measurement."""
    b.samples.clear()
    b.attempted = 0
    if b.tracer.enabled:
        b.shuffle_at_start = b.shuffle_write_bytes()
    return time.perf_counter() - T_START


def _window(b, seconds: float, steps) -> None:
    """Run whole rounds of ``steps`` ((name, fn) pairs): the first always,
    each further one only if it is expected (the median of the earlier
    rounds' durations) to end within ``seconds`` of the window's start.
    Whole rounds keep the mix of samples the same in every run."""
    start, rounds = time.perf_counter(), []
    while not rounds or time.perf_counter() - start + _med(rounds) <= seconds:
        t_round = time.perf_counter()
        for name, fn in steps:
            t0 = time.perf_counter()
            fn()
            log(f"{name} {time.perf_counter() - t0:.2f}s")
        rounds.append(time.perf_counter() - t_round)
    log(f"window closed after {len(rounds)} rounds, {time.perf_counter() - start:.2f}s")
    if b.tracer.enabled:
        b.shuffle_per_op = (b.shuffle_write_bytes() - b.shuffle_at_start) / b.attempted


def run_cycle(b, seconds: float):
    """Every operation of the benchmark, interleaved in one timed window:
    query rounds (one client and ``nproc`` clients) on the committed base
    store, folds of the arrival batches onto it with reads after each
    commit, store builds and sameAs closures. Interleaving spreads a slow
    spell of the machine over every metric's samples instead of over one
    phase."""
    _land(b, [(b.land, b.inputs.base, "corpus"), (b.land_closure,)] + [
        (b.land, batch, os.path.join("arrivals", f"b{k}"))
        for k, batch in enumerate(b.inputs.batches)])
    base = b.build("base")
    conn = b.connect(base)
    # the first query round of a process takes twice the time of the next
    # while the JVM compiles the query path, and query latencies are most
    # of the metrics, so one round warms up. Nothing else does: every run
    # keeps this schedule, so each operation is timed at the same point of
    # the JVM's warm-up (the closure is the process's first, as in a
    # pipeline job, and the fold of batch 0 the first fold).
    b.query_round(conn, -1)
    setup = _end_setup(b)
    rounds, tags, stores = itertools.count(), itertools.count(), []
    _window(b, seconds, [
        ("single0", lambda: b.query_round(conn, next(rounds))),
        ("fold0", lambda: b.fold_next(base)),
        ("concurrent", lambda: b.queries_concurrent(conn, next(rounds))),
        ("single1", lambda: b.query_round(conn, next(rounds))),
        ("build", lambda: stores.append(b.build(f"{next(tags)}"))),
        ("fold1", lambda: b.fold_next(base)),
        ("lookups", lambda: b.lookups(conn, next(rounds))),
        ("single2", lambda: b.query_round(conn, next(rounds))),
        ("closure", lambda: b.closure(f"{next(tags)}")),
    ])
    b.checks.append(b.check_queries)
    b.checks.append(lambda: b.one_shot_matches(*b.last_chain))
    if b.tracer.enabled:
        return setup, {}
    b.store_metrics(stores[-1])
    # ms latencies of each query shape, by class
    lat: dict[str, list[list[float]]] = {}
    for key, v in b.samples.items():
        if key.startswith("lat/"):
            lat.setdefault(key.split("/")[1], []).append([x * 1000 for x in v])
    # a class's p50 is the mean over its shapes of each shape's median:
    # shapes differ in cost, and the median of the pooled samples would
    # jump between them from run to run
    p50 = {c: statistics.fmean(_med(v) for v in lat[c]) for c in QUERY_CLASSES}
    return setup, {
        "build_triples_per_s": (len(b.expected_base) / _med(b.samples["build_s"]), "1/s"),
        "store_bytes_per_triple": (_med(b.samples["store_bytes_per_triple"]), "B"),
        "query_qps": (_med(b.samples["query_qps"]), "1/s"),
        "query_qps_concurrent": (_med(b.samples["query_qps_concurrent"]), "1/s"),
        "find_p50_ms": (p50["find"], "ms"),
        "bgp_p50_ms": (p50["bgp"], "ms"),
        "agg_p50_ms": (p50["agg"], "ms"),
        "setop_p50_ms": (p50["setop"], "ms"),
        "append_batch_p50_s": (_med(b.samples["append_batch_s"]), "s"),
        "append_reelect_s": (_med(b.samples["append_reelect_s"]), "s"),
        "read_after_append_p50_ms": (_med(b.samples["read_after_append_s"]) * 1000, "ms"),
        "closure_edges_per_s": (b.inputs.closure.n_sameas / _med(b.samples["closure_s"]),
                                "1/s"),
    }


def layer_metrics(b) -> dict:
    tr = b.tracer
    out = {}
    for name, unit, key, kind in LAYER_METRICS:
        if kind == "count":
            v = tr.median_count(key)
        else:
            v = tr.median_self(key) * (1000 if kind == "ms" else 1)
        out[name] = {"value": v, "unit": unit}
    out["spark.shuffle_write_bytes"] = {"value": b.shuffle_per_op, "unit": "bytes"}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("default", "tiny"), default="default",
                    help="input size; tiny is for the self-test")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jena_spark", "__init__.py")):
        print("kgbench: the program's sources (jena_spark/) are not in this "
              "checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    os.environ["TZ"] = "UTC"
    time.tzset()

    import gen
    import workloads
    from spans import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{args.scale}"
    work = os.path.join(OUT, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_spark(work, bool(args.trace))
    try:
        inputs = gen.make_inputs(args.seed, gen.SCALES[args.scale],
                                 WORKLOADS[args.workload])
        b = workloads.Bench(spark, work, inputs, Tracer(bool(args.trace), run_id), args.seed)
        setup, e2e = run_cycle(b, args.seconds)
        log(f"set-up took {setup:.2f}s; timed work done")
        errors = [e for check in b.checks for e in check()]
        log("checks done")
        if args.trace:
            metrics = layer_metrics(b)
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            b.tracer.dump(os.path.join(OUT, "traces", f"{run_id}.json"))
        else:
            metrics = {"setup_s": {"value": setup, "unit": "s"}}
            metrics.update({k: {"value": v, "unit": u} for k, (v, u) in e2e.items()})
    finally:
        stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"kgbench: CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({"correct": not errors, "attempted": b.attempted,
                      "failed": 0, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
