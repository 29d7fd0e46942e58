"""Benchmark of batch_geocode_spark on the host's real core count.

    python3 perfbench/run.py --workload geo_uniform --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One run:

1. generates the workload's inputs from ``--seed`` (untimed, cached under
   ``.perfbench/``);
2. sets up once: session start (JVM launch included), view registration
   and Python worker start; ``setup_s`` is this cold set-up;
3. runs one cold pass of the workload's mix in the fresh session, with
   each query's result collected to the driver for the output checks;
4. runs warm passes, outputs to the noop sink, until ``--seconds`` have
   passed (at least ``MIN_PASSES``);
5. stops Spark and every process it started, and waits for each to end;
6. checks every collected result against its DuckDB oracle (untimed).

``--trace 1`` is a separate run with Spark's event log on: the same
set-up, the cold pass under ``<workload>/<query>`` job descriptions, then
the per-layer harness (``layers.py``); it reports the per-layer metrics.

Human-readable tables and a detail JSON line go to stdout first; the last
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
the metrics named in ``BENCHMARK.json``. A failed check
or a raised error counts as a failure and makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import threading
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# Warm passes are still on the JIT warm-up curve, each cheaper than the one
# before, so a median is comparable between runs only over the same passes.
# Two passes take longer than the --seconds 5 the benchmark is run with,
# which therefore never adds a third.
MIN_PASSES = 2
CORES = len(os.sched_getaffinity(0))  # what nproc prints
DRIVER_MEM = "2g"

WORKLOADS = ("geo_uniform", "geo_hotcell")
GEO_QUERIES = {
    "g05": "g05_admin_pip",
    "g12": "g12_spatial_knn",
}

# The metrics BENCHMARK.json bounds. Pass costs are CPU seconds of the
# process tree (driver, JVM, Python workers): on a shared host the
# neighbours' load moves pass wall times by up to half, and CPU time by
# less. Wall times and per-query figures are printed beside them.
END_TO_END = {  # name -> unit
    "setup_s": "s", "cold_pass_cpu_s": "s", "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}


def now() -> float:
    return time.perf_counter()


def summary(values: list[float]) -> dict:
    """Median, quartiles and n of a sample."""
    vals = sorted(values)
    if len(vals) >= 2:
        q1, med, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    else:
        q1 = med = q3 = vals[0]
    return {"median": med, "q1": q1, "q3": q3, "n": len(vals)}


# ------------------------------------------------------------------ process
def _procs() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, start time, RSS bytes) of every live process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/statm") as f:
                rss = int(f.read().split()[1]) * page
            # fields after the comm: 0=state 1=ppid ... 19=starttime
            out[int(d)] = (int(fields[1]), fields[19], rss)
        except (OSError, IndexError, ValueError):
            continue
    return out


def _descendants(root_pid: int, procs: dict) -> set[int]:
    tree, frontier = set(), [root_pid]
    while frontier:
        p = frontier.pop()
        for c, (pp, *_rest) in procs.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants: the Python
    driver, the JVM and the Python workers."""
    procs = _procs()
    return sum(procs[p][2] for p in _descendants(root_pid, procs) | {root_pid}
               if p in procs)


def _started_here() -> set[tuple[int, str]]:
    """(pid, start time) of every process below this one."""
    procs = _procs()
    return {(p, procs[p][1]) for p in _descendants(os.getpid(), procs) if p in procs}


def _alive(pid: int, start: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[19] == start and fields[0] not in ("Z", "X")


def stop_spark(grace_s: float = 30.0) -> None:
    """Stop Spark and end every process it started: the gateway JVM, the
    Python worker daemon and its workers. Waits until each has ended.

    ``SparkContext.stop`` leaves the py4j gateway JVM running; it exits
    only when its stdin closes, and the worker daemon exits after it.
    Processes still running ``grace_s`` after that are killed."""
    import subprocess

    from pyspark import SparkContext

    started = _started_here()
    sc = SparkContext._active_spark_context
    try:
        if sc is not None:
            sc.stop()
    finally:
        started |= _started_here()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.close()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=grace_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline, killed = now() + grace_s, False
        while started := {p for p in started if _alive(*p)}:
            if now() > deadline and not killed:
                for pid, _start in started:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
                killed = True
            time.sleep(0.05)


class PeakRss:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------------ session
def spark_conf(trace_dir: str | None) -> dict[str, str]:
    # session.py's GC choice; temp files inside the checkout, no hsperfdata
    java_opts = f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp"
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{WORK}/warehouse",
    }
    if trace_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            # no Python zstd module to read the default compressed log
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{trace_dir}",
        })
    return conf


def start_workers(spark) -> None:
    """Start the Python workers on every core with one trivial job."""
    spark.range(CORES, numPartitions=CORES).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()


def setup(sf_dir: str, trace_dir: str | None) -> tuple[object, dict]:
    from batch_geocode_spark import entry_queries as EQ
    from batch_geocode_spark.session import get_spark

    t0 = now()
    spark = get_spark(master=f"local[{CORES}]", app_name="perfbench",
                      extra_conf=spark_conf(trace_dir))
    t1 = now()
    EQ._views(spark, sf_dir)
    t2 = now()
    start_workers(spark)
    t3 = now()
    return spark, {"start_s": t1 - t0, "views_s": t2 - t1,
                   "py_worker_start_s": t3 - t2, "total_s": t3 - t0}


def span(spark, name: str | None) -> None:
    spark.sparkContext.setJobDescription(name)


# ------------------------------------------------------------------ passes
def run_pass(spark, sf_dir: str, collect: bool,
             span_prefix: str | None) -> tuple[dict, dict]:
    """One pass of the query mix: per-query wall times and, with
    ``collect``, every result as a pandas frame. With ``span_prefix``
    each query runs under the job description ``<span_prefix>/<query>``."""
    from batch_geocode_spark import entry_queries as EQ
    from batch_geocode_spark.loadmeter import tree_cpu_s

    times, results = {}, {}
    cpu_pass = tree_cpu_s()
    t_pass = now()
    for short, name in GEO_QUERIES.items():
        span(spark, f"{span_prefix}/{name}" if span_prefix else None)
        cpu0, t0 = tree_cpu_s(), now()
        df = EQ.QUERIES[name](spark, sf_dir)
        if collect:
            results[name] = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
        times[f"{short}_s"] = now() - t0
        times[f"{short}_cpu_s"] = tree_cpu_s() - cpu0
    times["pass_s"] = now() - t_pass
    times["pass_cpu_s"] = tree_cpu_s() - cpu_pass
    span(spark, None)
    return times, results


# ------------------------------------------------------------------ checks
# g12 ranks gazetteer points by an unrounded float haversine, then by id.
# Spark's composite best coordinates and haversine differ from DuckDB's in
# the last bits, so two points at the same distance from a query can come
# out in the other order. Such a swap is accepted only once proven a tie:
# the oracle's unrounded distances of the two points differ by no more
# than TIE_ULPS ulps of the query's coordinates can move them.
KNN_QUERY = "g12_spatial_knn"
TIE_ULPS = 4


def _load_normalize():
    """``normalize`` of scripts/check_correctness.py."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "scripts", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def frames_equal(got, want, normalize) -> str | None:
    """None when equal under the normalize-and-compare rule, else why not."""
    import pandas as pd

    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return f"shape {got.shape} != {want.shape}"
    try:
        pd.testing.assert_frame_equal(normalize(got), normalize(want), check_dtype=False,
                                      check_exact=False, rtol=0, atol=0)
    except AssertionError as e:
        return f"values differ: {str(e)[:300]}"
    return None


def knn_tie_check(got, want, exact, normalize) -> tuple[str | None, int]:
    """g12 equality up to proven distance ties: (why not, or None; rows
    whose neighbour differs from the oracle's).

    (query_id, knn_rank, dist_km) must be equal exactly. At each rank where
    the neighbour differs, ``exact`` gives for (query_id, nbr_id) pairs the
    oracle's unrounded ``dist``, the neighbour's ``nbr_lat``/``nbr_lng`` as
    the query outputs them and the query's ``q_lat``/``q_lng``. Spark's row
    must carry its own neighbour's coordinates, and the two neighbours'
    distances may differ by at most what ``TIE_ULPS`` ulps of the query's
    coordinates can change them by: a distance moves by at most
    R·π/180 km per degree of either coordinate, so a difference of two
    distances by at most twice that."""
    from batch_geocode_spark.functions.geo import EARTH_RADIUS_KM

    keys = ["query_id", "knn_rank", "dist_km"]
    why = frames_equal(got[keys], want[keys], normalize)
    if why:
        return why, 0
    if got.duplicated(["query_id", "nbr_id"]).any():
        return "a neighbour repeats within a query", 0
    m = got.merge(want, on=["query_id", "knn_rank"], suffixes=("", "_want"))
    cols = ["nbr_id", "nbr_lat", "nbr_lng"]
    differ = (m[cols].to_numpy() != m[[f"{c}_want" for c in cols]].to_numpy()).any(axis=1)
    swapped = m[differ]
    if swapped.empty:
        return None, 0
    n = len(swapped)
    mine = exact(swapped[["query_id", "nbr_id"]])
    theirs = exact(swapped[["query_id", "nbr_id_want"]].set_axis(["query_id", "nbr_id"], axis=1))
    if len(mine) != n or len(theirs) != n:
        return f"{n} swapped rows name a query or neighbour the oracle does not know", n
    for c in ("nbr_lat", "nbr_lng"):
        if (swapped[c].to_numpy() != mine[c].to_numpy()).any():
            return f"swapped rows carry another point's {c}", n
    km_per_deg = EARTH_RADIUS_KM * np.pi / 180.0
    tol = 2 * km_per_deg * TIE_ULPS * (np.spacing(np.abs(mine["q_lat"].to_numpy()))
                                       + np.spacing(np.abs(mine["q_lng"].to_numpy())))
    gap = np.abs(mine["dist"].to_numpy() - theirs["dist"].to_numpy())
    if (gap > tol).any():
        return (f"{int((gap > tol).sum())} of {n} swapped rows are not at a distance tie "
                f"(up to {(gap / tol).max():.3g}x the tie tolerance apart)"), n
    return None, n


def oracle_distances(con):
    """``exact`` for ``knn_tie_check``: per (query_id, nbr_id) pair, the
    g12 oracle's unrounded haversine, the neighbour's rounded coordinates
    and the query's coordinates, computed by DuckDB from the oracle's own
    CTEs."""
    from batch_geocode_spark import entry_queries as EQ
    from batch_geocode_spark.functions.geo import haversine_sql

    dist = haversine_sql("b.best_lat", "b.best_long", "g.lat", "g.lng")

    def exact(pairs):
        con.register("pairs", pairs.reset_index(drop=True).assign(i=range(len(pairs))))
        out = con.execute(EQ.GEO_CTES + f"""
            SELECT {dist} AS dist, ROUND(g.lat, 6) AS nbr_lat, ROUND(g.lng, 6) AS nbr_lng,
                   b.best_lat AS q_lat, b.best_long AS q_lng
            FROM pairs p JOIN best b ON b.image_id = p.query_id
                         JOIN gaz g ON g.gaz_id = p.nbr_id
            ORDER BY p.i""").df()
        con.unregister("pairs")
        return out

    return exact


def check_queries(sf_dir: str, results: dict) -> tuple[dict[str, str], dict[str, int]]:
    """Each collected result against its DuckDB oracle, with the
    normalize-and-compare rule of scripts/check_correctness.py (g12 up to
    proven distance ties, see ``knn_tie_check``). Returns (failures, rows
    whose neighbour differs only inside a distance tie, per kNN query)."""
    import duckdb
    import pandas as pd

    from batch_geocode_spark import entry_queries as EQ
    import gen

    normalize = _load_normalize()
    con = duckdb.connect()
    con.execute(f"SET threads TO {CORES}")
    for t in gen.ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures, tie_swaps = {}, {}
    for name, got in results.items():
        cache = os.path.join(sf_dir, f"expected_{name}.parquet")
        if os.path.exists(cache):
            want = pd.read_parquet(cache)
        else:
            want = con.execute(EQ.ORACLES[name]).df()
            want.to_parquet(cache)
        why = frames_equal(got, want, normalize)
        if why and name == KNN_QUERY:
            why, tie_swaps[name] = knn_tie_check(got, want, oracle_distances(con), normalize)
        if why:
            failures[name] = why
    con.close()
    return failures, tie_swaps


# ------------------------------------------------------------------ run
def measure(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """One untraced run (end-to-end metrics) or traced run (per-layer)."""
    import gen
    from batch_geocode_spark import loadmeter

    sf_dir, meta = gen.generate(workload, seed, f"{WORK}/data")
    trace_root = f"{WORK}/eventlog/{workload}-{seed}-{os.getpid()}" if trace else None
    if trace_root:
        os.makedirs(trace_root, exist_ok=True)

    # The traced run runs no warm passes, so that its layer harness fits
    # the run's time: its spark.* counters come from the cold pass, and
    # tracing overhead is compared on the cold pass, after the same set-up.
    ext = loadmeter.ExternalCpuMeter()
    warm: list[dict] = []
    harness = None
    with PeakRss() as rss:
        try:
            spark, setup_t = setup(sf_dir, trace_root)
            with ext:
                cold, results = run_pass(spark, sf_dir, True, workload if trace else None)
                if trace:
                    import layers

                    harness = layers.run_calls(spark, workload, seed, sf_dir, f"{WORK}/tmp")
                else:
                    t_end = now() + seconds
                    while len(warm) < MIN_PASSES or now() < t_end:
                        warm.append(run_pass(spark, sf_dir, False, None)[0])
        finally:
            stop_spark()

    attempted = len(GEO_QUERIES) * (1 + len(warm))
    t_check = now()
    problems, tie_swaps = check_queries(sf_dir, results)
    check_s = now() - t_check
    stats = {k: summary([w[k] for w in warm]) for k in warm[0]} if warm else {}
    stats["setup_s"] = summary([setup_t["total_s"]])
    for k in ("start_s", "views_s", "py_worker_start_s"):
        stats[f"setup.{k}"] = summary([setup_t[k]])
    stats["cold_pass_s"] = summary([cold["pass_s"]])
    stats["cold_pass_cpu_s"] = summary([cold["pass_cpu_s"]])
    stats["peak_rss_mb"] = summary([rss.peak / 2**20])
    detail = {
        "workload": workload, "seed": seed, "inputs": meta, "cores": CORES,
        "pyspark": __import__("pyspark").__version__,
        "external_cpu_cores": round(ext.ext_cores(), 3),
        "passes": len(warm), "cold": cold, "warm": warm, "setup": setup_t,
        "knn_tie_swapped_rows": tie_swaps, "check_s": check_s, "stats": stats,
    }
    if harness:
        import layers

        attempted += harness.attempted
        problems.update(harness.problems)
        metrics, per_span = layers.layer_metrics(
            harness, trace_root, setup_t, [f"{workload}/{q}" for q in GEO_QUERIES.values()])
        metrics["trace.cold_pass_s"] = cold["pass_s"]
        metrics["trace.cold_pass_cpu_s"] = cold["pass_cpu_s"]
        detail["per_layer"] = metrics
        detail["spans"] = per_span
    else:
        metrics = {k: stats[k]["median"] for k in END_TO_END}
    detail["problems"] = problems
    detail["error_rate"] = len(problems) / attempted
    return {"detail": detail, "attempted": attempted, "failed": len(problems),
            "metrics": metrics}


def print_table(detail: dict) -> None:
    print(f"# {detail['workload']} seed={detail['seed']} cores={detail['cores']} "
          f"pyspark={detail['pyspark']} external_cpu_cores={detail['external_cpu_cores']} "
          f"passes={detail['passes']} error_rate={detail['error_rate']:.4f}")
    print(f"# inputs: {json.dumps(detail['inputs'])}")
    print(f"{'metric':<26}{'unit':>10}{'median':>12}{'q1':>12}{'q3':>12}{'n':>5}")
    for k, s in detail["stats"].items():
        unit = END_TO_END.get(k, "s")
        print(f"{k:<26}{unit:>10}{s['median']:>12.4f}{s['q1']:>12.4f}{s['q3']:>12.4f}{s['n']:>5}")
    for name, why in detail["problems"].items():
        print(f"FAIL {name}: {why}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a SIGTERM unwinds through stop_spark like any other error
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "batch_geocode_spark")):
        print("perfbench: no batch_geocode_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    for d in ("tmp", "data", "spark-local"):
        os.makedirs(f"{WORK}/{d}", exist_ok=True)
    # keep Spark's shuffle/spill and temp files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = f"{WORK}/spark-local"
    os.environ["TMPDIR"] = f"{WORK}/tmp"

    out = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    print_table(out["detail"])
    print(json.dumps(out["detail"], default=float))
    metrics = {k: {"value": v, "unit": unit_of(k, bool(args.trace))}
               for k, v in out["metrics"].items()}
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0 if out["failed"] == 0 else 1


def unit_of(name: str, trace: bool) -> str:
    if not trace:
        return END_TO_END[name]
    import layers

    return layers.PER_LAYER[name]


if __name__ == "__main__":
    sys.exit(main())
