"""Benchmark of the asag_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout: the engine is imported from there.
One caller drives the workload on ``local[<half the cores>]`` as a
closed loop: set-up (session start, inputs built from the seed, one
warm-up pass), then passes over the workload's calls until
``--seconds`` have gone by. The end-to-end figures are medians over
those passes. After the timed window every call's output is checked.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the window is split into an untraced half and a traced
half, and the metrics are the per-layer
counters of the traced half read from Spark's status store, plus the
tracing and sampler overhead.
Spans are written to ``.perfbench/traces/`` when the run ends.
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
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from procstat import TreeSampler, descendants, tree_cpu_s  # noqa: E402

PINNED = os.path.join(HERE, "pinned.json")
CHECK_THREADS = 4

# per-layer metrics of the traced run: every layer reports every kind
LAYERS = ("operators.enrich", "functions", "operators.pip", "operators.knn",
          "geo.tiles", "geo.xyz", "plans.checkpoint", "operators.text",
          "operators.dedup", "operators.checks", "operators.similarity")
RATIOS = ("operators.pip.hit_ratio", "operators.similarity.scan_ratio",
          "operators.dedup.drop_ratio", "plans.checkpoint.mb_written",
          "operators.pip.rdds_left", "operators.knn.rdds_left")
UNITS = {"wall_s": "s", "driver_s": "s", "task_cpu_s": "s", "gc_s": "s",
         "shuffle_mb": "MB", "spill_mb": "MB", "py_run_s": "s",
         "py_sent_mb": "MB", "jobs": "count", "skew": "ratio",
         "hit_ratio": "ratio", "scan_ratio": "ratio", "drop_ratio": "ratio",
         "mb_written": "MB", "rdds_left": "count"}


def failed_calls(results: dict, pinned: dict, invariant_bad: list) -> set:
    """Names of the checks one pass failed: a pinned (rows, digest)
    that does not match, or a broken invariant."""
    bad = set(invariant_bad)
    for name, got in results.items():
        want = pinned.get(name)
        if want is not None and [int(got[0]), str(got[1])] != list(want):
            bad.add(name)
    return bad


class Runner:
    def __init__(self, workload, sampler: TreeSampler, pinned: dict):
        self.wl = workload
        self.sampler = sampler
        self.pinned = pinned
        self.attempted = 0
        self.failed = 0
        self.passes = 0
        self.last_results: dict = {}
        self._pending: list[dict] = []

    def one_pass(self, warm_up: bool = False) -> tuple[float, int]:
        """(wall seconds, items) of one pass over the workload's calls.
        A pass that raises counts every call as failed. The outputs of
        a warm-up pass are not checked."""
        n = len(self.wl.calls)
        self.attempted += n
        index = self.passes
        self.passes += 1
        tracer = self.wl.tracer
        t0 = time.perf_counter()
        try:
            if tracer is None:
                items, checks = self.wl.iteration(index)
            else:
                with tracer.iteration(index):
                    items, checks = self.wl.iteration(index)
        except Exception:
            traceback.print_exc()
            self.failed += n
            return time.perf_counter() - t0, 0
        wall = time.perf_counter() - t0
        if not warm_up:
            self._pending.append(checks)
        return wall, items

    def window(self, seconds: float) -> dict:
        """Passes until ``seconds`` have gone by (at least one). Rate
        and CPU are medians over the passes, so a pass slowed by the
        host counts for no more than its rank."""
        root = os.getpid()
        self.sampler.begin()
        start = time.perf_counter()
        walls, cpus, rates = [], [], []
        while True:
            cpu0 = tree_cpu_s(root)
            wall, n = self.one_pass()
            cpus.append(tree_cpu_s(root) - cpu0)
            walls.append(wall)
            rates.append(n / wall)
            if time.perf_counter() - start >= seconds:
                break
        usage = self.sampler.end()
        return {"passes": len(walls), "pass_walls": walls,
                "pass_cpu_s": cpus, "steal_share": usage["steal_share"],
                "items_per_s": statistics.median(rates),
                "cpu_s": statistics.median(cpus),
                "peak_rss_mb": usage["peak_rss_bytes"] / 1e6,
                "sampler_cpu_s": usage["sampler_cpu_s"],
                "tree_cpu_s": usage["cpu_s"]}

    def check_all(self) -> None:
        """Evaluate every pending pass's output checks."""
        for checks in self._pending:
            try:
                # the checks are small Spark jobs; running them side by
                # side overlaps their driver round trips
                with ThreadPoolExecutor(CHECK_THREADS) as pool:
                    results = dict(zip(checks, pool.map(
                        lambda thunk: thunk(), checks.values())))
                bad = failed_calls(results, self.pinned,
                                   self.wl.invariants(results))
            except Exception:
                traceback.print_exc()
                results, bad = {}, self.wl.calls
            self.failed += min(len(bad), len(self.wl.calls))
            self.last_results = results
        self._pending.clear()


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def layer_metrics(tracer, passes: int, ratios: dict) -> dict:
    from spans import KINDS

    totals = tracer.layer_totals()
    out = {}
    for layer in LAYERS:
        acc = totals.get(layer, {})
        for kind in KINDS:
            v = acc.get(kind, 0.0)
            out[f"{layer}.{kind}"] = _metric(
                v if kind == "skew" else v / passes, UNITS[kind])
    for name in RATIOS:
        layer, kind = name.rsplit(".", 1)
        if kind == "rdds_left":
            v = totals.get(layer, {}).get("rdds_left", 0.0) / passes
        else:
            v = ratios.get(name, 0.0)
        out[name] = _metric(v, UNITS[kind])
    return out


def _configure_env(work: str) -> None:
    """Keep everything the JVM and the workers write inside ``work``
    and size the session for a 4-core, 15 GB host."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["ASAG_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["ASAG_DRIVER_MEM"] = "3g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")


def _stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM PySpark launched and wait until every process the
    run started has exited. The gateway JVM exits when its stdin
    closes; the Python daemon and workers follow it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import asag_spark  # noqa: F401
        from workloads import DEFAULT_SEED, WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {root}: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    bench_dir = os.path.join(root, ".perfbench")
    work = os.path.join(bench_dir, f"run-{os.getpid()}")
    _configure_env(work)
    with open(PINNED) as fh:
        pinned_all = json.load(fh).get(args.workload, {})
    cls = WORKLOADS[args.workload]
    pinned = {k: v for k, v in pinned_all.items()
              if args.seed == DEFAULT_SEED or k in cls.seed_free}

    sampler = TreeSampler().start()
    spark = None
    try:
        from asag_spark.session import get_spark

        # half of what nproc reports: the other half is left to the
        # JIT and GC threads and the Python workers, and to the host.
        # On 4 cores, 20% of each core taken away cost local[4] 23%
        # (geo_pipeline) and 16% (curate) of items_per_s, and local[2]
        # 3% and 10% (DESIGN.md, Noise)
        cores = max(1, len(os.sched_getaffinity(0)) // 2)
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}",
                          master=f"local[{cores}]",
                          shuffle_partitions=2 * cores)
        t1 = time.perf_counter()
        wl = cls(spark, args.seed, os.path.join(work, "data"))
        wl.setup()
        t2 = time.perf_counter()
        runner = Runner(wl, sampler, pinned)
        # every timed figure describes warm calls: the warm-up pass
        # fills the JIT and code-generation caches
        runner.one_pass(warm_up=True)
        t3 = time.perf_counter()
        setup_s = t3 - t0
        phases = {"session_s": t1 - t0, "inputs_s": t2 - t1,
                  "warm_up_s": t3 - t2}

        if args.trace:
            from spans import Tracer

            # an untraced and a traced window give the tracing overhead
            plain = runner.window(args.seconds / 2)
            wl.tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            traced = runner.window(args.seconds / 2)
            runner.check_all()
            ratios = wl.ratios(runner.last_results) if not runner.failed \
                else {}
            metrics = layer_metrics(wl.tracer, traced["passes"], ratios)
            metrics["trace.overhead_ratio"] = _metric(
                1.0 - traced["items_per_s"] / plain["items_per_s"]
                if plain["items_per_s"] else 0.0, "ratio")
            metrics["sampler.cpu_share"] = _metric(
                traced["sampler_cpu_s"] / traced["tree_cpu_s"], "ratio")
            metrics["failed_ratio"] = _metric(
                runner.failed / runner.attempted, "ratio")
            os.makedirs(os.path.join(bench_dir, "traces"), exist_ok=True)
            with open(os.path.join(
                    bench_dir, "traces",
                    f"{args.workload}-{args.seed}-{os.getpid()}.jsonl"),
                    "w") as fh:
                for span in wl.tracer.spans:
                    fh.write(json.dumps(span) + "\n")
        else:
            win = runner.window(args.seconds)
            runner.check_all()
            metrics = {
                "items_per_s": _metric(win["items_per_s"], "items/s"),
                "cpu_s": _metric(win["cpu_s"], "s"),
                "peak_rss_mb": _metric(win["peak_rss_mb"], "MB"),
                "setup_s": _metric(setup_s, "s"),
            }
            print(json.dumps({
                "pass_walls": win["pass_walls"],
                "pass_cpu_s": win["pass_cpu_s"], "setup": phases,
                "host_steal_share": win["steal_share"],
                "failed_ratio": runner.failed / runner.attempted,
                "sampler_cpu_share": win["sampler_cpu_s"] / win["tree_cpu_s"],
                "results": runner.last_results}))
    finally:
        if spark is not None:
            spark.stop()
            _stop_jvm()
        sampler.close()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
