"""Workload benchmark for the kNN engine.

    python3 perfbench/run.py --workload fold-batch --seed 1 --seconds 15 --trace 0

Generates a seeded dataset under ``.perfbench/`` in the repository root,
then sets up three times: ``session.get_spark`` (local[4]) and one
discarded op of each type; the first set-up starts the JVM, the later
ones a fresh session on it, and ``setup_s`` is their median. Then it runs
the workload's closed loop for a fixed number of rounds sized from
``--seconds`` (never fewer than the workload's ``min_rounds``), and checks
every op type's output against its DuckDB oracle (untimed). The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``; per-layer metrics with
``--trace 1``). The line before it is a JSON report with the environment,
the dataset, the set-ups, the tail percentile and its sample counts.

With ``--trace 1`` rounds go untraced, traced, traced, untraced, ...; the
traced ones record spans and Spark counters, and ``trace.overhead``
compares the throughput of traced and untraced rounds.

``--smoke`` runs a few hundred vectors and one round of ops, for the
self-test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import numpy  # noqa: E402
import pyspark  # noqa: E402

import procfs  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from knn_with_mapreduce_cuda_spark import oracle, registry, session, tables  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
CPUS = "4"
DRIVER_MEMORY = "3g"
#: a run stops starting rounds after this long, so it exits within 180 s
RUN_CAP_S = 120.0
SMOKE_N = 300
#: set-ups per run; ``setup_s`` is their median
SETUPS = 3

#: every registry key any workload runs; each gets per-layer call/sink times
ALL_KEYS = sorted(
    {k for w in workloads.WORKLOADS.values() for k in w.mix if k != workloads.WRITE}
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    _DECLARED = json.load(f)
#: metric name -> unit, as BENCHMARK.json declares them
UNITS = {m["name"]: m["unit"] for kind in ("end_to_end", "per_layer") for m in _DECLARED[kind]}
WHY = {w["name"]: w["why"] for w in _DECLARED["workloads"]}


def _environment() -> None:
    """Keep Spark, DuckDB and temp files inside the checkout, and let the
    PySpark workers import the engine."""
    for sub in ("tmp", "spark-local", "duck-tmp", "scratch"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(WORK, "scratch")
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the JVMs' temp files too: spark-submit's launcher and the driver
    java_opts = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf 'spark.driver.extraJavaOptions={java_opts}' pyspark-shell"
    )


def _radii() -> dict[str, float]:
    """The engine's range-query radii, to record how selective they are on
    the generated data."""
    from knn_with_mapreduce_cuda_spark.operators import iterative, knn

    found = {
        "DBSCAN_EPS": getattr(iterative, "DBSCAN_EPS", None),
        "RADIUS_EPS": getattr(knn, "RADIUS_EPS", None),
    }
    return {k: v for k, v in found.items() if v is not None}


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


@dataclass
class Sample:
    key: str
    version: int
    latency: float
    call_s: float
    sink_s: float
    ok: bool
    error: str = ""


class Clock:
    """Timed wall and process-tree CPU, paused around untimed checks."""

    def __init__(self, sampler: procfs.RssSampler) -> None:
        self.sampler = sampler
        self.wall = self.cpu = 0.0
        self._w = None

    def start(self) -> None:
        self._c = procfs.tree_cpu_s()
        self._w = time.perf_counter()
        self.sampler.paused = False

    def stop(self) -> None:
        self.wall += time.perf_counter() - self._w
        self._w = None
        self.sampler.paused = True
        self.cpu += procfs.tree_cpu_s() - self._c


class Runner:
    def __init__(self, spark, wl: workloads.Workload, con) -> None:
        self.spark, self.wl, self.con = spark, wl, con
        self.queries = registry.queries()
        self.oracle_sql = registry.oracle_sql(wl.dir)
        self.samples: list[Sample] = []
        self.checks: list[dict] = []
        self.checked: set[tuple[str, int]] = set()
        self.bad: dict[tuple[str, int], str] = {}
        self.check_next_read = False
        self.op_id = 0

    # -------------------------------------------------------------- ops

    def run_op(self, key: str, tracer=None) -> Sample:
        span = tracer.span if tracer else (lambda name: nullcontext())
        table = self.wl.prepare_write() if key == workloads.WRITE else None
        version = self.wl.version
        call_s = sink_s = 0.0
        t0 = time.perf_counter()
        try:
            if table is not None:
                with span("write"):
                    self.wl.write(table, tables)
            else:
                if self.wl.invalidate_each_op:
                    with span("tables.invalidate_caches"):
                        tables.invalidate_caches(self.wl.dir)
                t1 = time.perf_counter()
                with span(f"op.{key}.call"):
                    df = self.queries[key](self.spark, self.wl.dir)
                t2 = time.perf_counter()
                with span(f"op.{key}.sink"):
                    df.write.format("noop").mode("overwrite").save()
                call_s, sink_s = t2 - t1, time.perf_counter() - t2
            return Sample(key, version, time.perf_counter() - t0, call_s, sink_s, True)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            return Sample(key, version, time.perf_counter() - t0, call_s, sink_s, False, repr(e)[:300])

    def record(self, sample: Sample) -> None:
        detail = self.bad.get((sample.key, sample.version))
        if detail is not None and sample.ok:
            sample.ok, sample.error = False, f"output check: {detail[:200]}"
        self.samples.append(sample)

    def check(self, key: str, tracer=None) -> None:
        """Compare ``key`` on the current data with its DuckDB oracle; a
        mismatch fails every op of that key on this data version."""
        version = self.wl.version
        t0 = time.perf_counter()
        try:
            with tracer.span("oracle.check") if tracer else nullcontext():
                res = oracle.compare(
                    key, self.queries[key](self.spark, self.wl.dir), self.oracle_sql[key], self.con
                )
            ok, detail = res.ok, res.detail
        except Exception as e:  # noqa: BLE001 - counted as a mismatch
            ok, detail = False, repr(e)[:300]
        self.checked.add((key, version))
        self.checks.append(
            {"key": key, "version": version, "ok": ok, "s": round(time.perf_counter() - t0, 3), "detail": detail[:300]}
        )
        if not ok:
            self.bad[(key, version)] = detail
            for s in self.samples:
                if s.key == key and s.version == version and s.ok:
                    s.ok, s.error = False, f"output check: {detail[:200]}"

    def final_checks(self, tracer=None) -> None:
        """Check every key not yet checked in this run, on the current data."""
        seen = {key for key, _ in self.checked}
        for key in self.wl.keys():
            if key not in seen:
                self.check(key, tracer)

    # ----------------------------------------------------------- window

    def window(self, rounds: int, sampler, deadline: float, tracer=None) -> list[dict]:
        """Run ``rounds`` rounds (fewer if the run's deadline passes). With a
        tracer, rounds go untraced, traced, traced, untraced, ... so that a
        steady drift (the JIT warming up) cancels out of the comparison; the
        result is then [untraced, traced]."""
        wins = [([], Clock(sampler)) for _ in range(2 if tracer else 1)]
        for i in range(rounds):
            traced = tracer if i % 4 in (1, 2) else None
            samples, clock = wins[1 if traced else 0]
            clock.start()
            for key in self.wl.round():
                self.op_id += 1
                with traced.op_scope(self.op_id, key) if traced else nullcontext():
                    sample = self.run_op(key, traced)
                self.record(sample)
                samples.append(sample)
                if key == workloads.WRITE:
                    self.check_next_read = True
                elif self.check_next_read:
                    self.check_next_read = False
                    clock.stop()
                    self.check(key, tracer)
                    clock.start()
            clock.stop()
            if time.perf_counter() > deadline:
                break
        return [{"samples": s, "wall": c.wall, "cpu": c.cpu} for s, c in wins]


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile, as numpy's default."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(pct) - 1]


def ops_per_s(win: dict) -> float:
    """Ops completed (not failed) per second of timed wall time."""
    return sum(s.ok for s in win["samples"]) / win["wall"]


def tail_percentile(n: int) -> int:
    """The highest whole percentile of ``n`` samples with at least ten
    samples beyond it (the median when there are too few)."""
    return max(50, 100 * (n - 10) // n)


def end_to_end(win: dict, setup_s: float) -> tuple[dict, dict]:
    samples = win["samples"]
    lat = [s.latency for s in samples]
    tail_pct = tail_percentile(len(lat))
    failed = sum(not s.ok for s in samples)
    tail = percentile(lat, tail_pct)
    metrics = {
        "ops_per_s": ops_per_s(win),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
        "cpu_s_per_op": win["cpu"] / len(samples),
        "setup_s": setup_s,
    }
    detail = {
        "ops": len(samples),
        "failed": failed,
        "failed_ops_ratio": failed / len(samples),
        "tail_percentile": tail_pct,
        "samples_beyond_tail": sum(x > tail for x in lat),
        "timed_wall_s": round(win["wall"], 3),
    }
    return metrics, detail


def per_layer(runner: Runner, tracer: spans.Tracer, traced: dict, untraced: dict, setup: dict) -> dict:
    wl = runner.wl
    m = dict(setup)
    m.update(tracer.counter_metrics())
    test_topk = tracer.durations("memo.build.test_topk")
    self_join = tracer.durations("memo.build.knn_self_join")
    n, q = wl.n, (wl.n + 4) // 5
    pairs = len(test_topk) * q * (n - 1) + len(self_join) * n * (n - 1) / 2
    build_s = sum(test_topk) + sum(self_join)
    m["knn.test_topk_build_s"] = statistics.median(test_topk) if test_topk else 0.0
    m["knn.self_join_build_s"] = statistics.median(self_join) if self_join else 0.0
    m["knn.fold_pairs_per_s"] = pairs / build_s if build_s else 0.0
    comps = tracer.durations("iterative.connected_components")
    m["iterative.components_s"] = statistics.median(comps) if comps else 0.0
    samples = traced["samples"]
    for key in ALL_KEYS:
        mine = [s for s in samples if s.key == key]
        m[f"op.{key}.call_s"] = statistics.median(s.call_s for s in mine) if mine else 0.0
        m[f"op.{key}.sink_s"] = statistics.median(s.sink_s for s in mine) if mine else 0.0
    for key in ("ml_dbscan", "llm_simsearch_gemm", "udf_map_arrow"):
        mine = [s.latency for s in samples if s.key == key]
        m[f"op.{key}.p50_s"] = statistics.median(mine) if mine else 0.0
    checks = tracer.durations("oracle.check")
    m["oracle.check_s"] = statistics.median(checks) if checks else 0.0
    m["oracle.mismatches"] = float(sum(not c["ok"] for c in runner.checks))
    m["trace.overhead"] = 1.0 - ops_per_s(traced) / ops_per_s(untraced)
    m["trace.unaccounted_share"] = tracer.unaccounted_share()
    return m


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - still running: kill it
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    _environment()
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    data_dir = os.path.join(WORK, "data", args.workload)
    shutil.rmtree(data_dir, ignore_errors=True)
    wl = workloads.WORKLOADS[args.workload](
        args.seed, data_dir, SMOKE_N if args.smoke else None
    )
    g0 = time.perf_counter()
    dataset = wl.generate(_radii())
    dataset["gen_s"] = round(time.perf_counter() - g0, 3)

    con = duckdb.connect(
        config={
            "threads": int(CPUS),
            "memory_limit": "1GB",
            "max_temp_directory_size": "4GB",
            "temp_directory": os.path.join(WORK, "duck-tmp"),
        }
    )
    spark = runner = None
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{data_dir}/embeddings.parquet')"
        )
        # set-up, SETUPS times: the first starts the JVM, each later one
        # stops the session and starts a fresh one on the same JVM
        setups, warm = [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session.get_spark("perfbench")
            t1 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            if runner is None:
                runner = Runner(spark, wl, con)
            runner.spark = spark
            warm += [runner.run_op(k) for k in wl.warmup()]
            t2 = time.perf_counter()
            setups.append({"get_spark_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0})
        setup_s = statistics.median(x["setup_s"] for x in setups)
        deadline = t_start + RUN_CAP_S
        with procfs.RssSampler() as sampler:
            if args.trace:
                # untraced and traced rounds alternate, u t t u ...
                rounds = 2 if args.smoke else 2 * -(-wl.rounds(args.seconds) // 2)
                tracer = spans.Tracer(spark)
                tracer.install()
                try:
                    untraced, traced = runner.window(rounds, sampler, deadline, tracer)
                    runner.final_checks(tracer)
                finally:
                    tracer.uninstall()
                main_win = untraced
            else:
                rounds = 1 if args.smoke else wl.rounds(args.seconds)
                (main_win,) = runner.window(rounds, sampler, deadline)
                runner.final_checks()
            peak_rss_mb = sampler.peak_mb
    finally:
        con.close()
        if spark is not None:
            stop_spark(spark)

    e2e, detail = end_to_end(main_win, setup_s)
    all_samples = runner.samples
    failed = sum(not s.ok for s in all_samples) + sum(not s.ok for s in warm)
    attempted = len(all_samples) + len(warm)
    if args.trace:
        setup = {
            "session.cold_setup_s": setups[0]["setup_s"],
            "session.get_spark_s": statistics.median(x["get_spark_s"] for x in setups),
            "session.warmup_s": statistics.median(x["warmup_s"] for x in setups),
            "peak_rss_mb": peak_rss_mb,
        }
        values = per_layer(runner, tracer, traced, untraced, setup)
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}

    by_key = {}
    for s in all_samples:
        by_key.setdefault(s.key, []).append(s.latency)
    report = {
        "workload": wl.name,
        "why": WHY[wl.name],
        "seed": args.seed,
        "trace": args.trace,
        "env": {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "spark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "numpy": numpy.__version__,
            "python": sys.version.split()[0],
            "git_commit": _git_commit(),
        },
        "dataset": dataset,
        "setups": [{k: round(v, 3) for k, v in x.items()} for x in setups],
        "load": "closed loop, 1 client, local[4]",
        "end_to_end": {k: round(v, 6) for k, v in e2e.items()},
        **detail,
        "peak_rss_mb": round(peak_rss_mb, 1),
        "per_key_p50_s": {k: round(statistics.median(v), 4) for k, v in by_key.items()},
        "per_key_ops": {k: len(v) for k, v in by_key.items()},
        "samples": [[s.key, round(s.latency, 4)] for s in main_win["samples"]],
        "checks": runner.checks,
        "errors": [s.error for s in all_samples + warm if not s.ok][:5],
        "trace_missing": tracer.missing if args.trace else [],
        "run_s": round(time.perf_counter() - t_start, 2),
    }
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": failed == 0 and all(c["ok"] for c in runner.checks),
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
