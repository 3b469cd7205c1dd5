"""Closed-loop benchmark of the engine: one process, one client, one
call at a time, on ``local[<cpus>]``.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

A run has four phases:

1. set-up, once and cold (``setup_s``): ``get_spark``, which launches
   the JVM, + ``load_all``, which imports the operator modules, + a
   first action;
2. one *first pass* over the workload at the measured scale
   (``first_pass_s``), which pays plan compilation, JIT warm-up and
   Python worker start;
3. one untimed check pass: registry calls are compared with their
   DuckDB oracle instead of counted (see ``Run.check_pass``); it also
   lets the JIT settle;
4. timed passes until ``--seconds`` have elapsed.

Every pass starts from ``functions.cache.release_all()``, so each does
the same work; outside the check pass every call is executed by
``count()``. ETL outputs are checked after every pass and, by query,
after the last one. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1
if any check failed.

``--trace 1`` prints the per-layer metrics instead. Timed passes then
alternate between traced and untraced, and the difference of their
medians is reported as ``trace.overhead_s``. The span tree goes to
``perfbench/results/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import platform
import random
import resource
import shutil
import statistics
import sys
import time
import traceback

from tracing import Tracer  # perfbench/ is sys.path[0]
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "aws_etl_global_footprint_network_spark"

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics of a traced run; a layer a workload does not touch
# reads 0.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.first_pass_extra_build_jobs": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exchanges": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.run_ms": "ms",
    "spark.cpu_ms": "ms",
    "spark.offcpu_ms": "ms",
    "kernels.python_nodes": "count",
    "kernels.offcpu_ms": "ms",
    "cache.storage_bytes": "bytes",
    "cache.live_scopes": "count",
    "sources.extract_s": "s",
    "sources.years_ok_ratio": "ratio",
    "ingestion.load_s": "s",
    "ingestion.upsert_s": "s",
    "ingestion.merge_s": "s",
    "ingestion.bytes_written_per_input_byte": "ratio",
    "ingestion.partitions_rewritten_ratio": "ratio",
    "streaming.ingest_s": "s",
    "streaming.batches": "count",
    "streaming.micro_batch_s": "s",
    "mkt_returns.weekly_s": "s",
    "mkt_returns.evolution_s": "s",
    "trace.overhead_s": "s",
    "query.samples": "count",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def host_sizing() -> dict:
    """Cores, RAM and the driver heap derived from them."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    # The inputs are a few MB; a heap much larger than the working set
    # only adds GC-timing noise to peak RSS.
    heap_mb = min(4096, max(1024, ram_mb // 16))
    return {
        "cpus": cpus,
        "ram_mb": ram_mb,
        "driver_heap_mb": heap_mb,
        "loadavg": list(os.getloadavg()),
    }


def prepare_env(work: str, host: dict) -> dict[str, str]:
    """Environment and Spark conf that keep every file the run writes
    inside ``work`` and let Python workers import the package from any
    working directory. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{host['driver_heap_mb']}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method; q in 1..99)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Run:
    def __init__(self, args, work: str, host: dict):
        self.args = args
        self.work = work
        self.host = host
        self.traced = bool(args.trace)
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = Tracer(self.traced)

    # ---------------------------------------------------------- set-up

    def setup(self, conf: dict[str, str]) -> dict:
        """The run's one set-up, timed: ``get_spark`` + ``load_all`` + a
        first action. It is cold: nothing of the package is imported
        and no JVM runs before it, so it pays the JVM launch and the
        operator imports."""
        span = self.tracer.open("setup")
        t0 = time.perf_counter()
        from aws_etl_global_footprint_network_spark.session import get_spark

        self.spark = get_spark(extra_conf=conf)
        t1 = time.perf_counter()
        from aws_etl_global_footprint_network_spark.registry import load_all

        self.specs = load_all()
        t2 = time.perf_counter()
        self.spark.range(1 << 16).selectExpr("sum(id)").collect()
        t3 = time.perf_counter()
        self.tracer.close(span)
        timings = {"start_s": t1 - t0, "load_s": t2 - t1, "total_s": t3 - t0}
        log(f"setup: {timings}")
        return timings

    # ----------------------------------------------------------- passes

    def order(self, calls, rng: random.Random):
        """Seeded order per pass; ETL chain steps keep their place."""
        fixed = [c for c in calls if not c.movable]
        rest = [c for c in calls if c.movable]
        return fixed + rng.sample(rest, len(rest))

    def run_pass(self, workload, calls, index: int, traced: bool, oracle=None) -> dict:
        """One pass over ``calls``. With ``oracle`` (see ``check_pass``)
        registry calls are compared with their oracle instead of
        counted."""
        from aws_etl_global_footprint_network_spark.functions import cache

        workload.begin_pass(index)
        cache.release_all()
        counters = self.counters if traced else None
        if counters:
            counters.take()  # drop jobs of the clean-up above
            self.progress.clear()
        tracer = self.tracer if traced else Tracer(False)
        span = tracer.open("pass", index=index)
        t0 = time.perf_counter()
        records = [self.run_call(c, tracer, counters, oracle) for c in calls]
        wall = time.perf_counter() - t0
        tracer.close(span)
        self.attempted += len(records)
        problems = workload.check_pass()
        self.failures += [f"pass {index}: {p}" for p in problems]
        out = {"index": index, "traced": traced, "wall_s": wall, "calls": records}
        if traced:
            out["layers"] = self.pass_layers(workload, records, list(self.progress))
        log(f"pass {index}{' (traced)' if traced else ''}: {wall:.3f}s")
        return out

    def run_call(self, call, tracer, counters, oracle=None) -> dict:
        """Build, then execute by ``count()``, or by the oracle
        comparison in the check pass."""
        rec = {"name": call.name, "layer": call.layer, "kernel": call.kernel, "ok": True}
        span = tracer.open("call", call=call.name)
        t0 = time.perf_counter()
        try:
            b = tracer.open("build")
            df = call.build()
            rec["build_s"] = tracer.close(b)
            if counters:
                rec["build"] = counters.take()
            if df is not None:
                e = tracer.open("exec")
                if oracle is not None and call.registry:
                    self.compare(call.name, df, *oracle)
                else:
                    df.count()
                rec["exec_s"] = tracer.close(e)
                if counters:
                    rec["exec"] = counters.take()
        except Exception:  # one failed call must not end the run
            rec["ok"] = False
            self.failures.append(f"{call.name}: {traceback.format_exc(limit=3)}")
            df = None
            if counters:
                counters.take()  # keep the failed call's jobs out of the next
        rec["wall_s"] = time.perf_counter() - t0
        tracer.close(span, **{k: v for k, v in rec.items() if k in ("build", "exec")})
        if counters:
            from tracing import plan_counts

            rec.update(plan_counts(df) if df is not None else {"exchanges": 0, "python_nodes": 0})
            rec["storage_bytes"] = counters.storage_bytes()
            rec["live_scopes"] = _live_scopes()
            span.attrs.update(exchanges=rec["exchanges"], python_nodes=rec["python_nodes"])
        return rec

    def pass_layers(self, workload, records, progress) -> dict[str, float]:
        ok = [r for r in records if r["ok"]]

        def total(phase: str, key: str) -> int:
            return sum(r.get(phase, {}).get(key, 0) for r in ok)

        def both(key: str) -> int:
            return total("build", key) + total("exec", key)

        out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        out |= {
            "operators.build_s": sum(r["build_s"] for r in ok if "exec_s" in r),
            "operators.build_jobs": total("build", "jobs"),
            "spark.exec_s": sum(r.get("exec_s", 0.0) for r in ok),
            "spark.exchanges": sum(r["exchanges"] for r in ok),
            "kernels.python_nodes": sum(r["python_nodes"] for r in ok),
            "cache.storage_bytes": max(r["storage_bytes"] for r in records),
            "cache.live_scopes": max(r["live_scopes"] for r in records),
            "streaming.batches": len(progress),
            "streaming.micro_batch_s": statistics.median(progress) if progress else 0.0,
        }
        for key in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "run_ms", "cpu_ms"):
            out[f"spark.{key}"] = both(key)
        out["spark.offcpu_ms"] = out["spark.run_ms"] - out["spark.cpu_ms"]
        out["kernels.offcpu_ms"] = sum(
            r.get(p, {}).get("run_ms", 0) - r.get(p, {}).get("cpu_ms", 0)
            for r in ok if r["kernel"] for p in ("build", "exec")
        )
        for r in ok:
            if r["layer"]:
                out[r["layer"]] = r["wall_s"]
        out.update(workload.pass_layers())
        return out

    # ------------------------------------------------------------ check

    def check_pass(self, workload, calls, index: int) -> None:
        """The untimed pass between the first and the timed ones. Each
        registry call is built as in any pass, and its rows are compared
        with its DuckDB oracle over the same inputs
        (``tests/oracle_harness.compare``); other calls run as in any
        pass, and the workload checks their outputs. The pass also lets
        the JIT settle before the timed passes."""
        spec = importlib.util.spec_from_file_location(
            "oracle_harness", os.path.join(ROOT, "tests", "oracle_harness.py")
        )
        harness = importlib.util.module_from_spec(spec)
        sys.modules[spec.name] = harness  # dataclasses resolve their module
        spec.loader.exec_module(harness)
        con = harness.duck_connection(workload.data_dir)
        try:
            self.run_pass(workload, calls, index, False, oracle=(harness, con))
        finally:
            con.close()

    def compare(self, name: str, df, harness, con) -> None:
        res = harness.compare(name, df, self.specs[name].oracle, con)
        if not res.ok:
            self.failures.append(
                f"{name}: differs from its oracle: {res.detail} ({res.spark_rows}"
                f" vs {res.oracle_rows} rows) {res.mismatches[:2]}"
            )

    # -------------------------------------------------------------- run

    def main(self, conf: dict[str, str]) -> dict:
        root = self.tracer.open("run", workload=self.args.workload, seed=self.args.seed)
        t = time.perf_counter()
        workload = WORKLOADS[self.args.workload](lambda: self.spark, self.work, self.args.seed)
        log(f"inputs generated in {time.perf_counter() - t:.2f}s: {workload.rows}")
        setup = self.setup(conf)
        calls = workload.calls(self.specs)
        from tracing import SparkCounters

        self.counters = SparkCounters(self.spark)
        self.progress: list[float] = []
        if self.traced:
            self._listen_streaming()
        rng = random.Random(self.args.seed)

        first = self.run_pass(workload, self.order(calls, rng), 0, self.traced)
        self.check_pass(workload, self.order(calls, rng), 1)
        passes = []
        t_start = time.perf_counter()
        # Two passes at least: the latency percentiles then draw on the
        # same calls however slow the host, and a traced run has an
        # untraced pass to measure its overhead against.
        while len(passes) < 2 or time.perf_counter() - t_start < self.args.seconds:
            traced = self.traced and len(passes) % 2 == 0
            passes.append(
                self.run_pass(workload, self.order(calls, rng), len(passes) + 2, traced)
            )
        for problems in workload.final_checks().values():
            self.attempted += 1
            self.failures += problems
        rss_mb = (_jvm_peak_rss_kb(self.spark) + _self_peak_rss_kb()) / 1024
        self.tracer.close(root)
        return self.summarise(setup, first, passes, rss_mb)

    def summarise(self, setup, first, passes, rss_mb) -> dict:
        untraced = [p for p in passes if not p["traced"]]
        lat = [c["wall_s"] for p in untraced for c in p["calls"] if c["ok"]]
        e2e = {
            "setup_s": setup["total_s"],
            "first_pass_s": first["wall_s"],
            "pass_s": statistics.median(p["wall_s"] for p in untraced),
            "query_p50_s": percentile(lat, 50),
            "query_p90_s": percentile(lat, 90),
            "peak_rss_mb": rss_mb,
        }
        detail = {
            "host": self.host,
            "versions": self.versions(),
            "setup": setup,
            "first_pass": first,
            "passes": passes,
            "query_samples": len(lat),
            "end_to_end": e2e,
        }
        if not self.traced:
            return {"metrics": e2e, "units": END_TO_END_UNITS, "detail": detail}
        traced = [p for p in passes if p["traced"]]
        layers = {
            k: statistics.median(p["layers"][k] for p in traced)
            for k in traced[0]["layers"]
        }
        layers["session.start_s"] = setup["start_s"]
        layers["registry.load_s"] = setup["load_s"]
        layers["operators.first_pass_extra_build_jobs"] = (
            first["layers"]["operators.build_jobs"] - layers["operators.build_jobs"]
        )
        layers["trace.overhead_s"] = statistics.median(
            p["wall_s"] for p in traced
        ) - statistics.median(p["wall_s"] for p in untraced)
        layers["query.samples"] = len(lat)
        detail["per_layer"] = layers
        return {"metrics": layers, "units": PER_LAYER_UNITS, "detail": detail}

    def versions(self) -> dict:
        import numpy
        import pyarrow
        import pyspark

        java = self.spark._jvm.java.lang.System.getProperty("java.version")
        return {
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": java,
            "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__,
        }

    def _listen_streaming(self) -> None:
        """Micro-batch durations of every streaming query, through the
        public listener API (delivered before the listener bus drains,
        which SparkCounters.take waits for)."""
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                ms = event.progress.durationMs.get("triggerExecution", 0)
                progress.append(ms / 1000.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                from aws_etl_global_footprint_network_spark.functions.cache import (
                    release_all,
                )

                release_all()
            finally:
                self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _live_scopes() -> int:
    from aws_etl_global_footprint_network_spark.functions import cache

    return len(getattr(cache, "_LIVE", {}))


def _jvm_peak_rss_kb(spark) -> int:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _self_peak_rss_kb() -> int:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"package {PACKAGE} not found under {ROOT}")
        return 2
    sys.path[:0] = [HERE, ROOT]
    host = host_sizing()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    run = None
    try:
        conf = prepare_env(work, host)
        run = Run(args, work, host)
        result = run.main(conf)
    finally:
        if run is not None:
            run.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left if another run is live
            os.rmdir(os.path.dirname(work))

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if run.traced:
        run.tracer.write(
            os.path.join(results, f"trace-{args.workload}-seed{args.seed}.json")
        )
    detail = result["detail"]
    detail["failures"] = run.failures
    with open(os.path.join(results, f"{stem}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for msg in run.failures:
        log(f"FAILED {msg}")
    line = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {
            k: {"value": result["metrics"][k], "unit": unit}
            for k, unit in result["units"].items()
        },
    }
    print(json.dumps(line))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
