"""spark-unify benchmark: one command, named workloads, one closed-loop
client on local[k].

    python3 perfbench/run.py --workload tx_serve --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from the seed
under .perfbench_work/ (removed at exit), sets the workload up three
times (setup_s is the median), runs one untimed warm pass, then
ceil(--seconds / the workload's nominal pass time) timed passes. Every
op's result is checked outside the timed region. With --trace 1 the
workload is set up once, the timed region is split into an untraced half
and a traced half, and the per-layer metrics (perfbench/README.md) are
printed with the tracing overhead.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import helpers
from layers import PER_LAYER, Tracer, aggregate, install, op_metrics

SETUPS = 3
# untimed passes before the timed region: each op's first call in the
# process pays class loading and JIT compilation
WARM_PASSES = 1
SPARK_CONF = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "2g",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}
END_TO_END = [  # name, unit
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("op_p50_s", "s"),
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def start_spark(work_dir: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    # spark-submit's launcher JVM would otherwise write its perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    builder = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    conf = dict(SPARK_CONF)
    conf["spark.local.dir"] = tmp
    conf["spark.sql.warehouse.dir"] = os.path.join(work_dir, "warehouse")
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.system.home={work_dir}"
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Runs passes of a workload and records each op's latency and
    correctness."""

    def __init__(self, wl, spark):
        self.wl, self.spark = wl, spark
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def run_pass(self, record: list, tracer=None, layers: list | None = None) -> float:
        """One pass; appends (label, seconds or inf) to `record` and
        returns the pass time (sum of op times)."""
        from unifydb_spark import instrument

        total = 0.0
        for make in self.wl.pass_ops():
            op = make()
            if tracer is not None:
                group = f"pb{self.attempted}"
                tracer.begin_op(group)
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", f"{group}.exec"
                )
                instrument.reset()
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                result, error = op.run(), None
            except Exception as exc:  # a failed op, counted below
                result, error = None, f"{type(exc).__name__}: {str(exc)[:300]}"
            dt = time.perf_counter() - t0
            if tracer is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                layers.append(op_metrics(self.spark, tracer, op.label, dt) | {"label": op.label})
            total += dt
            ok, detail = (False, error) if error else self._check(op, result)
            if not ok:
                self.failed += 1
                self.failures.append(f"{op.label}: {detail}")
            record.append((op.label, dt if ok else math.inf))
            self.wl.after_op()
        return total

    @staticmethod
    def _check(op, result):
        try:
            return op.check(result)
        except Exception as exc:
            return False, f"check raised {type(exc).__name__}: {exc}"

    def run_passes(self, n: int, record: list, **kw) -> list[float]:
        return [self.run_pass(record, **kw) for _ in range(n)]


def passes_for(seconds: float, wl) -> int:
    """A run's length is set in work, not time: --seconds over the
    workload's nominal pass time, so a faster host or a faster commit does
    the same passes (and warms the JIT the same) as a slower one."""
    return max(1, math.ceil(seconds / wl.nominal_pass_s))


def by_label(record: list) -> dict[str, list[float]]:
    by: dict[str, list[float]] = {}
    for label, dt in record:
        by.setdefault(label, []).append(dt)
    return by


def summarize(record: list) -> dict:
    """Per-class medians and tails of one run, for the readable report."""
    out = {}
    for label, vals in sorted(by_label(record).items()):
        tail = helpers.tail_percentile(vals)
        out[label] = {
            "n": len(vals),
            "p50_s": helpers.percentile(vals, 50),
            "tail": None if tail is None else {"q": tail[0], "s": tail[1]},
        }
    return out


def pass_time(record: list, n_passes: int) -> float:
    """Wall time of one pass if every op took its class's median: the sum
    over op classes of (ops of the class per pass x median latency). With
    one op per class and one pass this is the plain pass time; with more
    passes one slow op moves it less than a mean would."""
    return sum(
        len(v) / n_passes * helpers.percentile(v, 50)
        for v in by_label(record).values()
    )


def op_p50(record: list) -> float:
    """The median over op classes of each class's median latency: the
    latency of the typical op class, whatever the mix's class counts."""
    return helpers.percentile(
        [helpers.percentile(v, 50) for v in by_label(record).values()], 50
    )


def finite(x: float) -> float:
    return x if math.isfinite(x) else 1e9


def main(argv=None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("unifydb_spark/__init__.py", "__spark_entry__.py",
                 "scripts/oracle_check.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a spark-unify checkout")
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = max(1, min(WORKLOADS[args.workload].cores, os.cpu_count() or 1))
    spark = None
    wl = None
    try:
        import datagen

        data_dir = os.path.join(work, "data")
        rows = {}
        if WORKLOADS[args.workload].reads_tables:
            rows = datagen.generate(data_dir, args.seed)
        spark, conf = start_spark(work, cores)
        rng = random.Random(args.seed)
        wl = WORKLOADS[args.workload](spark, data_dir, work, rng)
        print(f"workload {wl.name} seed {args.seed} local[{cores}] "
              f"data {json.dumps(rows)}")
        print("settings " + json.dumps({k: v for k, v in conf.items()
                                        if not k.endswith("JavaOptions")}))

        setups = []
        # a traced run reports no setup_s, and compares warm passes only
        for _ in range(1 if args.trace else SETUPS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        runner = Runner(wl, spark)
        warm: list = []
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES):
            runner.run_pass(warm)
        warm_s = time.perf_counter() - t0
        first_op = time.perf_counter() - started

        record: list = []
        ticks0, t0 = helpers.read_cpu_ticks(), time.perf_counter()
        if args.trace:
            half = passes_for(args.seconds / 2, wl)
            untraced = runner.run_passes(half, record)
            tracer = Tracer(spark)
            install(tracer)
            per_op: list = []
            traced_record: list = []
            try:
                traced = runner.run_passes(half, traced_record,
                                           tracer=tracer, layers=per_op)
            finally:
                tracer.remove()
        else:
            untraced = runner.run_passes(passes_for(args.seconds, wl), record)
        region_s = time.perf_counter() - t0
        steal = helpers.steal_share(ticks0, helpers.read_cpu_ticks())
        load = helpers.loadavg_1m()

        report = wl.report()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = helpers.peak_rss_mb([os.getpid(), int(jvm_pid)])
        e2e = {
            "setup_s": statistics.median(setups),
            "pass_s": finite(pass_time(record, len(untraced))),
            "op_p50_s": finite(op_p50(record)),
        }
        print(f"setup runs {[round(s, 3) for s in setups]}  warm pass {warm_s:.2f}s "
              f"{[(label, round(dt, 2)) for label, dt in warm]}  "
              f"start -> first timed op {first_op:.2f}s")
        print(f"timed passes {[round(s, 3) for s in untraced]}  ops {len(record)}  "
              f"region {region_s:.1f}s  steal {steal:.4f}  loadavg_1m {load:.2f}")
        for label, s in summarize(record).items():
            tail = (f"p{s['tail']['q']:g} {s['tail']['s']:.4f}s" if s["tail"]
                    else "tail n/a (<10 samples beyond p75)")
            print(f"  {label:<10} n={s['n']:<4} p50 {s['p50_s']:.4f}s  {tail}")
        print("workload " + json.dumps(report))
        print(f"ops_attempted {runner.attempted} ops_failed {runner.failed}")
        for f in runner.failures[:10]:
            print(f"  FAILED {f}")

        if args.trace:
            layers = aggregate(per_op)
            layers["driver.peak_rss_mb"] = rss
            layers["trace.overhead_s"] = (
                pass_time(traced_record, len(traced)) - e2e["pass_s"]
            )
            metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
            for n, u in PER_LAYER:
                print(f"  {n:<36} {layers[n]:.6g} {u}")
            for label in sorted({m["label"] for m in per_op}):
                mine = aggregate([m for m in per_op if m["label"] == label])
                print(f"  per op [{label}] " + " ".join(
                    f"{n}={v:.4g}" for n, v in mine.items() if v))
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
            for n, u in END_TO_END:
                print(f"  {n:<12} {e2e[n]:.6f} {u}")
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
