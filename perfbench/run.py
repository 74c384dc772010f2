"""Benchmark of the query registry, end to end and layer by layer.

    python3 perfbench/run.py --workload graph_olap --seed 1 --seconds 16 --trace 0

One run is one fresh process. It generates the tables the registry
reads (``datagen.py``, once per checkout, from the fixed ``data_seed``
in ``workloads.json``) and times the program's set-up ``setups`` times,
each in a fresh process: import it, start a Spark session on
``local[<cores>]`` through its own ``get_spark`` and bring up the
Python workers. The last set-up is this process's own. It then runs
one cold pass over the workload's registry keys and checks every key's
output against its DuckDB oracle (untimed), then the workload's
``warmup_passes``, which are not measured: the graph loop keeps the JIT
compiler busy for several passes and slows itself down while it is.
Last come the measured warm passes, one per ``pass_s`` seconds of
``--seconds``: a count fixed by the arguments, so that a faster or
slower program gets the same number of passes. Every key runs through the
noop sink; ``--seed`` shuffles the key order of every pass. The last
line of standard output is one JSON object; ``--trace 0`` reports the
end-to-end metrics and ``--trace 1`` the per-layer ones, both named in
``BENCHMARK.json``. The line before it prints every end-to-end figure,
``warm_pass_s`` and ``failed_frac`` too, with its unit. Runs in one checkout must not overlap: each resets
``.perfbench/tmp``.

Each layer is measured from outside the program: the call into
``queries()[key](spark, data_dir)`` is the driver layer (plan building
plus eager actions inside operators), the noop ``save()`` is the
execution layer, and ``layers.py`` reads Spark's status store and
``/proc`` around those calls.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import datagen
from layers import SUMMARY_FIELDS, JobStats, ProcTree, Spans, host_steal_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "warm_cpu_s": "s"}
# printed on the summary line but left out of the JSON result: steal from
# other guests on a shared host spreads it over ten runs by more than the
# largest bound a metric may have, while the CPU of the same passes stays
# within it
UNGATED = {"warm_pass_s"}
BASE_LAYERS = {
    "session.start_s": "s",
    "driver.build_s": "s",
    "driver.build_jobs": "count",
    "driver.py_cpu_s": "s",
    "exec.sink_s": "s",
    "exec.sink_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor.cpu_s": "s",
    "executor.run_s": "s",
    "executor.gc_s": "s",
    "bytes.input": "B",
    "bytes.shuffle_read": "B",
    "bytes.shuffle_write": "B",
    "bytes.spill": "B",
    "bytes.output": "B",
    "pyworker.cpu_s": "s",
    "jvm.cpu_s": "s",
    "jvm.jit_cpu_s": "s",
    "mem.peak_rss_mb": "MB",
    "trace.warm_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.read_s": "s",
}


def load_config() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def module_of(fn) -> str:
    """The operator module that registers a key's function."""
    return fn.__module__.rsplit(".", 1)[-1]


def layer_units(cfg: dict, fns: dict) -> dict[str, str]:
    """Every per-layer metric name with its unit. Per-key metrics cover
    the graph workload's keys; per-module roll-ups cover the operator
    modules that register any benchmarked key."""
    units = dict(BASE_LAYERS)
    for key in cfg["workloads"]["graph_olap"]["keys"]:
        units.update({f"key.{key}.jobs": "count", f"key.{key}.build_s": "s", f"key.{key}.wall_s": "s"})
    modules = {module_of(fns[k]) for w in cfg["workloads"].values() for k in w["keys"]}
    for mod in sorted(modules):
        units.update({f"mod.{mod}.wall_s": "s", f"mod.{mod}.build_s": "s", f"mod.{mod}.jobs": "count"})
    return units


def prepare_environment(cpus: int) -> None:
    """Point every scratch location of the program at a fresh
    directory inside the checkout, and let Python workers import the
    program from the checkout root."""
    for sub in ("tmp", "spark-local"):
        path = os.path.join(WORK, sub)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the JVM's temp files go to the same directory; without perf data it
    # writes nothing under /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tempfile.tempdir = None  # re-read TMPDIR


def setup_session(cpus: int):
    """The program's set-up: import it, start its session, and bring
    up one Python worker per core with an Arrow UDF pass."""
    from pyspark.sql import functions as F

    from neo_olap_spark.registry import queries
    from neo_olap_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    plus_one = F.pandas_udf(lambda s: s + 1.0, "double")
    spark.range(cpus * 1000, numPartitions=cpus).select(F.sum(plus_one(F.col("id").cast("double")))).collect()
    return spark, queries()


def timed_setup(cpus: int) -> float:
    """Seconds one set-up takes in this process; the session is
    stopped again afterwards. Run in a fresh process, so that the
    program's imports are part of it."""
    t0 = time.perf_counter()
    spark, _ = setup_session(cpus)
    seconds = time.perf_counter() - t0
    stop_session(spark)
    return seconds


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def oracle_frames(keys: list[str], data_dir: str) -> dict:
    """Canonical DuckDB oracle output of every key. Results are kept
    beside the data, named by a hash of the oracle SQL, so each oracle
    runs once per checkout."""
    import pandas as pd

    from neo_olap_spark.registry import oracle_sql
    from neo_olap_spark.testing import _canon, duck_connect

    sql = oracle_sql()
    cache = os.path.join(data_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    try:
        for key in keys:
            digest = hashlib.sha1(sql[key].encode()).hexdigest()[:16]
            path = os.path.join(cache, f"{key}-{digest}.pkl")
            if not os.path.exists(path):
                if con is None:
                    con = duck_connect(data_dir)
                    con.execute("SET memory_limit='3GB'")
                    con.execute(f"SET temp_directory='{os.environ['TMPDIR']}'")
                con.execute(sql[key]).fetchdf().to_pickle(path + ".partial")
                os.replace(path + ".partial", path)
            out[key] = _canon(pd.read_pickle(path))
    finally:
        if con is not None:
            con.close()
    return out


def output_matches(df, expected) -> bool:
    from neo_olap_spark.testing import _canon, assert_no_composite_output, compare_frames

    assert_no_composite_output(df)
    return all(compare_frames(_canon(df.toPandas()), expected))


class Runner:
    """Runs passes over one workload's keys and keeps per-key samples."""

    def __init__(self, spark, fns, data_dir, trace: bool, run_id: str):
        self.spark, self.fns, self.data_dir, self.trace = spark, fns, data_dir, trace
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        self.tree = ProcTree(proc.pid if proc is not None else None)
        self.jobs = JobStats(spark)
        self.spans = Spans(run_id)
        self.run_span = self.spans.open("run", None)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.stat_errors: list[str] = []

    def run_key(self, key: str, pass_span: int, expected=None) -> dict | None:
        """One timed run of ``key``: registry call, then noop sink.
        With ``expected``, the output is then checked (untimed)."""
        spark, sc = self.spark, self.spark.sparkContext
        self.attempted += 1
        span = self.spans.open("key", pass_span, key=key)
        sample: dict = {}
        try:
            if self.trace:
                self.jobs.settle()
                before = self.jobs.summary()
            cpu0 = self.tree.cpu()
            hook0 = time.perf_counter()
            if self.trace:
                sc.setJobGroup(f"{key}:build", key)
                j0, py0 = self.jobs.next_job_id(), time.process_time()
            t0 = time.perf_counter()
            b = self.spans.open("build", span)
            df = self.fns[key](spark, self.data_dir)
            self.spans.close(b)
            t1 = time.perf_counter()
            if self.trace:
                py1, j1 = time.process_time(), self.jobs.next_job_id()
                sc.setJobGroup(f"{key}:sink", key)
            t1s = time.perf_counter()
            s = self.spans.open("sink", span)
            df.write.format("noop").mode("overwrite").save()
            self.spans.close(s)
            t2 = time.perf_counter()
            if self.trace:
                j2 = self.jobs.next_job_id()
                sc.setJobGroup("", "")
            hook1 = time.perf_counter()
            cpu1 = self.tree.cpu()
            sample.update(build_s=t1 - t0, sink_s=t2 - t1s, wall_s=t1 - t0 + t2 - t1s)
            sample.update({f"cpu.{k}": cpu1[k] - cpu0[k] for k in cpu0})
            if self.trace:
                sample["hook_s"] = (hook1 - hook0) - sample["wall_s"]
                r0 = time.perf_counter()
                sample.update(build_jobs=j1 - j0, sink_jobs=j2 - j1, py_cpu_s=py1 - py0)
                self.jobs.settle()
                sample.update(self.jobs.read(j0, j2))
                after = self.jobs.summary()
                sample["read_s"] = time.perf_counter() - r0
                for name in SUMMARY_FIELDS:
                    if sample[name] != after[name] - before[name]:
                        self.stat_errors.append(
                            f"{key}: {name} {sample[name]:g} from task records, "
                            f"{after[name] - before[name]:g} from the executor summary")
            if expected is not None and not output_matches(df, expected):
                raise AssertionError("output differs from the DuckDB oracle")
            self.spans.close(span, ok=True)
            return sample
        except Exception as e:  # noqa: BLE001 — a failing key is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{key}: {type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc(file=sys.stderr)
            self.spans.close(span, ok=False)
            return None
        finally:
            spark.catalog.clearCache()

    def run_pass(self, keys: list[str], phase: str, index: int, expected=None) -> dict:
        span = self.spans.open("pass", self.run_span, phase=phase, index=index)
        steal0 = host_steal_s()
        out = {}
        for key in keys:
            sample = self.run_key(key, span, None if expected is None else expected[key])
            if sample is not None:
                out[key] = sample
        fields = [f for f in next(iter(out.values()), {}) if f.startswith("cpu.")]
        cpu = {f: sum(s[f] for s in out.values()) for f in fields}
        self.spans.close(span, steal_s=host_steal_s() - steal0,
                         wall_s=sum(s["wall_s"] for s in out.values()), **cpu)
        return out


def summarise(cfg, keys, fns, setups, cold, warm, runner) -> dict[str, float]:
    """Metrics of one run.

    End to end: the median set-up, the cold pass total, and the median
    over the measured warm passes of each pass's total. Per layer: the
    median over the measured warm passes of each pass's total, for the
    whole workload, per graph key and per operator module.
    """
    def pass_median(field, ks=keys):
        return statistics.median(sum(p.get(k, {}).get(field, 0.0) for k in ks) for p in warm)

    e2e = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": sum(s["wall_s"] for s in cold.values()),
        "warm_pass_s": pass_median("wall_s"),
        "warm_cpu_s": pass_median("cpu.work"),
    }
    if not runner.trace:
        return e2e
    layers = {name: 0.0 for name in layer_units(cfg, fns)}
    fields = {
        "driver.build_s": "build_s", "driver.build_jobs": "build_jobs",
        "driver.py_cpu_s": "py_cpu_s", "exec.sink_s": "sink_s",
        "exec.sink_jobs": "sink_jobs", "pyworker.cpu_s": "cpu.pyworker",
        "jvm.cpu_s": "cpu.jvm", "jvm.jit_cpu_s": "cpu.jit",
        "trace.overhead_s": "hook_s", "trace.read_s": "read_s",
    }
    fields.update({name: name for name in layers if name.split(".")[0] in ("spark", "executor", "bytes")})
    for name, field in fields.items():
        layers[name] = pass_median(field)
    layers["session.start_s"] = e2e["setup_s"]
    layers["trace.warm_pass_s"] = e2e["warm_pass_s"]
    layers["mem.peak_rss_mb"] = runner.tree.peak_rss_mb()
    for key in keys:
        if f"key.{key}.jobs" in layers:
            layers[f"key.{key}.jobs"] = pass_median("spark.jobs", [key])
            layers[f"key.{key}.build_s"] = pass_median("build_s", [key])
            layers[f"key.{key}.wall_s"] = pass_median("wall_s", [key])
    for mod in {module_of(fns[k]) for k in keys}:
        ks = [k for k in keys if module_of(fns[k]) == mod]
        layers[f"mod.{mod}.wall_s"] = pass_median("wall_s", ks)
        layers[f"mod.{mod}.build_s"] = pass_median("build_s", ks)
        layers[f"mod.{mod}.jobs"] = pass_median("spark.jobs", ks)
    return layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="scale factor (default: workloads.json)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "neo_olap_spark", "registry.py")):
        print(f"program not found: {ROOT}/neo_olap_spark", file=sys.stderr)
        return 2
    cfg = load_config()
    if args.workload not in cfg["workloads"]:
        print(f"unknown workload {args.workload!r}; have {sorted(cfg['workloads'])}", file=sys.stderr)
        return 2
    workload = cfg["workloads"][args.workload]
    keys = list(workload["keys"])
    measured = max(1, round(args.seconds / cfg["pass_s"]))
    sf = args.sf if args.sf is not None else cfg["sf"]
    cpus = len(os.sched_getaffinity(0))

    prepare_environment(cpus)

    data_dir = datagen.ensure(os.path.join(WORK, "data"), sf, cfg["data_seed"])
    order = random.Random(args.seed)

    setups = []
    for _ in range(cfg["setups"] - 1):
        child = subprocess.run(
            [sys.executable, "-c", f"import run; print(run.timed_setup({cpus}))"],
            cwd=HERE, stdout=subprocess.PIPE, text=True, check=True, timeout=170,
        )
        setups.append(float(child.stdout.strip().splitlines()[-1]))
    t0 = time.perf_counter()
    spark, fns = setup_session(cpus)
    setups.append(time.perf_counter() - t0)
    try:
        all_keys = [k for w in cfg["workloads"].values() for k in w["keys"]]
        expected = {k: v for k, v in oracle_frames(all_keys, data_dir).items() if k in keys}
        runner = Runner(spark, fns, data_dir, bool(args.trace), f"{args.workload}-{args.seed}")

        def shuffled():
            ks = list(keys)
            order.shuffle(ks)
            return ks

        cold = runner.run_pass(shuffled(), "cold", 0, expected)
        for i in range(workload["warmup_passes"]):
            runner.run_pass(shuffled(), "warmup", i)
        steal0 = host_steal_s()
        warm = [runner.run_pass(shuffled(), "warm", i) for i in range(measured)]
        warm_steal_s = host_steal_s() - steal0
        metrics = summarise(cfg, keys, fns, setups, cold, warm, runner)
        shown = E2E_UNITS if not args.trace else layer_units(cfg, fns)
        runner.spans.close(runner.run_span, setups_s=setups)
        runner.spans.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        stop_session(spark)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)

    failed_frac = runner.failed / runner.attempted
    print(
        f"workload={args.workload} seed={args.seed} sf={sf:g} cpus={cpus} "
        f"setups={len(setups)} warm_passes={len(warm)} warm_steal_s={warm_steal_s:.2f} "
        f"failed_frac={failed_frac:.4f} (ratio)",
        *(f"{k}={metrics[k]:.6g} {u}" for k, u in shown.items()),
    )
    for err in runner.errors:
        print("error:", err)
    for err in runner.stat_errors:
        print("stats mismatch:", err)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in shown.items() if k not in UNGATED},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
