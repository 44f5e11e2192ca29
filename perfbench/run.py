"""Benchmark of the upflow-spark engine: one workload per run, one command.

Run from the repository root::

    python3 perfbench/run.py --workload olap --seed 1 --seconds 5 --trace 0

One client (this process) runs a Spark session on ``local[<cpus>]`` and runs
the workload's registry keys (:mod:`workloads`) in a closed loop, one key at
a time:

1. set-up: import ``upflow_spark`` (registry load), then one ``get_spark``
   call, which launches the Spark JVM;
2. pyarrow writes a fresh row-permuted copy of the canonical tables, seeded
   by ``--seed``, outside the timed region (:mod:`gen`);
3. the **cold pass**: every key once on that new directory in the new
   session, so the io catalog, every memo and the JIT start cold;
4. one **warm pass** over the same directory. The figures come from the
   cold pass and this warm pass, at fixed positions, so a faster program is
   measured the same way. If the run is still shorter than ``--seconds`` (counted from the
   start of the cold pass), more warm passes run until it is not; they are
   checked but not timed into any metric.

A key execution is ``QUERIES[key](spark, dir).collect()``. Every result is
checked, outside the timed region, against the DuckDB oracle answer on the
canonical tables (:mod:`check`); a wrong result counts as failed.

End-to-end metrics (``--trace 0``):

- ``setup_s``: the import plus the ``get_spark`` call;
- ``cold_pass_s``: seconds of the cold pass, summed over keys;
- ``warm_pass_s``: seconds of the warm pass;
- ``query_gmean_s``: geometric mean over keys of each key's warm time.

With ``--trace 1`` every execution runs under Spark job groups with spans
around the layer calls (:mod:`layers`), and the per-layer metrics of
:data:`PER_LAYER` are reported instead. The warm passes run traced,
untraced, untraced, traced: the mean of the traced pair gives the warm
per-layer figures, and the tracing overhead is that mean minus the mean of
the untraced pair, so the JIT and memos warming from pass to pass cancel
out of it. A second fresh copy times ``io.load`` directly.
Both modes also print, before the result line, the clean-run record (other
Spark JVMs, load average, CPU steal), per-pass and per-key seconds,
``query_p50_s``, ``fail_ratio``, ``cached_mb_end``, ``tmp_mb_left`` and,
on ``olap``, ``twin_ratio``.

The last line of standard output is one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

Run state (input copies, temp and Spark local dirs, span files, the cached
reference answers) lives under ``.perfbench/`` in the repository root; a
run's own directory is measured for files left behind and then deleted.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from workloads import TWINS, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_gmean_s": "s",
}

# per-layer metric -> unit, grouped by the end-to-end metric each group
# should move and the workload it should move it on (BENCHMARK.json has no
# field for this). Pass-level counters are the mean of the two traced warm
# passes.
PER_LAYER = {
    # setup_s, every workload
    "session.import_s": "s",
    "session.start_s": "s",
    # cold_pass_s on olap: first and repeated io.load of the workload's tables
    "io.load_cold_s": "s",
    "io.load_warm_s": "s",
    # warm_pass_s and cold_pass_s on dedup, near 0 on olap: the QUERIES[key] call
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_tasks": "count",
    "registry.build_gap_s": "s",
    # warm_pass_s on olap: forcing executedPlan()
    "spark.plan_s": "s",
    # warm_pass_s on olap and etl: the collect() and its jobs
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.result_rows": "count",
    # cached_mb_end, cold_pass_s and warm_pass_s on dedup: session memos
    "pipeline.persisted_rdds": "count",
    "pipeline.cached_mb": "MB",
    "pipeline.memo_saving_s": "s",
    # warm_pass_s and tmp_mb_left on etl: writes
    "sources.output_mb": "MB",
    "sources.output_rows": "count",
    "sources.write_amp": "ratio",
    # warm_pass_s on etl: micro-batches
    "streaming.batches": "count",
    "streaming.batch_share": "%",
    "streaming.input_rows": "count",
    # run footprint and health, every workload
    "cached_mb_end": "MB",
    "tmp_mb_left": "MB",
    "fail_ratio": "ratio",
    "trace.overhead_s": "s",
}

# printed for a reader on every run, beside the metrics of the result line
REPORTED = {"query_p50_s": "s", "tmp_files_left": "count", "twin_ratio": "ratio"}
UNITS = {**END_TO_END, **PER_LAYER, **REPORTED}

# counters summed over a pass's keys (everything a Tracer reports except the
# storage samples, which are peaks)
_SUMMED = (
    "registry.build_s", "registry.build_jobs", "registry.build_tasks", "registry.build_gap_s",
    "spark.plan_s", "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.input_mb",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb", "spark.result_rows",
    "sources.output_mb", "sources.output_rows", "sources.input_mb",
    "streaming.batches", "streaming.input_rows", "streaming.batch_s",
)


def _session_mem() -> str:
    """4g, or half the machine's memory when that is less."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (2 * 1024 * 1024)))}g"


def _prepare_env(run_dir: str) -> None:
    """Size the session to the machine and keep every file it writes in run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["UPFLOW_SHUFFLE_PARTITIONS"] = "8"
    os.environ["UPFLOW_DRIVER_MEM"] = _session_mem()
    # Python workers import upflow_spark too (mapInPandas and UDF keys)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no /tmp/hsperfdata_* files, from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} pyspark-shell"
    )


def _spark_jvms() -> list[int]:
    """PIDs of live Spark JVMs (checked before this run starts its own and
    after it has ended, so any found belong to someone else)."""
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd.split(b"\x00", 1)[0] and b"org.apache.spark" in cmd:
            pids.append(int(p))
    return pids


def _loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def _cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot; steal is time a hypervisor gave away."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def _tree_mb(path: str) -> tuple[float, int]:
    """(MB, files) under path."""
    size, files = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                size += os.lstat(os.path.join(d, n)).st_size
                files += 1
            except OSError:
                pass
    return size / (1024.0 * 1024.0), files


class Runner:
    """One session running one workload's keys, untraced or traced."""

    def __init__(self, spark, queries, keys: list[str], tracer=None) -> None:
        self.spark = spark
        self.queries = queries
        self.keys = keys
        self.tracer = tracer
        self.attempted = 0
        self.digests: list[tuple[str, dict | str]] = []  # (key, digest or error)
        self.key_s: dict[str, list[float]] = {}  # warm seconds per key
        self.cold_key_s: dict[str, float] = {}
        self.peak_rdds = 0
        self.peak_cached_mb = 0.0

    def run_pass(self, data_dir: str, it: int, phase: str, traced: bool) -> dict:
        """Run every key once; return the pass's seconds and summed counters."""
        total = 0.0
        sums = dict.fromkeys(_SUMMED, 0.0)
        for key in self.keys:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    cols, rows, counters = self.tracer.execute(
                        self.queries, key, data_dir, it, phase
                    )
                else:
                    df = self.queries[key](self.spark, data_dir)
                    rows = df.collect()
                    cols = df.columns
                secs = time.perf_counter() - t0
            except Exception as exc:  # a failed execution is counted, not fatal
                secs = time.perf_counter() - t0
                self.digests.append((key, f"{key}: raised {type(exc).__name__}: {exc}"[:500]))
                counters = None
            else:
                self.digests.append((key, check.digest(cols, rows)))
            total += secs
            if phase == "warm":
                self.key_s.setdefault(key, []).append(secs)
            elif phase == "cold":
                self.cold_key_s[key] = secs
            if traced and counters is not None:
                for k in _SUMMED:
                    sums[k] += counters[k]
                self.peak_rdds = max(self.peak_rdds, counters["pipeline.persisted_rdds"])
                self.peak_cached_mb = max(self.peak_cached_mb, counters["pipeline.cached_mb"])
        sums["pass_s"] = total
        return sums


def _twin_ratio(spark, queries, data_dir: str, key_s: dict[str, list[float]]) -> float | None:
    """Geomean of engine warm time over vanilla-twin time, same session.

    Each twin runs once untimed and once timed; the engine side is the key's
    median warm-pass time. ``None`` if the repository has no twins module.
    """
    try:
        from tools.vanilla_twins import VANILLA_BUILDERS
    except ImportError:
        return None
    logs = []
    for key, name in TWINS.items():
        build = VANILLA_BUILDERS[name]
        build(spark, data_dir).collect()
        t0 = time.perf_counter()
        build(spark, data_dir).collect()
        logs.append(math.log(statistics.median(key_s[key]) / (time.perf_counter() - t0)))
    return math.exp(sum(logs) / len(logs))


def _canonical_dir(tables, fp: str, sf: float) -> str:
    path = os.path.join(STATE, "cache", f"canon-sf{sf}-{fp}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        gen.write_tables(tables, tmp)
        os.replace(tmp, path)
    return path


def _check(runner: Runner, queries, oracle, tables, fp: str, sf: float) -> list[str]:
    """Reasons for every wrong or failed execution (empty when all match)."""
    canon = _canonical_dir(tables, fp, sf)
    all_keys = [k for w in WORKLOADS.values() for k in w["keys"]]

    def spark_rows(key: str) -> int:
        return len(queries[key](runner.spark, canon).collect())

    refs = check.references(
        all_keys, oracle, canon, gen.TABLES, f"sf{sf}-{fp}", os.path.join(STATE, "cache"), spark_rows
    )
    problems = []
    for key, got in runner.digests:
        why = got if isinstance(got, str) else check.compare(key, got, refs[key])
        if why is not None:
            problems.append(why)
    return problems


def _io_probe(spark, data_dir: str, tables: list[str]) -> tuple[float, float]:
    """Seconds for first and second ``io.load`` of each table on a new dir."""
    from upflow_spark import io

    cold = warm = 0.0
    for t in tables:
        t0 = time.perf_counter()
        io.load(spark, data_dir, t)
        t1 = time.perf_counter()
        io.load(spark, data_dir, t)
        cold += t1 - t0
        warm += time.perf_counter() - t1
    return cold, warm


def _measure(args, spark, queries, run_dir: str, tables) -> tuple[Runner, dict]:
    """The timed part of a run; returns the runner and the raw figures."""
    from layers import Tracer, storage  # imports pyspark: after the timed import

    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    tracer = Tracer(spark) if traced else None
    runner = Runner(spark, queries, wl["keys"], tracer)
    data = os.path.join(run_dir, "inputs", "run")
    gen.permuted_copy(tables, data, args.seed, 0)

    # traced runs interleave an untraced pair for the overhead: T U U T
    order = [True, False, False, True] if traced else [False]
    start = time.perf_counter()
    cold = runner.run_pass(data, 0, "cold", traced)
    warms, untraced = [], []
    for it, t in enumerate(order, 1):
        if t == traced:
            warms.append(runner.run_pass(data, it, "warm", t))
        else:
            untraced.append(runner.run_pass(data, it, "untraced", t)["pass_s"])
    it = len(order)
    while time.perf_counter() - start < args.seconds:
        it += 1
        runner.run_pass(data, it, "extra", traced)
    raw = {"cold": cold, "warms": warms}
    if traced:
        raw["untraced_warm_s"] = statistics.median(untraced)
        probe = os.path.join(run_dir, "inputs", "io_probe")
        gen.permuted_copy(tables, probe, args.seed, 1)
        raw["io"] = _io_probe(spark, probe, wl["tables"])
    raw["cached_mb_end"] = storage(spark)[1]
    if args.workload == "olap" and not traced:
        raw["twin_ratio"] = _twin_ratio(spark, queries, data, runner.key_s)
    if tracer is not None:
        spans_dir = os.path.join(STATE, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    return runner, raw


def _per_layer(raw: dict, runner: Runner, setup: dict, fail_ratio: float, tmp_mb: float) -> dict:
    warm = {k: statistics.median(w[k] for w in raw["warms"]) for k in (*_SUMMED, "pass_s")}
    cold = raw["cold"]
    m = {
        "session.import_s": setup["import_s"],
        "session.start_s": setup["start_s"],
        "io.load_cold_s": raw["io"][0],
        "io.load_warm_s": raw["io"][1],
    }
    for k in _SUMMED:
        if k.startswith(("registry.", "spark.")):
            m[k] = warm[k]
    m["pipeline.persisted_rdds"] = runner.peak_rdds
    m["pipeline.cached_mb"] = runner.peak_cached_mb
    m["pipeline.memo_saving_s"] = cold["registry.build_s"] - warm["registry.build_s"]
    m["sources.output_mb"] = warm["sources.output_mb"]
    m["sources.output_rows"] = warm["sources.output_rows"]
    m["sources.write_amp"] = (
        warm["sources.output_mb"] / warm["sources.input_mb"] if warm["sources.input_mb"] else 0.0
    )
    m["streaming.batches"] = warm["streaming.batches"]
    m["streaming.batch_share"] = 100.0 * warm["streaming.batch_s"] / warm["pass_s"]
    m["streaming.input_rows"] = warm["streaming.input_rows"]
    m["cached_mb_end"] = raw["cached_mb_end"]
    m["tmp_mb_left"] = tmp_mb
    m["fail_ratio"] = fail_ratio
    m["trace.overhead_s"] = warm["pass_s"] - raw["untraced_warm_s"]
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="scale factor of the generated tables")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "upflow_spark", "__init__.py")):
        print(f"perfbench: no upflow_spark package under {ROOT}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(STATE, "runs"))
    _prepare_env(run_dir)
    jvms_start, load_start, ticks_start = _spark_jvms(), _loadavg(), _cpu_ticks()
    tables = gen.build_tables(args.sf)
    fp = gen.fingerprint(tables)

    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    import upflow_spark

    import_s = time.perf_counter() - t0
    from upflow_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    setup = {"import_s": import_s, "start_s": time.perf_counter() - t0}
    gateway = spark.sparkContext._gateway
    try:
        runner, raw = _measure(args, spark, upflow_spark.QUERIES, run_dir, tables)
        problems = _check(runner, upflow_spark.QUERIES, upflow_spark.ORACLE, tables, fp, args.sf)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    tmp_mb, tmp_files = _tree_mb(os.path.join(run_dir, "tmp"))
    wh_mb, wh_files = _tree_mb(os.path.join(run_dir, "warehouse"))
    tmp_mb += wh_mb
    shutil.rmtree(run_dir, ignore_errors=True)
    jvms_end, load_end, ticks_end = _spark_jvms(), _loadavg(), _cpu_ticks()
    ticks = ticks_end[0] - ticks_start[0]
    steal_pct = 100.0 * (ticks_end[1] - ticks_start[1]) / ticks if ticks else 0.0

    failed = len(problems)
    fail_ratio = failed / runner.attempted
    warm_s = [w["pass_s"] for w in raw["warms"]]
    warm_key_s = [s for v in runner.key_s.values() for s in v]
    e2e = {
        "setup_s": import_s + setup["start_s"],
        "cold_pass_s": raw["cold"]["pass_s"],
        "warm_pass_s": statistics.median(warm_s),
        "query_gmean_s": statistics.geometric_mean(
            statistics.median(v) for v in runner.key_s.values()
        ),
    }
    print(f"workload {args.workload} seed {args.seed} sf {args.sf} trace {args.trace}")
    print(f"clean {not (jvms_start or jvms_end)} other_spark_jvms start={jvms_start} end={jvms_end}")
    print(f"loadavg start={load_start} end={load_end} cpu_steal {steal_pct:.1f}%")
    print(f"warm_passes {len(warm_s)} attempted {runner.attempted} failed {failed}")
    print("pass_s cold " + f"{raw['cold']['pass_s']:.3f} warm " + " ".join(f"{s:.3f}" for s in warm_s))
    for p in problems:
        print(f"FAIL {p}")
    for key, secs in runner.key_s.items():
        print(f"key {key} cold {runner.cold_key_s[key]:.3f} s warm {statistics.median(secs):.3f} s")
    info = {
        **e2e,
        "query_p50_s": statistics.median(warm_key_s),
        "fail_ratio": fail_ratio,
        "cached_mb_end": raw["cached_mb_end"],
        "tmp_mb_left": tmp_mb,
        "tmp_files_left": tmp_files + wh_files,
    }
    if raw.get("twin_ratio") is not None:
        info["twin_ratio"] = raw["twin_ratio"]
    metrics = _per_layer(raw, runner, setup, fail_ratio, tmp_mb) if args.trace else e2e
    info.update(metrics)
    for name, value in info.items():
        print(f"metric {name} {value:.6g} {UNITS[name]}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": runner.attempted,
                "failed": failed,
                "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
