"""Benchmark of python-dtl-spark: one workload, one seed, one run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload provenance_audit --seed 1 --seconds 20 --trace 0

Load model: closed loop, one client, one process.  Operations run back to
back against ``local[nproc]`` (``SPARK_GRAFT_CPUS`` is set to the number of
usable cores; every other program setting keeps its default).  A run sets up
the session ``N_SETUPS`` times, runs one cold pass over the drawn operations, then
``round(seconds / WARM_PASS_S)`` warm passes (at least one).  The pass count
is fixed by ``--seconds`` alone, never by measured speed: the JVM keeps
getting faster for many passes, so every run must time its operations at
the same point of that curve.  Outputs are checked outside the timed
regions.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` is the span run:
it adds one spanned pass before each plain warm pass, and prints the
per-layer metrics and the spans' own overhead.  The last line of standard output is
one JSON object; every run also writes its full record to
``perfbench/results/`` under a name that is never reused.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

#: End-to-end metrics, in CPU seconds of the program's process tree without
#: the JVM's JIT compiler (see ``cputime``), scaled to a fixed host speed
#: (``HOST_REF_S``; every run also prints them unscaled); the wall-clock
#: twins are per-layer ``wall.*`` metrics.  The cold pass is the per-layer
#: ``cold_cpu_s``: one first execution per operation, it spread by up to
#: 0.26 over ten seeds, more than any bound allows.
E2E_METRICS = {
    "setup_s": "s",
    "warm_cpu_s": "s",
    "op_p50_cpu_s": "s",
    "op_tail_cpu_s": "s",
}
LAYER_METRICS = {
    "cold_cpu_s": ("s", None),
    "wall.setup_s": ("s", None),
    "wall.cold_s": ("s", None),
    "wall.warm_s": ("s", None),
    "wall.op_p50_s": ("s", None),
    "wall.op_tail_s": ("s", None),
    "jvm.jit_cpu_s": ("s", None),
    "lang.s": ("s", "lang.self_s"),
    "lang.tokens": ("count", "lang.tokens"),
    "compiler.run_script_s": ("s", "compiler.self_s"),
    "compiler.jobs": ("count", "compiler.jobs"),
    "compiler.plan_nodes": ("count", "compiler.plan_nodes"),
    "catalyst.analysis_s": ("s", "catalyst.analysis_s"),
    "catalyst.optimization_s": ("s", "catalyst.optimization_s"),
    "catalyst.planning_s": ("s", "catalyst.planning_s"),
    "sources.import_s": ("s", "sources.import.self_s"),
    "sources.import_jobs": ("count", "sources.import.jobs"),
    "sources.export_s": ("s", "sources.export.self_s"),
    "sources.export_bytes": ("bytes", "sources.export_bytes"),
    "operators.construct_s": ("s", "construct.s"),
    "operators.construct_jobs": ("count", "construct.jobs"),
    **{
        f"operators.{m}.{k}": (u, f"operators.{m}.{src}")
        for m in (
            "dedup",
            "text",
            "similarity",
            "sampling",
            "classify",
            "stats",
            "embeddings",
            "other",
        )
        for k, u, src in (("self_s", "s", "self_s"), ("jobs", "count", "jobs"))
    },
    "streaming.self_s": ("s", "streaming.self_s"),
    "streaming.jobs": ("count", "streaming.jobs"),
    "action.s": ("s", "action.s"),
    "action.jobs": ("count", "action.jobs"),
    "spark.jobs": ("count", "spark.jobs"),
    "spark.stages": ("count", "spark.stages"),
    "spark.tasks": ("count", "spark.tasks"),
    "spark.executor_run_s": ("s", None),
    "spark.busy_frac": ("ratio", None),
    "spark.shuffle_read_bytes": ("bytes", "spark.shuffle_read_bytes"),
    "spark.shuffle_write_bytes": ("bytes", "spark.shuffle_write_bytes"),
    "spark.spill_bytes": ("bytes", "spark.spill_bytes"),
    "lineage.snapshot_s": ("s", "lineage.snapshot.self_s"),
    "lineage.snapshot_bytes": ("bytes", "lineage.snapshot_bytes"),
    "lineage.mapping_s": ("s", "lineage.mapping.self_s"),
    "lineage.mapping_bytes": ("bytes", "lineage.mapping_bytes"),
    "lineage.jobs": ("count", None),
    "lineage.lineage_s": ("s", "lineage.lineage.self_s"),
    "lineage.why_jobs": ("count", None),
    "lineage.trace_mode_ratio": ("ratio", None),
    "lineage.why_p50_s": ("s", None),
    "session.get_spark_s": ("s", None),
    "host.probe_cpu_s": ("s", None),
    "jvm_peak_rss_mb": ("MB", None),
    "spark.persisted_rdds_after_op": ("count", None),
    "bench.leftover_tmp_dirs": ("count", None),
    "spark.accumulator_errors": ("count", None),
    "bench.fail_frac": ("ratio", None),
    "bench.oracle_mismatch": ("count", None),
    "bench.span_overhead_frac": ("ratio", None),
}
#: Set-ups per run.  The first also starts the JVM, and the second and
#: third still vary by a third between runs while the later ones hold
#: steady, so the median of seven lands on a steady one.
N_SETUPS = 7
#: Scale factor of the input tables: the fixed sf 0.01 test tables (data
#: seed 42), copied under ``perfbench/data/`` because a run may read only
#: its own checkout.  At 0.01 the operations are dominated by Spark job and
#: planning overhead, as the catalog's correctness tier is, and a warm pass
#: takes 3-7 s on 4 cores.
SF = 0.01
DATA_DIR = os.path.join(BENCH_DIR, "data", f"sf{SF:g}")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, op_medians):
    """The highest percentile of ``xs`` with at least ten samples beyond it,
    as ``(value, percentile)`` by nearest rank.  Below a hundred samples
    that percentile is under p90, no tail (with 24 it is p58, among the
    mid-priced operations), so the costliest operation is reported instead:
    the largest of ``op_medians``, each operation's median (a single
    sample's maximum swung by a third between runs); with no samples at all
    (every operation failed), 0."""
    xs = sorted(xs)
    if len(xs) < 100:
        return max(op_medians, default=0.0), 100.0
    k = len(xs) - 10
    return xs[k - 1], 100.0 * k / len(xs)


def commit_id() -> str:
    """The git commit when run from a clone, else a hash of the program's
    source files (the benchmark's checkout is not a git repository)."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
            capture_output=True,
            text=True,
            check=False,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    h = hashlib.sha256()
    for base, dirs, files in os.walk(os.path.join(ROOT, "python_dtl_spark")):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()[:12]


def data_digest(data_dir: str) -> str:
    """Hash of the input tables, recorded with every result."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        h.update(name.encode())
        with open(os.path.join(data_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class RunDirs:
    """Scratch directories of one run inside the checkout, removed at exit."""

    def __init__(self, run_id: str):
        self.root = os.path.join(BENCH_DIR, ".runs", run_id)
        self.tmp = os.path.join(self.root, "tmp")
        self.out = os.path.join(self.root, "out")
        self.spark_local = os.path.join(self.root, "spark-local")
        self.java_tmp = os.path.join(self.root, "java-tmp")
        self.jvm_log = os.path.join(self.root, "jvm.log")
        for d in (self.tmp, self.out, self.spark_local, self.java_tmp):
            os.makedirs(d)


def point_env_at(dirs: RunDirs, cpus: int) -> None:
    """Keep every file the program, Spark and the JVM write in the run
    directory, and size the session to the usable cores."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = dirs.tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs.spark_local
    # HotSpot otherwise starts and stops JIT compiler threads as its queue
    # grows and drains; a thread that lives between two CPU readings is
    # never seen, and its compile time lands in the program's CPU time
    # (see ``cputime``).  A fixed set keeps the JIT's time fully apart.
    java_opts = (
        f"-Djava.io.tmpdir={dirs.java_tmp} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    prior = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{prior} {java_opts}" if prior else java_opts


#: What a run imports before its first set-up: the program, the oracle and
#: the benchmark's own modules.
IMPORTS = "import duckdb, pyspark, ops; from scripts.check_oracle import duck_connection"
#: The host speed probe: a fresh interpreter's start-up and its import of
#: third-party packages only, imported first, so the probe's CPU time does
#: not depend on the program.
PROBE_IMPORTS = "import duckdb, pandas, pyarrow.parquet, pyspark.sql"
#: About the CPU seconds the probe takes on the 4-vCPU VM the benchmark was
#: sized on when its host is quiet (0.71-0.79 s).  End-to-end times are
#: scaled by ``HOST_REF_S / probe``: the shared host's load moved the CPU
#: time of whole runs by up to 40 % within ten minutes (with and without
#: hypervisor steal), and the fresh interpreter's import time moved with it.
HOST_REF_S = 0.8


def import_cost() -> tuple[float, float, float]:
    """``(wall, cpu, probe)``: the seconds a fresh interpreter takes to
    import what a run imports, and the CPU seconds it took to start and
    import ``PROBE_IMPORTS``.  Every set-up sample adds one: a run imports
    only once, and adding that one measurement to every sample swung the
    median set-up time by a sixth between runs."""
    code = (
        f"import sys, time; sys.path[:0] = {[ROOT, BENCH_DIR]!r}; {PROBE_IMPORTS}; "
        f"print(time.process_time()); {IMPORTS}"
    )
    before = resource.getrusage(resource.RUSAGE_CHILDREN)
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, "-c", code], check=True, capture_output=True, text=True
    )
    wall = time.perf_counter() - t0
    after = resource.getrusage(resource.RUSAGE_CHILDREN)
    cpu = after.ru_utime - before.ru_utime + after.ru_stime - before.ru_stime
    return wall, cpu, float(out.stdout.split()[0])


WARM_UP_SCRIPT = """
WITH region AS IMPORT 'region';
WITH nation AS IMPORT 'nation';
WITH output AS
    SELECT r_name, count(n_nationkey) AS n
    FROM nation JOIN region ON nation.n_regionkey = region.r_regionkey
    GROUP BY r_name;
EXPORT output TO 'output';
"""


def set_up(data_dir: str, dirs: RunDirs, first: bool):
    """Build the session and warm it up (JIT, codegen, parquet readers and
    writers, the DTL path) on the two smallest tables.  Returns ``(spark,
    get_spark_seconds)``."""
    from python_dtl_spark.runtime import run_files
    from python_dtl_spark.session import get_spark

    t0 = time.perf_counter()
    if first:
        # the JVM inherits the log as its standard error
        saved = os.dup(2)
        log = os.open(dirs.jvm_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
        os.dup2(log, 2)
        try:
            spark = get_spark("perfbench")
        finally:
            os.dup2(saved, 2)
            os.close(saved)
            os.close(log)
    else:
        spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    out = tempfile.mkdtemp(prefix="warmup_", dir=dirs.out)
    run_files(WARM_UP_SCRIPT, spark=spark, input_dir=data_dir, output_dir=out)
    shutil.rmtree(out)
    return spark, get_spark_s


def stop_jvm(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in the JVM's /proc status")


def run_passes(ctx, plan, warm_passes: int, trace: bool):
    """Closed loop over the plan: a cold pass, then ``warm_passes`` warm
    passes.  The span run makes each warm pass a pair of one spanned and
    one plain pass, in the order spanned, plain, plain, spanned, ... so
    that the JVM's warm-up, which goes on for many passes, favours neither
    side.  The pass count never depends on measured speed: every run times
    its operations at the same point of that warm-up."""
    import layers
    from ops import execute
    from spans import Spans

    samples = []
    if trace:
        ctx.spans = Spans(ctx.spark)
    n_passes = 1 + warm_passes * (2 if trace else 1)
    for pass_no in range(n_passes):
        spanned = trace and pass_no % 4 in (0, 1) and pass_no > 0
        ctx.new_pass()
        if spanned:
            layers.install(ctx.spans)
        try:
            for spec in plan:
                samples.append(execute(ctx, spec, pass_no, spanned))
        finally:
            if spanned:
                ctx.spans.uninstall()
    ctx.close()
    return samples


def per_op_medians(samples, value):
    """``{op: median of value(sample)}`` over the given samples."""
    by_op = {}
    for s in samples:
        v = value(s)
        if v is not None:
            by_op.setdefault(s.op, []).append(v)
    return {op: statistics.median(vs) for op, vs in by_op.items()}


def timing_metrics(samples, setups, field: str):
    """Set-up, cold pass, median warm pass, and median and tail warm
    operation, from ``field`` (``cpu_s`` or ``seconds``) of the samples."""
    warm = [s for s in samples if s.pass_no > 0 and not s.spanned]
    values = [getattr(s, field) for s in warm if s.error is None]
    op_medians = per_op_medians(warm, lambda s: getattr(s, field)).values()
    tail_value, tail_pct = tail(values, op_medians)
    return {
        "setup": statistics.median(setups),
        "cold": sum(getattr(s, field) for s in samples if s.pass_no == 0 and s.error is None),
        "warm": sum(op_medians),
        "op_p50": median(values),
        "op_tail": tail_value,
    }, {"tail_percentile": tail_pct, "warm_samples": len(values)}


def provenance_metrics(samples):
    """Trace-mode cost and provenance question latency, wall clock, from
    the plain warm passes."""
    warm = [s for s in samples if s.pass_no > 0 and not s.spanned]
    med = per_op_medians(warm, lambda s: s.seconds)
    traced = sum(v for op, v in med.items() if op.startswith("traced:"))
    untraced = sum(v for op, v in med.items() if op.startswith("untraced:"))
    whys = [s.seconds for s in warm if s.op.startswith("why:") and s.seconds]
    wheres = [s.seconds for s in warm if s.op.startswith("where:") and s.seconds]
    return {
        "trace_mode_ratio": traced / untraced if untraced else 0.0,
        "why_p50_s": median(whys),
        "where_used_p50_s": median(wheres),
    }


def layer_metrics(
    samples, cpu, wall, get_spark_s, accumulator_errors, cpus, rss_mb, host_probe_s
):
    spanned = [s for s in samples if s.spanned and s.seconds is not None]
    plain = [s for s in samples if s.pass_no > 0 and not s.spanned]
    keys = {k for s in spanned for k in s.layers}
    sums = {
        k: sum(per_op_medians(spanned, lambda s, k=k: s.layers.get(k, 0)).values())
        for k in keys
    }
    span_time = per_op_medians(spanned, lambda s: s.seconds)
    plain_time = per_op_medians(plain, lambda s: s.seconds)
    both = span_time.keys() & plain_time.keys()
    plain_total = sum(plain_time[op] for op in both)
    span_total = sum(span_time[op] for op in both)
    why_ops = [s for s in spanned if s.op.startswith(("why:", "where:"))]
    executor_s = sums.get("spark.executor_run_ms", 0) / 1000.0
    span_wall = sum(span_time.values())
    attempted = len(samples)
    prov = provenance_metrics(samples)
    derived = {
        "cold_cpu_s": cpu["cold"],
        **{f"wall.{k}_s": v for k, v in wall.items()},
        "jvm.jit_cpu_s": sum(per_op_medians(plain, lambda s: s.jit_cpu_s).values()),
        "spark.executor_run_s": executor_s,
        "spark.busy_frac": executor_s / (span_wall * cpus) if span_wall else 0.0,
        "lineage.jobs": sums.get("lineage.snapshot.jobs", 0)
        + sums.get("lineage.mapping.jobs", 0),
        "lineage.why_jobs": sum(
            per_op_medians(why_ops, lambda s: s.layers.get("spark.jobs", 0)).values()
        ),
        "lineage.trace_mode_ratio": prov["trace_mode_ratio"],
        "lineage.why_p50_s": prov["why_p50_s"],
        "session.get_spark_s": statistics.median(get_spark_s),
        "host.probe_cpu_s": host_probe_s,
        "jvm_peak_rss_mb": rss_mb,
        "spark.persisted_rdds_after_op": sum(s.persisted_rdds for s in samples),
        "bench.leftover_tmp_dirs": sum(s.leftover_dirs for s in samples),
        "spark.accumulator_errors": accumulator_errors,
        "bench.fail_frac": sum(s.error is not None for s in samples) / attempted,
        "bench.oracle_mismatch": sum(bool(s.problems) for s in samples),
        "bench.span_overhead_frac": span_total / plain_total - 1.0
        if plain_total
        else 0.0,
    }
    out = {}
    for name, (_unit, source) in LAYER_METRICS.items():
        out[name] = derived[name] if source is None else sums.get(source, 0)
    return out


def host_cpu_ticks() -> tuple[int, int]:
    """``(total, steal)`` jiffies of the machine, from ``/proc/stat``: the
    share of time the hypervisor gave the vCPUs to someone else is recorded
    with every run, because it moves every timing."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def count_accumulator_errors(path: str) -> int:
    try:
        with open(path, errors="replace") as f:
            return sum("non-existent accumulator" in line for line in f)
    except FileNotFoundError:
        return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "python_dtl_spark")):
        print(f"perfbench: no python_dtl_spark/ under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, BENCH_DIR)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    run_id = f"{args.workload}_s{args.seed}_t{args.trace}_{stamp}_{os.getpid()}"
    dirs = RunDirs(run_id)
    point_env_at(dirs, cpus)

    import duckdb
    import pyspark

    from scripts.check_oracle import duck_connection
    import ops
    from cputime import cpu_seconds

    plan = workloads.draw(args.workload, args.seed, DATA_DIR)

    setups, setups_cpu, get_spark_s, imports = [], [], [], []
    spark = None
    try:
        for i in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            imports.append(import_cost())
            t0, cpu0 = time.perf_counter(), cpu_seconds()[0]
            spark, g = set_up(DATA_DIR, dirs, first=i == 0)
            setups.append(imports[-1][0] + time.perf_counter() - t0)
            setups_cpu.append(imports[-1][1] + cpu_seconds()[0] - cpu0)
            get_spark_s.append(g)
        ctx = ops.Context(spark, DATA_DIR, dirs.tmp, dirs.out, duck_connection(DATA_DIR))
        t_run = time.perf_counter()
        cpu_before = host_cpu_ticks()
        warm_passes = max(1, round(args.seconds / workloads.WARM_PASS_S))
        samples = run_passes(ctx, plan, warm_passes, bool(args.trace))
        run_s = time.perf_counter() - t_run
        cpu_after = host_cpu_ticks()
        steal_frac = (cpu_after[1] - cpu_before[1]) / max(1, cpu_after[0] - cpu_before[0])
        cpu, tail_info = timing_metrics(samples, setups_cpu, "cpu_s")
        wall, _ = timing_metrics(samples, setups, "seconds")
        e2e_raw = {
            "setup_s": cpu["setup"],
            **{f"{k}_cpu_s": v for k, v in cpu.items() if k != "setup"},
        }
        host_probe_s = statistics.median(p for _, _, p in imports)
        e2e = {
            k: v * HOST_REF_S / host_probe_s if k in E2E_METRICS else v
            for k, v in e2e_raw.items()
        }
        rss_mb = jvm_peak_rss_mb(spark)
        settings = {
            "nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"
            ),
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
        }
    finally:
        if spark is not None:
            stop_jvm(spark)
    accumulator_errors = count_accumulator_errors(dirs.jvm_log)
    shutil.rmtree(dirs.root, ignore_errors=True)

    attempted = len(samples)
    failed = sum(s.error is not None for s in samples)
    mismatched = sum(bool(s.problems) for s in samples)
    layers = (
        layer_metrics(
            samples,
            cpu,
            wall,
            get_spark_s,
            accumulator_errors,
            cpus,
            rss_mb,
            host_probe_s,
        )
        if args.trace
        else None
    )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SF,
        "commit": commit_id(),
        "data_digest": data_digest(DATA_DIR),
        "settings": settings,
        "plan": [list(spec) for spec in plan],
        "setup_cpu_samples_s": setups_cpu,
        "setup_wall_samples_s": setups,
        "get_spark_samples_s": get_spark_s,
        "import_samples_s": imports,
        "host_probe_s": host_probe_s,
        "end_to_end_unscaled": e2e_raw,
        "run_s": run_s,
        "steal_frac": steal_frac,
        "tail": tail_info,
        "end_to_end": e2e,
        "wall": wall,
        "jvm_peak_rss_mb": rss_mb,
        "fail_frac": failed / attempted,
        "oracle_mismatch": mismatched,
        "accumulator_errors": accumulator_errors,
        "per_layer": layers,
        "samples": [vars(s) for s in samples],
    }
    if args.workload == "provenance_audit":
        record["provenance"] = provenance_metrics(samples)
    results = os.path.join(BENCH_DIR, "results")
    os.makedirs(results, exist_ok=True)
    name = (
        f"{args.workload}_seed{args.seed}_sf{SF:g}_c{cpus}_"
        f"{record['commit']}_t{args.trace}_{stamp}.json"
    )
    with open(os.path.join(results, name), "x") as f:
        json.dump(record, f, indent=1, default=str)

    for s in samples:
        if s.error or s.problems:
            print(f"# {s.op} pass {s.pass_no}: {s.error or '; '.join(s.problems)}")
    shown = dict(e2e)
    if layers:
        del shown["cold_cpu_s"]  # printed with the per-layer metrics
    else:
        shown.update({f"unscaled.{k}": e2e_raw[k] for k in E2E_METRICS})
        shown["host.probe_cpu_s"] = host_probe_s
        shown.update({f"wall.{k}_s": v for k, v in wall.items()})
        shown["jvm_peak_rss_mb"] = rss_mb
    shown["fail_frac"] = failed / attempted
    shown["oracle_mismatch"] = mismatched
    if args.workload == "provenance_audit":
        shown.update(record["provenance"])
    for k, v in shown.items():
        unit = E2E_METRICS.get(k.removeprefix("unscaled.")) or LAYER_METRICS.get(
            k, ("",)
        )[0]
        print(f"# {k} = {v:.6g} {unit}".rstrip())
    print(
        f"# tail percentile p{tail_info['tail_percentile']:.1f} over "
        f"{tail_info['warm_samples']} warm samples; result file results/{name}"
    )
    if layers:
        for k, v in layers.items():
            print(f"# {k} = {v:.6g} {LAYER_METRICS[k][0]}")
        metrics = {k: {"value": v, "unit": LAYER_METRICS[k][0]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_METRICS.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0 and mismatched == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
