"""Layer-profiled extraction benchmark for autoscan_spark on local[2].

    python3 perfbench/run.py --workload extract_plain_heavy --seed 1 \
        --seconds 3 --trace 0

``--workload all`` runs every workload of ``BENCHMARK.json`` in turn and
exits non-zero if any run does.

``--trace 0`` measures the end-to-end metrics with tracing off. ``--trace 1``
runs the same workload with Spark's event log on and reports per-layer
numbers from it, from an identity ``mapInArrow`` control and from in-process
kernel timings. Both check the outputs against ``golden.json`` when it holds
the seed, else against a reference computed outside Spark, and print one
JSON object as the last line of stdout; a failed check exits with code 1.

Works from any directory: the package is imported from the directory above
this one, and the Python workers get the same import path. Corpora are
cached under ``perfbench/.cache`` keyed by (workload, size, seed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import checks  # noqa: E402
import eventlog  # noqa: E402
import workloads  # noqa: E402

# two task threads on the 4-vCPU VM the benchmark was built on: the flat
# action ran as fast as on local[4] there, with half the threads exposed to
# the host's scheduler
MASTER = "local[2]"
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"
TRACE_ITERS = 3
WARM_ITERS = 4  # untimed flat actions before the timed loop

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("turns_per_s", "turns/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
)
PER_LAYER = (
    ("scan.rows", "count", "lower"),
    ("scan.bytes", "bytes", "lower"),
    ("scan.time_ms", "ms", "lower"),
    ("extract.wall_s", "s", "lower"),
    ("extract.boundary_s", "s", "lower"),
    ("extract.kernel_s", "s", "lower"),
    ("extract.python_ms", "ms", "lower"),
    ("extract.bytes_to_python", "bytes", "lower"),
    ("extract.bytes_from_python", "bytes", "lower"),
    *((f"extract.error_rows.{k}", "count", "lower") for k in workloads.KINDS),
    *((f"kernel.us_per_turn.{k}", "us", "lower") for k in workloads.KINDS),
    ("kernel.fold_us_per_conv", "us", "lower"),
    ("fold.wall_s", "s", "lower"),
    ("fold.shuffle_bytes", "bytes", "lower"),
    ("fold.shuffle_write_ms", "ms", "lower"),
    ("fold.agg_build_ms", "ms", "lower"),
    ("fold.python_ms", "ms", "lower"),
    ("fold.task_skew", "ratio", "lower"),
    ("fold.two_phase", "flag", "lower"),
    ("checkpoint.wave_s", "s", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("checkpoint.strategy_s", "s", "lower"),
    ("checkpoint.bytes_written", "bytes", "lower"),
    ("checkpoint.files_written", "count", "lower"),
    ("checkpoint.jobs_per_wave", "count", "lower"),
    ("checkpoint.scans_per_wave", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.exchanges", "count", "lower"),
    ("exec.run_ms", "ms", "lower"),
    ("exec.cpu_ms", "ms", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("trace_overhead_s", "s", "lower"),
)


# ---------------------------------------------------------------------------
# environment and session


def prepare_env(run_dir: str) -> None:
    """Import path for driver and workers; every scratch file in ``run_dir``."""
    if not os.path.isfile(os.path.join(ROOT, "autoscan_spark", "__init__.py")):
        raise SystemExit(f"perfbench: no autoscan_spark package in {ROOT}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def start_session(run_dir: str, event_log_dir: str | None = None):
    """Session up plus the lazy set-up: the first Arrow batch through a
    Python worker on every core."""
    from autoscan_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="autoscan-perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")

    def identity(batches):
        yield from batches

    spark.range(0, 8, 1, 4).mapInArrow(identity, "id long").collect()
    return spark


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def peak_rss_mb(spark) -> float:
    """Sum of VmHWM over the JVM and its Python workers."""
    total_kb = 0
    for pid in _descendants(spark.sparkContext._gateway.proc.pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for it and its workers."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# ---------------------------------------------------------------------------
# measurement helpers


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def min_iters(w) -> int:
    """Three iterations for the flat workloads, so one outlier is never the
    median; one for the checkpoint, whose single action takes longer than a
    run's seconds."""
    return 1 if w.checkpoint else 3


def warm_up(spark, w, df, two_phase: bool, ckpt_root: str) -> None:
    """Untimed actions until the JVM's compiled code and the Python workers
    are warm: on a shared 4-core box the flat action keeps getting faster for
    about six passes over the corpus. The checkpoint runs its first waves."""
    if w.checkpoint:
        workloads.run_checkpoint(spark, df, ckpt_root, "warm", resume=False)
        return
    for i in range(WARM_ITERS):
        workloads.timed_action(spark, w, df, two_phase, ckpt_root, f"warm.{i}")


def timed_loop(fn, seconds: float, min_iters: int = 1) -> list[float]:
    walls: list[float] = []
    start = time.perf_counter()
    while len(walls) < min_iters or time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        fn(len(walls))
        walls.append(time.perf_counter() - t0)
    return walls


def task_counts(spark, groups) -> tuple[int, int]:
    """(attempted, failed) task attempts of the jobs in ``groups``."""
    tracker = spark.sparkContext.statusTracker()
    attempted = failed = 0
    for group in groups:
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                s = tracker.getStageInfo(stage)
                if s:
                    attempted += s.numCompletedTasks + s.numFailedTasks
                    failed += s.numFailedTasks
    return attempted, failed


def expected_output(w, seed: int, path: str) -> dict:
    """The committed golden for this seed, else the in-process reference."""
    golden = checks.golden_for(w.name, w.n_convs, seed)
    return golden if golden is not None else workloads.reference(path)


def open_corpus(spark, w, seed: int):
    spark.sparkContext.setJobGroup("setup", "corpus")
    path = workloads.ensure_corpus(CACHE, w, seed)
    df = spark.read.parquet(path)
    two_phase = False
    if w.checkpoint:
        from autoscan_spark.operators.fold import resolve_fold_strategy

        two_phase = resolve_fold_strategy(df, "auto")
        if not two_phase:
            raise RuntimeError("checkpoint_resume: 'auto' did not pick the two-phase fold")
    import pyarrow.dataset as ds

    n_turns = ds.dataset(path, format="parquet").count_rows()  # footers only, no Spark job
    return path, df, n_turns, two_phase


# ---------------------------------------------------------------------------
# the two kinds of run


def end_to_end(w, seed: int, seconds: float, run_dir: str):
    # one set-up per run, timed from process start: a second, fresh-process
    # sample costs another ~20 s a run, which the run budget cannot carry
    spark = start_session(run_dir)
    setups = [time.perf_counter() - _START]
    log(f"set-up {setups[0]:.3f}s")
    try:
        path, df, n_turns, two_phase = open_corpus(spark, w, seed)
        log(f"corpus ready: {n_turns} turns")
        ref = expected_output(w, seed, path)
        problems: list[str] = []
        log("expected output ready")
        # the flat workloads' output check (same pipeline, collecting sink)
        # is the first pass of the warm-up; the checkpoint is checked after
        ckpt_root = os.path.join(run_dir, "checkpoint")
        if not w.checkpoint:
            problems += workloads.compare(workloads.collect_flat(df, two_phase), ref, "pipeline")
        warm_up(spark, w, df, two_phase, ckpt_root)
        log("warm-up and pipeline check done")
        walls = timed_loop(
            lambda i: workloads.timed_action(spark, w, df, two_phase, ckpt_root, f"e2e.{i}"),
            seconds,
            min_iters(w),
        )
        log(f"timed loop done: {[round(x, 3) for x in walls]}")
        if w.checkpoint:
            got, buckets, rows_in = workloads.collect_checkpoint(ckpt_root)
            problems += workloads.compare(got, ref, "checkpoint")
            if buckets != set(range(workloads.N_BUCKETS)) or rows_in != n_turns:
                problems.append(f"checkpoint: {len(buckets)} buckets, rows_in {rows_in} of {n_turns}")
        groups = [g for i in range(len(walls)) for g in workloads.action_groups(w, f"e2e.{i}")]
        attempted, failed = task_counts(spark, groups)
        rss = peak_rss_mb(spark)
    finally:
        shutdown(spark)

    samples = {
        "setup_s": setups,
        "wall_s": walls,
        "turns_per_s": [n_turns / x for x in walls],
        "peak_rss_mb": [rss],
    }
    metrics = {name: statistics.median(samples[name]) for name, _, _ in END_TO_END}
    metrics["turns_per_s"] = n_turns / metrics["wall_s"]
    for name, unit, better in END_TO_END:
        xs = samples[name]
        worst = max(xs) if better == "lower" else min(xs)
        print(
            f"{w.name} {name} [{unit}] n={len(xs)} median={metrics[name]:.6g} "
            f"p100(worst)={worst:.6g}"
        )
    print(f"{w.name} turns={n_turns} task_fail_ratio={failed / max(attempted, 1):.6g}")
    return metrics, attempted, failed, problems


def traced(w, seed: int, seconds: float, run_dir: str):
    ckpt_root = os.path.join(run_dir, "checkpoint")

    def action(spark, df, two_phase):
        return lambda group: workloads.timed_action(spark, w, df, two_phase, ckpt_root, group)

    # tracing off first: the reference point for trace_overhead_s
    spark = start_session(run_dir)
    try:
        path, df, n_turns, two_phase = open_corpus(spark, w, seed)
        run = action(spark, df, two_phase)
        warm_up(spark, w, df, two_phase, ckpt_root)
        untraced = timed_loop(lambda i: run(f"untraced.{i}"), seconds, min_iters(w))
        log(f"untraced loop done: {[round(x, 3) for x in untraced]}")
    finally:
        spark.stop()

    # a new SparkContext in the same JVM, with the event log on
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = start_session(run_dir, event_log_dir=log_dir)
    sc = spark.sparkContext
    m: dict[str, float] = {}
    try:
        from pyspark.sql import functions as F

        from autoscan_spark.operators.extract import extract_turns
        from autoscan_spark.operators.fold import resolve_fold_strategy

        df = spark.read.parquet(path)
        run = action(spark, df, two_phase)
        results: list = []
        e2e = timed_loop(lambda i: results.append(run(f"e2e.{i}")), seconds, min_iters(w))
        log(f"traced loop done: {[round(x, 3) for x in e2e]}")

        def grouped(prefix, make):
            def one(i):
                sc.setJobGroup(f"{prefix}.{i}", prefix)
                workloads.noop(make())

            return timed_loop(one, 0, TRACE_ITERS)

        extract = grouped("extract", lambda: extract_turns(df, mode="low"))
        boundary = grouped("boundary", lambda: workloads.identity_boundary(df))
        if w.checkpoint:
            # the same two-phase pipeline outside the checkpoint, for the fold split
            pipe = grouped("pipeline", lambda: workloads.pipeline(df, two_phase))
            pipe_groups = [[f"pipeline.{i}"] for i in range(TRACE_ITERS)]
            ckpt_groups = workloads.action_groups(w, f"e2e.{len(e2e) - 1}")
            _, m["checkpoint.resume_s"] = results[-1]
        else:
            pipe, pipe_groups = e2e, [[f"e2e.{i}"] for i in range(len(e2e))]
            _, m["checkpoint.resume_s"] = workloads.run_checkpoint(spark, df, ckpt_root, "ckpt")
            ckpt_groups = ["ckpt.first", "ckpt.resume"]

        sc.setJobGroup("errors", "error rows by kind")
        errors = dict.fromkeys(workloads.KINDS, 0)
        failed_rows = extract_turns(df, mode="low").filter(F.col("status") != "ok")
        for row in failed_rows.groupBy("kind").count().collect():
            errors[row["kind"]] = row["count"]

        sc.setJobGroup("strategy", "resolve_fold_strategy")
        t0 = time.perf_counter()
        resolve_fold_strategy(df, "auto")
        m["checkpoint.strategy_s"] = time.perf_counter() - t0
    finally:
        shutdown(spark)

    wave_ids, wave_walls = workloads.read_columns(
        os.path.join(ckpt_root, "lineage"), ("wave_id", "wave_wall_s")
    )
    m["checkpoint.wave_s"] = statistics.median(x for _, x in set(zip(wave_ids, wave_walls)))
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(ckpt_root) for f in fs if f.endswith(".parquet")
    ]
    m["checkpoint.files_written"] = len(files)
    m["checkpoint.bytes_written"] = sum(os.path.getsize(f) for f in files)

    log("layer actions done")
    kernel = workloads.time_kernels(path)
    ref = expected_output(w, seed, path)
    problems = []
    if errors != ref["error_rows"]:
        problems.append(f"error rows {errors} != reference {ref['error_rows']}")

    (log_name,) = os.listdir(log_dir)
    elog = eventlog.load(os.path.join(log_dir, log_name))
    scan_loc = "file:" + path

    def totals(group_lists):
        return [eventlog.group_totals(elog, gs, scan_loc) for gs in group_lists]

    def med(rows, key):
        return statistics.median(r[key] for r in rows)

    e2e_t = totals(workloads.action_groups(w, f"e2e.{i}") for i in range(len(e2e)))
    ext_t = totals([f"extract.{i}"] for i in range(TRACE_ITERS))
    pipe_t = totals(pipe_groups)
    (ckpt_t,) = totals([ckpt_groups])
    n_waves = workloads.FIRST_WAVES + workloads.WAVES
    last = e2e_t[-1]
    m.update(
        {
            "scan.rows": med(e2e_t, "input_records"),
            "scan.bytes": med(e2e_t, "files_bytes"),
            "scan.time_ms": med(e2e_t, "scan_ms"),
            "extract.wall_s": statistics.median(extract),
            "extract.boundary_s": statistics.median(boundary),
            "extract.kernel_s": statistics.median(extract) - statistics.median(boundary),
            "extract.python_ms": med(ext_t, "python_ms"),
            "extract.bytes_to_python": med(ext_t, "bytes_to_python"),
            "extract.bytes_from_python": med(ext_t, "bytes_from_python"),
            **{f"extract.error_rows.{k}": errors[k] for k in workloads.KINDS},
            "fold.wall_s": statistics.median(pipe) - statistics.median(extract),
            "fold.shuffle_bytes": med(pipe_t, "shuffle_bytes"),
            "fold.shuffle_write_ms": med(pipe_t, "shuffle_write_ms"),
            "fold.agg_build_ms": med(pipe_t, "agg_build_ms"),
            "fold.python_ms": med(pipe_t, "fold_python_ms"),
            "fold.task_skew": med(pipe_t, "fold_task_skew"),
            "fold.two_phase": int(two_phase),
            "checkpoint.jobs_per_wave": ckpt_t["jobs"] / n_waves,
            "checkpoint.scans_per_wave": ckpt_t["corpus_scans"] / n_waves,
            "spark.jobs": last["jobs"],
            "spark.stages": last["stages"],
            "spark.tasks": last["tasks"],
            "spark.exchanges": last["exchanges"],
            "exec.run_ms": med(e2e_t, "run_ms"),
            "exec.cpu_ms": med(e2e_t, "cpu_ms"),
            "exec.gc_ms": med(e2e_t, "gc_ms"),
            "trace_overhead_s": statistics.median(e2e) - statistics.median(untraced),
            **kernel,
        }
    )
    print(f"{w.name} turns={n_turns} kernel sample by class: " + ", ".join(
        f"{k}={kernel[f'kernel.us_per_turn.{k}']:.3g}us" for k in workloads.KINDS))
    for name, unit, _ in PER_LAYER:
        print(f"{w.name} {name} [{unit}] {m[name]:.6g}")
    return m, len(elog.tasks), sum(t.failed for t in elog.tasks), problems


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument(
        "--workload",
        required=True,
        choices=sorted(workloads.WORKLOADS) + ["all"],
        help="'all' runs every workload of BENCHMARK.json in turn, each in its own process",
    )
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=10.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument(
        "--record-golden",
        action="store_true",
        help="store this seed's reference summary in golden.json after a clean run",
    )
    args = parser.parse_args(argv)
    # a terminated run still runs its finally blocks: JVM and workers stop
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if args.workload == "all":
        codes = [
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name]
                + ["--seed", str(args.seed), "--seconds", str(args.seconds)]
                + ["--trace", str(args.trace)]
                + (["--record-golden"] if args.record_golden else [])
            ).returncode
            for name in workloads.BENCHMARKED
        ]
        return max(codes)

    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    try:
        prepare_env(run_dir)
        w = workloads.WORKLOADS[args.workload]
        run = traced if args.trace else end_to_end
        metrics, attempted, failed, problems = run(w, args.seed, args.seconds, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for p in problems:
        print(f"perfbench: output check failed: {p}", file=sys.stderr)
    if args.record_golden and not problems:
        path = workloads.corpus_path(CACHE, w, args.seed)
        ref = workloads.reference(path)
        golden = checks.golden_for(w.name, w.n_convs, args.seed)
        if golden is not None and golden != ref:
            print("perfbench: golden.json disagrees with the reference; not recorded", file=sys.stderr)
            return 1
        checks.record_golden(w.name, w.n_convs, args.seed, ref)
    spec = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": not problems,
        "attempted": attempted + 1,  # the output check counts as one attempt
        "failed": failed + bool(problems),
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit, _ in spec},
    }
    print(json.dumps(result))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
