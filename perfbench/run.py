"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's seeded inputs and
expected results (cached per seed under ``.perfbench_work/``), sets up
the engine once, runs the workload's closed-loop clients for
``--seconds``, checks every job's result, prints each metric with its
unit and, as the last line, one JSON object. ``--trace 1`` adds a traced
run of the same length and prints the per-layer metrics instead. Exits
non-zero when any job failed or returned a wrong result. See
``perfbench/README.md``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MB = float(1 << 20)
# set-up passes over every job kind: the first is cold; after it the first
# timed job still ran ~50 % slower than the steady state (JIT warm-up)
SETUP_PASSES = 2


def configure_env() -> None:
    """Deployment environment: all cores, every scratch path in WORK."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file in the system /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR


def execute(spark, wl, job, tracer, collect_stats: bool) -> None:
    """Run one job in its own Spark job group; a failure is recorded."""
    from tracing import group_stats

    spark.sparkContext.setJobGroup(job.group, job.kind)
    tracer.set_job(job.index)
    job.start = time.perf_counter()
    try:
        wl.run_job(spark, job, tracer)
    except Exception:  # a failed job is counted; the run goes on
        job.error = traceback.format_exc(limit=3)[-2000:]
    job.end = time.perf_counter()
    if collect_stats:
        job.spark = group_stats(spark, job.group, before=job.action_at or None)
        job.spans = tracer.totals(job.index)


class Runner:
    def __init__(self, wl, seed: int) -> None:
        self.wl = wl
        self.seed = seed
        self._lock = threading.Lock()
        self._next = 0

    def _new_job(self, kind: str):
        from workloads import Job

        with self._lock:
            self._next += 1
            return Job(self._next, kind)

    def _in_threads(self, target, n: int) -> None:
        errors = []

        def guarded(c):
            try:
                target(c)
            except BaseException as e:  # surfaced after join
                errors.append(e)
                raise

        threads = [threading.Thread(target=guarded, args=(c,)) for c in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    def rounds(self, spark, tracer, collect_stats: bool, seconds: float | None):
        """Closed loop over whole rounds; returns (jobs, wall seconds).

        A round is a seeded permutation of the workload's job kinds, each
        kind once, queued for all clients to take from; a client takes its
        next job as soon as its last one ends. When the queue runs dry, the
        next round is queued only if it is projected to end nearer to
        ``seconds`` than now (``None``: one round, the set-up pass). Whole
        rounds hold every kind equally often, so the timed mix, and with
        it the median, does not depend on where the window ends; the
        window lasts until the last job ends.
        """
        jobs, queue = [], []
        rng = random.Random(f"{self.seed}/rounds")
        done = 0
        start = time.perf_counter()

        def next_kind():
            nonlocal done
            with self._lock:
                if not queue:
                    elapsed = time.perf_counter() - start
                    if done and (
                        seconds is None
                        or abs(elapsed * (done + 1) / done - seconds) >= abs(elapsed - seconds)
                    ):
                        return None
                    order = list(self.wl.kinds)
                    rng.shuffle(order)
                    queue.extend(order)
                    done += 1
                return queue.pop(0)

        def client(_):
            while (kind := next_kind()) is not None:
                job = self._new_job(kind)
                execute(spark, self.wl, job, tracer, collect_stats)
                with self._lock:
                    jobs.append(job)

        self._in_threads(client, self.wl.clients)
        return jobs, time.perf_counter() - start


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def proc_status_mb(pid: int, field: str) -> float:
    """A ``/proc/<pid>/status`` memory field (VmHWM, VmRSS) in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def retained_mb(spark) -> float:
    """Memory still live after a full GC: JVM heap + non-heap in use, plus
    the resident set of the Spark driver's Python process."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / MB + proc_status_mb(os.getpid(), "VmRSS")


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def check_jobs(wl, jobs) -> None:
    """Set ``job.error`` on every job whose result is wrong."""
    for job in jobs:
        if job.error is None:
            try:
                bad = wl.check(job)
            except Exception:  # a check that cannot run is a failed job
                bad = traceback.format_exc(limit=3)
            if bad:
                job.error = f"wrong result: {bad}"


def summarize(wl, jobs, wall: float) -> dict:
    import stats

    ok = [j for j in jobs if j.error is None]
    lat = [j.latency for j in ok]
    out = {
        "latency_p50_s": stats.median(lat),
        "jobs_per_min": len(ok) / wall * 60.0,
        "input_mb_per_s": sum(wl.input_bytes(j.kind) for j in ok) / MB / wall,
        "error_rate": (len(jobs) - len(ok)) / max(1, len(jobs)),
        "samples": len(lat),
        "wall_s": wall,
    }
    if stats.tail_ok(len(lat), 90):
        out["latency_p90_s"] = stats.percentile(lat, 90)
    return out


def setup(runner) -> tuple:
    """Build the session (cold JVM) and run SETUP_PASSES passes of every
    job kind. Returns (spark, ``get_spark()`` seconds, the passes' jobs)."""
    from tracing import Tracer

    from mapreduce_docker_spark.session import get_spark
    from mapreduce_docker_spark.sources.catalog import ensure_runtime_confs

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    session_s = time.perf_counter() - t
    # ships the engine package to the Python workers once, before clients
    # start: concurrent first calls race on the shipped zip (README.md)
    ensure_runtime_confs(spark)
    jobs = []
    for _ in range(SETUP_PASSES):
        jobs += runner.rounds(spark, Tracer(False), False, None)[0]
    return spark, session_s, jobs


def layer_metrics(
    wl, spark, jobs, wall: float, untraced_p50: float, session_s: float, registry_s: float
) -> dict:
    """Per-layer metrics from the traced window's jobs and the cold set-up."""
    import stats

    ok = [j for j in jobs if j.error is None]
    n = max(1, len(ok))

    def span_sum(name, idx):
        return sum(j.spans.get(name, (0, 0.0, 0.0))[idx] for j in ok)

    def spark_sum(key):
        return sum(j.spark.get(key, 0.0) for j in ok)

    cores = spark.sparkContext.defaultParallelism
    build = span_sum("operators.build", 1)
    plan = span_sum("spark.plan", 1)
    active = spark_sum("stage_active_s")
    rows = sum(wl.result_rows(j) for j in ok)
    m = {
        "session.build_s": session_s,
        "registry.load_s": registry_s,
        "sources.catalog.load_table_calls": span_sum("sources.catalog.load_table", 0) / n,
        "sources.catalog.load_table_s": span_sum("sources.catalog.load_table", 1) / n,
        "sources.text.write_tsv_s": span_sum("sources.text.write_tsv", 1) / n,
        "sources.text.tsv_mb": wl.tsv_mb() if hasattr(wl, "tsv_mb") else 0.0,
        "sources.text.scan_s": 0.0,
        "functions.tokenize_s": 0.0,
        "functions.texthash_s": 0.0,
        "operators.build_s": span_sum("operators.build", 2) / n,
        "operators.eager_jobs": spark_sum("eager_jobs") / n,
        "operators.wordcount.agg_s": 0.0,
        "spark.plan_s": plan / n,
        "spark.jobs": spark_sum("jobs") / n,
        "spark.stages": spark_sum("stages") / n,
        "spark.tasks": spark_sum("tasks") / n,
        "spark.stage_active_s": active / n,
        "spark.driver_gap_s": (sum(j.latency for j in ok) - build - plan - active) / n,
        "spark.task_wait_s": spark_sum("task_wait_s") / n,
        "spark.executor_run_s": spark_sum("executor_run_s") / n,
        "spark.executor_cpu_s": spark_sum("executor_cpu_s") / n,
        "spark.gc_s": spark_sum("gc_s") / n,
        "spark.executor_busy_frac": spark_sum("executor_run_s") / (wall * cores),
        "spark.shuffle_write_mb": spark_sum("shuffle_write_mb") / n,
        "spark.shuffle_read_mb": spark_sum("shuffle_read_mb") / n,
        "spark.spill_mb": spark_sum("spill_mb") / n,
        "spark.input_records_per_result_row": spark_sum("input_records") / max(1, rows),
        "spark.failed_tasks": spark_sum("failed_tasks"),
        "spark.stage_retries": spark_sum("stage_retries"),
        "trace.overhead_s": stats.median([j.latency for j in ok]) - untraced_p50,
    }
    for kind in wl.kinds:
        m[f"operators.{kind}.latency_p50_s"] = stats.median(
            [j.latency for j in ok if j.kind == kind]
        )
    m.update(wl.layer_passes(spark))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    configure_env()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import mapreduce_docker_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}", file=sys.stderr)
        return 2
    import stats
    import workloads
    from tracing import Tracer, patched

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](WORK, args.seed)
    runner = Runner(wl, args.seed)

    t = time.perf_counter()
    wl.load_specs()
    registry_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t

    # set-up counts from process start: imports, registry, cold JVM and the
    # set-up passes, less the benchmark's own input preparation
    spark, session_s, setup_jobs = setup(runner)
    setup_s = time.perf_counter() - T0 - prepare_s

    ticks0 = cpu_ticks()
    jobs, wall = runner.rounds(spark, Tracer(False), False, args.seconds)
    ticks1 = cpu_ticks()
    # time the host gave this VM's CPUs to others; the window stretches by it
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    check_jobs(wl, setup_jobs + jobs)
    e2e = summarize(wl, jobs, wall)
    e2e["setup_s"] = setup_s

    layers = None
    if args.trace:
        tracer = Tracer(True)
        with patched(tracer):
            tjobs, twall = runner.rounds(spark, tracer, True, args.seconds)
        check_jobs(wl, tjobs)
        jobs += tjobs
        layers = layer_metrics(
            wl, spark, tjobs, twall, e2e["latency_p50_s"], session_s, registry_s
        )
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        tracer.write(os.path.join(WORK, "trace", f"{wl.name}-s{args.seed}.jsonl"))

    e2e["peak_rss_mb"] = proc_status_mb(os.getpid(), "VmHWM") + proc_status_mb(
        jvm_pid(spark), "VmHWM"
    )
    e2e["retained_mb"] = retained_mb(spark)
    shutdown(spark)

    failed = [j for j in setup_jobs + jobs if j.error is not None]
    for j in failed[:5]:
        print(f"FAILED job {j.index} ({j.kind}): {j.error}", file=sys.stderr)
    print("job latencies (s, in order): " + " ".join(f"{j.latency:.3f}" for j in jobs),
          file=sys.stderr)

    units = {
        "latency_p50_s": "s",
        "latency_p90_s": "s",
        "jobs_per_min": "1/min",
        "input_mb_per_s": "MB/s",
        "error_rate": "ratio",
        "peak_rss_mb": "MB",
        "retained_mb": "MB",
        "setup_s": "s",
    }
    print(f"workload {wl.name} seed {args.seed}: {e2e['samples']} jobs timed "
          f"over {e2e['wall_s']:.2f} s, {len(wl.kinds)} kinds, {wl.clients} clients; "
          f"input preparation {prepare_s:.2f} s (not timed); "
          f"host CPU steal during the window {100 * steal:.0f} %")
    for k, unit in units.items():
        if k in e2e:
            print(f"  {k:<16} {e2e[k]:>14.6f} {unit}")
    if "latency_p90_s" not in e2e:
        print(f"  latency_p90_s    not reported: {e2e['samples']} samples leave fewer than "
              f"{stats.MIN_TAIL_SAMPLES} beyond p90")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if layers is not None:
        # a per-query latency of another workload's mix reads 0 here
        units = {m["name"]: m["unit"] for m in declared["per_layer"]}
        for k, v in layers.items():
            print(f"  {k:<56} {v:>14.6f} {units.get(k, 's')}")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        metrics = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in declared["end_to_end"]
        }
    print(json.dumps({
        "correct": not failed,
        "attempted": len(jobs),
        "failed": sum(1 for j in jobs if j.error is not None),
        "metrics": metrics,
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
