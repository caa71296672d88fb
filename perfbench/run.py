"""The repository's benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload {etl_claims,registry_mix} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Closed loop, one client: operations run one
after another, each starting when the previous one returned.  The Spark
session is the package's own ``get_spark`` at ``local[nproc / 2]``, made
hermetic by settings made here: driver memory and collector, Python workers'
path, working, temp and Spark local directories inside ``perfbench/.work/``,
log level ERROR.

A run

1. launches the JVM with a first session (untimed), then sets up
   ``SETUP_CYCLES`` times (session restart, then seeded input generation);
   ``setup_s`` is the median cycle;
2. runs every operation once and checks its output, then runs the
   workload's warm-up passes (both untimed);
3. runs full passes over the operations; the number of passes is
   ``--seconds`` divided by the workload's nominal pass time (at least
   ``MIN_PASSES``), so every run of a workload takes the same samples,
   whatever the speed of the program.  A pass disturbed by other guests
   (``STEAL_LIMIT``) is made up by one more, until that many passes were
   undisturbed or twice ``--seconds`` have gone by; the metrics use that
   many passes, the least disturbed;
4. prints one JSON line on stdout: the end-to-end metrics with ``--trace 0``;
   with ``--trace 1`` (one set-up cycle) half the passes run untraced and
   half in a fresh traced session, and it prints the per-layer metrics of the
   traced half with the tracing overhead.

Run context and per-operation rows go to ``perfbench/results/``; the metric
definitions and the per-layer to end-to-end mapping are in BENCHMARK.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "airflow_cms_inpatient_etl_spark"
SETUP_CYCLES = 3
MIN_PASSES = 2
# a timed pass is disturbed when the hypervisor gave other guests more than
# this share of the box's CPU time while it ran; quiet passes here lose under
# 1%, and passes that lost 5-30% took 20-70% longer
STEAL_LIMIT = 0.025
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


class Bench:
    def __init__(self, spec, seed: int, work: str) -> None:
        self.spec = spec
        self.seed = seed
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed: list[str] = []

    # ------------------------------------------------------------ session
    def start_session(self, event_log: bool = False):
        from airflow_cms_inpatient_etl_spark import session

        conf = {
            # a fixed, pre-touched heap: the JVM's resident heap no longer
            # depends on when the collector chose to grow it; peak_mem_mb
            # leaves it out and counts the blocks stored in it instead.
            # One collector thread: a parallel collector's pauses wait for
            # its slowest thread, which other tenants' load stretches.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work}/tmp -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:+UseSerialGC"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": f"file://{self.work}/eventlog",
                }
            )
        spark = session.get_spark(app_name=f"perfbench-{self.spec.name}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session, the JVM and its Python workers; wait for them."""
        from pyspark import SparkContext

        try:
            self.stop_session()
        except Exception:  # the JVM may be gone already; it is still reaped below
            log(traceback.format_exc())
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)

    # -------------------------------------------------------------- phases
    def setup(self, cycles: int) -> tuple[float, list[float], dict]:
        """JVM launch (timed apart: it is the JDK's start-up, not the
        program's), then ``cycles`` session restarts plus input generation."""
        import workloads

        t0 = time.perf_counter()
        self.spark = self.start_session()
        launch_s = time.perf_counter() - t0
        times, inputs = [], None
        for cycle in range(cycles):
            t0 = time.perf_counter()
            self.stop_session()
            self.spark = self.start_session()
            in_dir = os.path.join(self.work, f"inputs{cycle}")
            inputs = workloads.make_inputs(self.spec, in_dir, self.seed)
            times.append(time.perf_counter() - t0)
            if cycle:
                shutil.rmtree(os.path.join(self.work, f"inputs{cycle - 1}"))
        return launch_s, times, inputs

    def check_pass(self, runner) -> dict[str, float]:
        import workloads

        con = workloads.duck_for(self.spec, runner.inputs)
        took = {}
        try:
            for op in self.spec.ops:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    workloads.check(self.spark, self.spec, runner, op, con)
                except Exception as exc:  # a failed check is a result, not a crash
                    self.failed.append(f"check {op}: {exc!r}")
                    log(traceback.format_exc())
                took[op] = time.perf_counter() - t0
        finally:
            con.close()
        return took

    def timed(self, runner, passes: int, on_op=None, max_s: float | None = None) -> dict:
        """Closed loop: full passes, one operation at a time.

        Without ``max_s``, exactly ``passes`` passes.  With it, passes go on
        until ``passes`` of them were undisturbed (the hypervisor gave other
        guests at most ``STEAL_LIMIT`` of the box's CPU time while they ran)
        or ``max_s`` have gone by; no pass past ``MIN_PASSES`` starts after
        that."""
        import procstat

        root = self.jvm_pid()
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
        storage_used = jvm.org.apache.spark.SparkEnv.get().memoryManager().storageMemoryUsed
        sampler = procstat.Sampler(root, heap, storage_used).start()
        members0 = procstat.tree(root)
        cpus = len(os.sched_getaffinity(0))
        cpu_marks = [procstat.cpu_s(members0)]
        jit_marks = [procstat.jit_cpu_s(root)]
        py_cpu0 = procstat.cpu_s(procstat.workers(members0, root))
        host_marks = [(*procstat.host_cpu_s(), time.process_time())]
        samples, pass_s, names, undisturbed = [], [], [], 0
        start = time.perf_counter()
        for p in itertools.count():
            p0 = time.perf_counter()
            if max_s is None and p == passes:
                break
            if max_s is not None and p >= passes and (undisturbed >= passes or p0 - start > max_s):
                break
            if max_s is not None and p >= MIN_PASSES and p0 - start > max_s:
                break
            for op in self.spec.ops:
                self.attempted += 1
                t0 = time.perf_counter()
                ctx = on_op(op, p) if on_op else None
                names.append(op)
                try:
                    build_s, action_s = runner.run(self.spark, op, ctx and ctx.built)
                    samples.append(time.perf_counter() - t0)
                except Exception as exc:  # counted as failed and as an unbounded latency
                    self.failed.append(f"pass {p} {op}: {exc!r}")
                    log(traceback.format_exc())
                    samples.append(float("inf"))
                    build_s = action_s = float("nan")
                if ctx:
                    ctx.done(build_s, action_s)
            pass_s.append(time.perf_counter() - p0)
            cpu_marks.append(procstat.cpu_s(procstat.tree(root)))
            jit_marks.append(procstat.jit_cpu_s(root))
            host_marks.append((*procstat.host_cpu_s(), time.process_time()))
            undisturbed += host_marks[-1][1] - host_marks[-2][1] <= STEAL_LIMIT * cpus * pass_s[-1]
        sampler.stop()
        members1 = procstat.tree(root)
        cpu = [b - a for a, b in zip(cpu_marks, cpu_marks[1:])]
        jit = [b - a for a, b in zip(jit_marks, jit_marks[1:])]
        return {
            "samples": samples,
            "sample_ops": names,
            "pass_s": pass_s,
            # the JIT's compile time is left out: after warm-up it still falls
            # from pass to pass and varies between runs far more than the rest
            "pass_cpu_s": [c - j for c, j in zip(cpu, jit)],
            "pass_jit_cpu_s": jit,
            # CPU stolen by other guests, and CPU used by processes outside
            # this run (host busy time minus the Spark tree and this client)
            "pass_steal_s": [b[1] - a[1] for a, b in zip(host_marks, host_marks[1:])],
            "pass_others_cpu_s": [
                (b[0] - a[0]) - c - (b[2] - a[2]) for a, b, c in zip(host_marks, host_marks[1:], cpu)
            ],
            "python_cpu_s": (procstat.cpu_s(procstat.workers(members1, root)) - py_cpu0) / len(pass_s),
            "workers_started": len(sampler.worker_pids - set(members0)) / len(pass_s),
            "peak_mem_mb": sampler.peak_mem / 2**20,
            "storage_peak_mb": sampler.peak_storage / 2**20,
        }


def metric_units(kind: str) -> dict[str, str]:
    """Names and units of the ``end_to_end`` or ``per_layer`` metrics, from
    BENCHMARK.json: the one list of what a run prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def least_disturbed(t: dict, passes: int) -> list[int]:
    """Indices of the ``passes`` timed passes with the least steal per
    second, in run order."""
    by_steal = sorted(range(len(t["pass_s"])), key=lambda i: t["pass_steal_s"][i] / t["pass_s"][i])
    return sorted(by_steal[:passes])


def end_to_end(inputs: dict, setup_s: list[float], t: dict, used: list[int]) -> dict:
    ops = len(t["samples"]) // len(t["pass_s"])
    pass_s = statistics.median(t["pass_s"][i] for i in used)
    return {
        "setup_s": statistics.median(setup_s),
        "pass_s": pass_s,
        "op_p50_s": statistics.median(x for i in used for x in t["samples"][i * ops : (i + 1) * ops]),
        "input_rows_per_s": inputs["rows"] / pass_s,
        "cpu_s": statistics.median(t["pass_cpu_s"][i] for i in used),
        "peak_mem_mb": t["peak_mem_mb"],
    }


class OpTrace:
    """Per-operation hooks for the traced half: job group, window, build jobs."""

    def __init__(self, bench, spans, ops: list, op: str, pass_no: int) -> None:
        from layers import OpWindow

        self.sc = bench.spark.sparkContext
        self.window = OpWindow(len(ops), op, f"perfbench-{len(ops)}", time.time(), 0.0, pass_no)
        ops.append(self.window)
        spans.current_op = self.window.index
        self.sc.setJobGroup(self.window.group, op)

    def built(self) -> None:
        self.window.build_jobs = len(self.sc.statusTracker().getJobIdsForGroup(self.window.group))

    def done(self, build_s: float, action_s: float) -> None:
        self.window.end = time.time()
        self.window.build_s, self.window.action_s = build_s, action_s
        self.sc.setLocalProperty("spark.jobGroup.id", None)  # type: ignore[arg-type]


def run_traced(bench, runner, passes: int) -> tuple[dict, list]:
    """Half the passes untraced, then a fresh traced session with one warm-up
    pass for the other half; layer metrics per pass plus the measured tracing
    overhead."""
    import layers as L

    half = max(2, -(-passes // 2))
    plain = bench.timed(runner, half)
    bench.stop_session()
    spans, probe, ops = L.Spans(), L.StreamProbe(), []
    spans.install()
    try:
        bench.spark = bench.start_session(event_log=True)
        bench.spark.streams.addListener(probe)
        bench.timed(runner, 1)  # untimed, like the warm-up the untraced half had
        traced = bench.timed(runner, half, on_op=lambda op, p: OpTrace(bench, spans, ops, op, p))
        bench.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        bench.spark.streams.removeListener(probe)
        bench.stop_session()  # closes and flushes the event log
    finally:
        spans.uninstall()
    layers, per_op = L.layer_metrics(ops, L.EventLog(f"{bench.work}/eventlog"), spans.spans, probe)
    inputs = runner.inputs
    layers["session.get_spark_s"] = sum(s.end - s.start for s in spans.spans if s.name == "session.get_spark")
    layers["sources.files.scan_amplification"] = layers["sources.files.csv_scan_bytes"] / inputs["bytes"]
    layers["sources.files.bytes_written_per_input_byte"] = layers["sources.files.bytes_written"] / inputs["bytes"]
    layers["python.worker_cpu_s"] = traced["python_cpu_s"]
    layers["python.workers_started"] = traced["workers_started"]
    layers["mem.storage_peak_mb"] = traced["storage_peak_mb"]
    layers["trace.pass_s"] = statistics.median(traced["pass_s"])
    layers["trace.overhead_s"] = layers["trace.pass_s"] - statistics.median(plain["pass_s"])
    return layers, per_op


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"{PACKAGE}/ not found next to perfbench/: run from a full checkout")
        return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    spec = workloads.WORKLOADS[args.workload]
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)  # anything else printed to stdout goes to stderr

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{spec.name}-{args.seed}-", dir=os.path.join(HERE, ".work"))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    cpus = len(os.sched_getaffinity(0))
    # Spark gets half the cores: the other half takes the JVM's scheduler,
    # compiler and collector threads, this client and the Python workers, so
    # a pass does not wait on tasks descheduled by the program's own threads
    # or by other tenants (with all cores, another tenant's two busy threads
    # slowed an etl_claims pass by 40%; with half, by 10%)
    cores = max(1, cpus // 2)
    context = {
        "workload": spec.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "spark_cores": cores,
        "SPARK_GRAFT_CPUS_env": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": loadavg(),
        "python": platform.python_version(),
    }
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]  # the package; the oracle comparison
    os.chdir(work)

    import duckdb
    import pyspark

    context.update(pyspark=pyspark.__version__, duckdb=duckdb.__version__)
    bench = Bench(spec, args.seed, work)
    passes = max(MIN_PASSES, round(args.seconds / spec.nominal_pass_s))
    detail: dict = {"context": context}
    try:
        launch_s, setup_s, inputs = bench.setup(1 if args.trace else SETUP_CYCLES)
        context["jdk"] = bench.spark.sparkContext._jvm.System.getProperty("java.version")
        detail["inputs"] = {k: v for k, v in inputs.items() if not k.endswith(("_csv", "_dir"))}
        detail["jvm_launch_s"] = launch_s
        detail["setup_cycles_s"] = setup_s
        runner = workloads.Runner(spec, inputs, work)
        detail["check_s"] = bench.check_pass(runner)
        warmup = max(spec.warmup_passes, args.trace)  # the untraced half needs a warm JIT too
        if warmup:
            bench.timed(runner, warmup)  # untimed: let the JIT settle
        if args.trace:
            metrics, detail["per_op"] = run_traced(bench, runner, passes)
        else:
            t = bench.timed(runner, passes, max_s=2 * args.seconds)
            used = least_disturbed(t, passes)
            metrics = end_to_end(inputs, setup_s, t, used)
            context["steal_s_timed"] = sum(t["pass_steal_s"])  # host interference while timing
            detail.update({k: t[k] for k in ("pass_s", "pass_cpu_s", "pass_jit_cpu_s", "pass_steal_s", "pass_others_cpu_s")})
            detail.update(samples=list(zip(t["sample_ops"], t["samples"])), passes_used=used)
    finally:
        try:
            bench.shutdown()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
    context["loadavg_after"] = loadavg()
    context["git_rev"] = _git_rev()
    detail["failed"] = bench.failed
    units = metric_units("per_layer" if args.trace else "end_to_end")
    result = {
        "correct": not bench.failed,
        "attempted": bench.attempted,
        "failed": len(bench.failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    detail["result"] = result
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", f"{spec.name}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for f in bench.failed:
        log(f"FAILED {f}")
    print(json.dumps(result), file=result_out, flush=True)
    return 0


def _git_rev() -> str | None:
    """The checkout's git revision, or None outside a git work tree (git is
    kept from searching the directories above the checkout)."""
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10, env=env
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


if __name__ == "__main__":
    sys.exit(main())
