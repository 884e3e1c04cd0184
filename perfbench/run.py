"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload asof_skew --seed 1 --seconds 10 --trace 0

Run from the repository root. The runner imports ``feature_extractor_spark``
from the working directory and times it from outside; it changes no
program code. Inputs come from the seed, are written as parquet under
``.perfbench/`` and read back by the program through a file scan.

``--trace 0`` measures end-to-end metrics. Set-up starts the session,
writes the inputs and runs the workload's set-up step, if it has one
(``curate_ingest`` ingests batch 0, which builds the index). Then
repetitions run back to back until ``--seconds`` have passed, at least
one; each metric is the median over them. The first timed repetition runs
in a fresh session, as a batch job submitted on its own does: its JIT
warm-up and Python worker start are part of the job. ``--trace 1`` is the
separate traced run: set-up, one untimed warm repetition, then a traced
and an untraced repetition with the Spark event log on; it reports
per-layer metrics and the tracing overhead (the traced repetition's wall
time against the untraced one).

Every repetition's committed output is checked against an independent
reference; a failed check or an exception counts the repetition as failed.
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the full result, with the
environment fingerprint and (traced) the spans, is saved under
``.perfbench/results/``. Exit status 1 when any repetition failed.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

# one BLAS thread per process, set before NumPy loads: the same setting
# session.get_spark gives the Python workers, so the driver-side kernel
# probe measures one core
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

DRIVER_MEM = "2g"


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass  # the process ended while we looked
    return out


def descendants(root: int, parent: dict[int, int] | None = None) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in (parent or _ppid_map()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants: the Python
    driver, the Spark JVM and the Python workers. A child of the JVM that
    still runs the JVM's executable is a fork about to exec a helper; it
    shares the JVM's pages, so counting it would count the JVM twice.
    (Reading ``/proc/<pid>/statm`` costs microseconds; the proportional
    ``smaps_rollup`` took 34 ms per read of the busy JVM and slowed it.)"""
    parent = _ppid_map()
    pages = 0
    for pid in [os.getpid(), *descendants(os.getpid(), parent)]:
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            if exe.endswith("/java") and exe == os.readlink(f"/proc/{parent[pid]}/exe"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            pass  # the process ended while we looked
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


class PeakMemory:
    """Peak of the process tree's memory, sampled every ``interval`` seconds
    while a ``sampling()`` block runs: the program's calls, not the
    benchmark's own checks."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            if self._active.is_set():
                self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.interval)

    @contextlib.contextmanager
    def sampling(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self.peak = max(self.peak, tree_rss_mb())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def fingerprint(root: str, spark, seed: int, input_bytes: int, n_rows: dict) -> dict:
    import numpy
    import pandas
    import pyarrow

    head = None
    git = os.path.join(root, ".git")
    if os.path.isfile(os.path.join(git, "HEAD")):
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            ref = os.path.join(git, head[5:])
            if os.path.isfile(ref):
                with open(ref) as f:
                    head = f.read().strip()
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    jvm = spark.sparkContext._jvm.System
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": head,
        "seed": seed,
        "input_bytes": input_bytes,
        "input_rows": n_rows,
        "env": {k: os.environ.get(k)
                for k in ("SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS")},
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it and for
    every Python worker to exit."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = gateway.proc
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    alive = procs
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def run(args, root: str, work: str, run_id: str) -> tuple:
    """Set up, run the repetitions, stop Spark. Returns (metrics, attempted,
    failed, fingerprint, extra)."""
    import spans
    from workloads import WORKLOADS

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything Spark, the JVM and Python write stays inside the checkout
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    from feature_extractor_spark.session import get_spark

    attempted = failed = 0
    walls: dict[str, float] = {}
    windows: dict[str, tuple[float, float]] = {}
    results: dict[str, dict] = {}
    peak = PeakMemory()
    t0 = time.time()
    spark = get_spark(f"perfbench-{args.workload}",
                      cores=len(os.sched_getaffinity(0)), extra_conf=conf)
    try:
        session_start_s = time.time() - t0
        wl = WORKLOADS[args.workload](args.seed, work)
        input_bytes = wl.write_inputs()
        tracer = spans.Tracer(spark, run_id)

        def repetition(rep_id: str, traced: bool = False, sampled: bool = False,
                       step=wl) -> None:
            nonlocal attempted, failed
            attempted += 1
            out_dir = os.path.join(work, "out", rep_id)
            try:
                with tracer.patched(wl.patch_targets() if traced else []):
                    with tracer.repetition(rep_id, traced):
                        with peak.sampling() if sampled else contextlib.nullcontext():
                            start, t = time.time(), time.perf_counter()
                            res = step.rep(spark, tracer, out_dir)
                            wall = time.perf_counter() - t
                errors = step.check(out_dir, res)
            except Exception:
                traceback.print_exc()
                errors = ["repetition raised"]
            if errors:
                failed += 1
                print(f"repetition {rep_id} FAILED: " + "; ".join(errors), file=sys.stderr)
                return
            walls[rep_id], results[rep_id] = wall, res
            windows[rep_id] = (start, start + wall)

        if wl.setup_step is not None:
            repetition("setup", step=wl.setup_step)
        setup_s = time.time() - T_START
        metrics: dict[str, float] = {}
        extra: dict = {}
        if not args.trace:
            timed = []
            with peak:
                t_timed = time.time()
                # a second repetition only when the first took less than
                # --seconds; on the reference VM every run makes one (README)
                while not timed or (time.time() - t_timed < args.seconds and not wl.exhausted()):
                    timed.append(f"r{len(timed)}")
                    repetition(timed[-1], sampled=True)
            timed = [r for r in timed if r in walls]
            extra["rep_walls_s"] = [walls[r] for r in timed]
            if timed:
                rates = [wl.rates(results[r], walls[r]) for r in timed]
                metrics = {k: statistics.median(x[k] for x in rates) for k in rates[0]}
                metrics.update(setup_s=setup_s, peak_rss_mb=peak.peak)
        else:
            repetition("warm")
            # the untraced reference runs after the traced repetition: the
            # JIT is still warming, so this overstates the overhead a little
            # rather than hiding it (a growing ingest index works the other
            # way). A reference on both sides would push the token
            # workload's traced run toward the 180 s limit.
            repetition("traced", traced=True)
            repetition("base")
        fp = fingerprint(root, spark, args.seed, input_bytes,
                         {t: len(df) for t, df in wl.data["tables"].items()})
    finally:
        stop_spark(spark)

    if args.trace and {"base", "traced"} <= set(walls):
        log = spans.read_event_log(log_dir)
        base = spans.job_stats(log, "base")
        metrics = {
            "session.start_s": session_start_s,
            "session.jobs": base["jobs"],
            "session.stages": base["stages"],
            "session.tasks": base["tasks"],
            "session.driver_gap_s": spans.idle_seconds(*windows["base"], base["intervals"]),
            "session.gc_s": base["gc_s"],
            "session.spill_mb": base["spill_mb"],
            "trace.overhead_s": walls["traced"] - walls["base"],
            "trace.overhead_ratio": walls["traced"] / walls["base"] - 1.0,
        }
        metrics.update(wl.layer_metrics(tracer, log, "traced", results["traced"],
                                        os.path.join(work, "out", "traced"), "base"))
        extra = {"self_s": tracer.self_times("traced"), "spans": tracer.spans}
    return metrics, attempted, failed, fp, extra


def report(spec: dict, args, results_dir: str, metrics: dict, attempted: int,
           failed: int, fp: dict, extra: dict) -> int:
    """Print the human-readable table and the final JSON line; save the
    full result. Metrics of layers a workload never calls read 0."""
    kind = "per_layer" if args.trace else "end_to_end"
    out = {
        m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[kind]
    }
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    for name, v in out.items():
        print(f"  {name:<40} {v['value']:>14.6g} {v['unit']}")
    print(f"  {'error_rate':<40} {failed / max(attempted, 1):>14.6g} ratio "
          f"({failed} of {attempted} repetitions)")
    for layer, s in sorted(extra.get("self_s", {}).items()):
        print(f"  self time {layer:<30} {s:>14.6g} s")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
    os.makedirs(results_dir, exist_ok=True)
    path = os.path.join(
        results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    with open(path, "w") as f:
        json.dump({**result, "workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "seconds": args.seconds, "finished_at": time.time(),
                   "fingerprint": fp, **extra}, f, indent=1)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "feature_extractor_spark", "__init__.py")):
        print("run.py: run from the repository root (feature_extractor_spark/ "
              "not found in the working directory)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"run.py: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{run_id}")
    try:
        metrics, attempted, failed, fp, extra = run(args, root, work, run_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return report(spec, args, os.path.join(base, "results"), metrics, attempted,
                  failed, fp, extra)


if __name__ == "__main__":
    sys.exit(main())
