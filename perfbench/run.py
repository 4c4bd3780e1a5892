"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload ventas_pipeline --seed 1 --seconds 12 --trace 0

Runs from the repository root. It prepares the workload's inputs
(``ventas.csv`` generated from the seed; the query workload reads fixed
fixture tables and uses the seed only for the op order), starts Spark
through the package's own session builder (``local[N]``, N = the CPUs
this process may use, or ``SPARK_GRAFT_CPUS``), runs untimed warm-up
ops, then runs ops in a closed loop (one client, one op at a time, in a
seed-permuted order per pass) until the timed op walls add up to
``--seconds`` and at least one full pass is done. Each op's output is
checked after its timed region.

``--trace 0`` prints the end-to-end metrics. ``setup_s`` is the median
of three set-ups (package import, ``get_spark``, registry import,
binding the workload): this process's own and two in fresh probe
processes started before it, each of which ends its JVM before the
next begins. ``--trace 1`` runs every op both plain and traced (spans
around the calls into each layer, job groups, the Spark event log) and
prints the per-layer metrics and the tracing overhead. The last stdout
line is a compact JSON summary; the full run record with every op goes
to ``perfbench/.work/results/<workload>-seed<seed>-trace<t>.json``.

Everything the run writes (inputs, Spark scratch space, event log,
temporary files) stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "dataframe_retail_e_inventarios_spark"
METHODOLOGY = "noop-v1"
OP_TIMEOUT_S = 60.0
# set-ups per measured run: this process and two probe processes
SETUP_SAMPLES = 3
DRIVER_MEM = "2g"

E2E_METRICS = {
    "setup_s": "s",
    "wall_s": "s",
}
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "registry.import_s": "s",
    "sources.calls": "count",
    "sources.self_s": "s",
    "sources.cold_s": "s",
    "sources.jobs": "count",
    "plans.self_s": "s",
    "plans.jobs": "count",
    "spark.plan_s": "s",
    "spark.self_s": "s",
    "spark.job_busy_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.core_busy_ratio": "ratio",
    "python_worker.run_s": "s",
    "python_worker.start_init_s": "s",
    "python_worker.bytes_sent": "bytes",
    "python_worker.bytes_returned": "bytes",
    "trace.op_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}
# finer figures of the traced run, printed and recorded beside the
# layer metrics (most are zero on the workload that lacks the layer)
DETAIL_FIELDS = (
    "sources.load_table.calls",
    "sources.load_table_s",
    "sources.load_table.jobs",
    "plans.build_s",
    "plans.build.jobs",
    "spark.exec_s",
    "sources.read_csv_s",
    "sources.write_csv_s",
    "sources.write_csv.bytes",
    "plans.report_render.render_s",
    # task GC time reads 0 on most ventas runs, so it is not a layer metric
    "spark.jvm_gc_s",
)
# span name -> the field its self time is summed into, per traced op
SPAN_FIELDS = {
    "sources.load_table": "sources.load_table",
    "sources.read_csv": "sources.read_csv",
    "sources.write_csv": "sources.write_csv",
    "plans.build": "plans.build",
    "plans.report_render": "plans.report_render.render",
    "spark.plan": "spark.plan_span",
    "spark.exec": "spark.exec",
    "op": "trace.unattributed",
}


def cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.strip() else len(os.sched_getaffinity(0))


# ------------------------------------------------------------ processes

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class MemSampler(threading.Thread):
    """Peak memory of this process and all of its descendants (the JVM,
    the Python worker daemon and its forked workers), as the sum of
    their proportional set sizes, so pages a forked worker shares with
    its parent count once. Sampled from /proc every ``interval``
    seconds; the process tree is re-read every ``rescan`` samples."""

    def __init__(self, interval: float = 0.25, rescan: int = 4):
        super().__init__(daemon=True)
        self.interval = interval
        self.rescan = rescan
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def sample(pids: list[int]) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        n = 0
        while not self._stop_evt.is_set():
            if n % self.rescan == 0:
                pids = [os.getpid(), *descendants(os.getpid())]
            self.peak_bytes = max(self.peak_bytes, self.sample(pids))
            n += 1
            self._stop_evt.wait(self.interval)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=10)


def reap_descendants(timeout: float = 20.0) -> None:
    """Terminate whatever this process started that is still running,
    and wait until it has ended."""
    pids = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + timeout / 2
        while time.monotonic() < end:
            for p in pids:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            if not pids:
                return
            time.sleep(0.1)


# -------------------------------------------------------------- session

def prepare_env(work: Path, trace: bool) -> Path | None:
    """Point every scratch location at ``work`` and put the repository
    root on the driver's and the Python workers' import path (a worker
    started outside the repository root cannot otherwise unpickle the
    package's UDFs)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), path) if p)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
        "spark.ui.showConsoleProgress=false",
    ]
    log_dir = None
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={log_dir.as_uri()}",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"
    return log_dir


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------- the loop

def run_op(wl, spark, name: str, op_id: str, tracer) -> dict:
    sc = spark.sparkContext
    sc.addJobTag(op_id)
    fired = threading.Event()

    def cancel():
        fired.set()
        sc.cancelJobsWithTag(op_id)

    watchdog = threading.Timer(OP_TIMEOUT_S, cancel)
    watchdog.start()
    error, handle = None, None
    wl.untimed_s = 0.0
    t = time.perf_counter()
    try:
        with tracer.span("op", op=op_id, query=name) if tracer else nullcontext():
            handle = wl.run_op(spark, name, tracer)
    except Exception as e:  # an op that raises is a failed op
        error = f"raised {e!r}"[:300]
    # the workload's own bookkeeping inside the op is not the program's time
    wall = time.perf_counter() - t - wl.untimed_s
    watchdog.cancel()
    sc.removeJobTag(op_id)
    if fired.is_set():
        error = f"timed out after {OP_TIMEOUT_S:.0f} s"
    reason = error
    t_check = time.perf_counter()
    if error is None:
        try:
            with tracer.span("verify", op=op_id) if tracer else nullcontext():
                reason = wl.check(spark, name, handle)
        except Exception as e:  # a check that cannot run fails the op
            reason = f"check raised {e!r}"[:300]
    rec = {"op": op_id, "name": name, "wall_s": wall, "traced": tracer is not None,
           "ok": reason is None, "reason": reason, "check_s": time.perf_counter() - t_check}
    if handle is not None:
        rec.update(wl.extra(name, handle))
    return rec


def measure(wl, spark, seconds: float, seed: int, tracer=None) -> tuple[list[dict], float]:
    """Warm up, then run ops until their timed walls add up to
    ``seconds`` and one pass is complete. With a tracer, each op runs
    plain and traced back to back, alternating which goes first.
    Returns the measured ops and the time the first measured op began."""
    rng = random.Random(seed)
    for p in range(wl.warmup_passes):
        for i, name in enumerate(wl.names):
            run_op_quiet(wl, spark, name, f"w{p}.{i}", tracer)
    first = time.perf_counter()
    ops: list[dict] = []
    timed, passes, n = 0.0, 0, 0
    while passes < 1 or timed < seconds:
        order = list(wl.names)
        rng.shuffle(order)
        for name in order:
            if passes >= 1 and timed >= seconds:
                break
            modes = [None] if tracer is None else ([None, tracer] if n % 2 == 0 else [tracer, None])
            for mode in modes:
                rec = run_op(wl, spark, name, f"{'t' if mode else 'u'}{n}", mode)
                ops.append(rec)
                timed += rec["wall_s"]
            n += 1
        else:
            passes += 1
    return ops, first


def run_op_quiet(wl, spark, name, op_id, tracer) -> None:
    """Warm-up op: untimed, unchecked; spans (if any) are kept so the
    first touch of each source is on record."""
    try:
        with tracer.span("op", op=op_id, query=name, warmup=True) if tracer else nullcontext():
            wl.run_op(spark, name, tracer)
    except Exception as e:
        print(f"warm-up op {name} raised {e!r}"[:300], file=sys.stderr)


# -------------------------------------------------------------- metrics

def end_to_end(ops: list[dict], setup_s: float, peak_mem: int) -> tuple[dict, dict]:
    """The end-to-end metrics, and the figures printed and recorded
    beside them (op count, tail, failed-op ratio, series per second)."""
    from workloads import per_name_medians, tail

    walls = [o["wall_s"] for o in ops]
    medians = per_name_medians(ops, "wall_s").values()
    out = {
        "setup_s": setup_s,
        # one pass, each op at its median wall in the run
        "wall_s": sum(medians),
    }
    # reported beside the metrics: the median op of that pass is one
    # query's wall, and peak memory moves with JVM heap growth and the
    # number of live Python workers; both spread wider run to run than
    # the pass total
    extra = {"op_p50_s": statistics.median(medians), "peak_pss_mb": peak_mem / 2**20,
             "op_samples": len(walls), "op_tail": tail(walls),
             "failed_ops_ratio": sum(not o["ok"] for o in ops) / len(ops)}
    series = sum(o.get("series", 0) for o in ops if o["ok"])
    if series:
        extra["series_per_s"] = series / sum(o["wall_s"] for o in ops if o["ok"])
    return out, extra


def layer_metrics(ops: list[dict], spans: list[dict], totals: dict, n_cpus: int) -> tuple[dict, dict]:
    """Per-op layer figures for every traced op (written into the op
    records), and their per-pass sums (each query at its median): the
    layer metrics, and the finer per-span figures beside them."""
    from tracing import self_times, union_seconds
    from workloads import per_name_median_sum

    selfs = self_times(spans)
    by_op: dict[str, list[dict]] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for o in ops:
        if not o["traced"]:
            continue
        mine = [s for s in by_op.get(o["op"], []) if s["name"] != "verify"]
        root = next(s for s in mine if s["name"] == "op")
        o["wall_s"] = root["end"] - root["start"] - sum(
            s["end"] - s["start"] for s in mine if s["name"].startswith("bench."))
        for field in SPAN_FIELDS.values():
            o[f"{field}_s"] = 0.0
        o["sources.load_table.calls"] = 0
        for s in mine:
            field = SPAN_FIELDS.get(s["name"])
            if field:
                o[f"{field}_s"] += selfs[s["id"]]
            if s["name"] == "sources.load_table":
                o["sources.load_table.calls"] += 1
            if s["name"] == "spark.plan":
                o["spark.plan_s"] = o.get("spark.plan_s", 0.0) + s["attrs"]["tracker_s"]
        layer = lambda p: sum(selfs[s["id"]] for s in mine if s["name"].startswith(p))  # noqa: E731
        o["sources.self_s"] = layer("sources.")
        o["plans.self_s"] = layer("plans.")
        o["spark.self_s"] = layer("spark.")
        o["sources.calls"] = sum(s["name"].startswith("sources.") for s in mine)
        groups = {g: t for g, t in totals.items()
                  if g and g.split("|")[0] == o["op"] and g.split("|")[1] != "verify"}
        per_layer_jobs = lambda p: sum(t["spark.jobs"] for g, t in groups.items()  # noqa: E731
                                       if g.split("|")[1].startswith(p))
        o["sources.jobs"] = per_layer_jobs("sources.")
        o["sources.load_table.jobs"] = per_layer_jobs("sources.load_table")
        o["plans.jobs"] = per_layer_jobs("plans.")
        o["plans.build.jobs"] = per_layer_jobs("plans.build")
        for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
                    "spark.executor_cpu_s", "spark.jvm_gc_s", "spark.shuffle_read_bytes",
                    "spark.shuffle_write_bytes", "spark.spill_bytes", "python_worker.run_s",
                    "python_worker.start_init_s", "python_worker.bytes_sent",
                    "python_worker.bytes_returned"):
            o[key] = sum(t.get(key, 0) for t in groups.values())
        o["spark.job_busy_s"] = union_seconds(
            [iv for t in groups.values() for iv in t.get("job_intervals", [])])
        o["spark.core_busy_ratio"] = o["spark.executor_run_s"] / (o["wall_s"] * n_cpus)
        o["self_time_coverage"] = 1.0 - o["trace.unattributed_s"] / o["wall_s"]

    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    out = {}
    for key in LAYER_METRICS:
        if key in traced[0]:
            out[key] = per_name_median_sum(traced, key)
    out["trace.op_wall_s"] = per_name_median_sum(traced, "wall_s")
    out["trace.overhead_s"] = out["trace.op_wall_s"] - per_name_median_sum(plain, "wall_s")
    out["spark.core_busy_ratio"] = (sum(o["spark.executor_run_s"] for o in traced)
                                    / (sum(o["wall_s"] for o in traced) * n_cpus))
    cold = [s for s in spans if s["name"].startswith("sources.") and s["attrs"].get("cold")]
    out["sources.cold_s"] = sum(selfs[s["id"]] for s in cold)
    detail = {k: per_name_median_sum(traced, k) for k in DETAIL_FIELDS}
    detail["sources.load_table_cold_s"] = sum(
        selfs[s["id"]] for s in cold if s["name"] == "sources.load_table")
    detail["trace.min_self_time_coverage"] = min(o["self_time_coverage"] for o in traced)
    return out, detail


# ------------------------------------------------------------- record

def cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor gave to others."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def git_commit() -> str | None:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if not ref.startswith("ref: "):
            return ref
        path = ROOT / ".git" / ref[5:]
        if path.exists():
            return path.read_text().strip()
        for line in (ROOT / ".git" / "packed-refs").read_text().splitlines():
            if line.endswith(ref[5:]):
                return line.split()[0]
    except OSError:
        pass
    return None


def unit_of(name: str) -> str:
    """Unit of a printed figure outside the declared metrics."""
    if name.endswith((".calls", ".jobs")):
        return "count"
    if name.endswith(".bytes"):
        return "bytes"
    if name.endswith("_per_s"):
        return "1/s"
    return "s" if name.endswith("_s") or name.startswith("op_tail_s") else ""


def summary_line(correct: bool, ops: list[dict], metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": sum(not o["ok"] for o in ops),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }, separators=(",", ":"))


def start(wl, workload: str, n_cpus: int):
    """The program's set-up, timed: package import, ``get_spark``,
    ``registry.queries()`` import, and binding the workload to the
    session. Returns the session and the three times."""
    t0 = time.perf_counter()
    from dataframe_retail_e_inventarios_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}", cpus=n_cpus)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    t = time.perf_counter()
    from dataframe_retail_e_inventarios_spark.registry import queries

    queries()
    import_s = time.perf_counter() - t
    wl.bind(spark)
    return spark, get_spark_s, import_s, time.perf_counter() - t0


def setup_probe(args, work: Path) -> float:
    """One set-up in a fresh process (``--setup-probe``), which ends
    its JVM before it exits; returns its set-up time."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--setup-probe", str(work)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=OP_TIMEOUT_S * 2)
    if out.returncode != 0:
        raise RuntimeError(f"set-up probe failed:\n{out.stderr[-2000:]}")
    return float(out.stdout.strip().splitlines()[-1])


def probe_main(args) -> int:
    from workloads import WORKLOADS

    work = Path(args.setup_probe)
    stop_on_sigterm(work)
    try:
        prepare_env(work, trace=False)
        setup_s = start(WORKLOADS[args.workload](), args.workload, cpus())[3]
    finally:
        # the probe ran nothing: its JVM is terminated, not stopped
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
    print(setup_s)
    return 0


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-probe", metavar="WORKDIR", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def stop_on_sigterm(work: Path) -> None:
    """A terminated run stops every process it started (the JVM, probe
    processes and theirs), waits for them, removes its scratch space
    and exits. Raising out of the signal handler instead can leave the
    Py4J client mid-call and the clean-up deadlocked on it."""

    def terminate(*_):
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(143)

    signal.signal(signal.SIGTERM, terminate)


def main(argv=None) -> int:
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    if args.setup_probe:
        return probe_main(args)
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    work = HERE / ".work" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    stop_on_sigterm(work)
    results_dir = HERE / ".work" / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    load_before, cpu_before = os.getloadavg(), cpu_times()
    spark = None
    sampler = MemSampler()
    try:
        log_dir = prepare_env(work, bool(args.trace))
        t = time.perf_counter()
        inputs = wl.prepare(str(work / "inputs"), args.seed)
        gen_s = time.perf_counter() - t
        # the other set-up samples, each in a fresh process, before this
        # process starts its own JVM
        setups = [] if args.trace else [setup_probe(args, work / f"probe{i}")
                                        for i in range(SETUP_SAMPLES - 1)]

        sampler.start()
        n_cpus = cpus()
        spark, get_spark_s, import_s, setup_own = start(wl, args.workload, n_cpus)
        setups.insert(0, setup_own)
        setup_s = statistics.median(setups)

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark.sparkContext)
            undo = wl.install(tracer)
        ready = time.perf_counter()
        ops, first = measure(wl, spark, args.seconds, args.seed, tracer)
        warmup_s = first - ready
        if tracer is not None:
            for u in undo:
                u()
        versions = {
            "spark": spark.version,
            "python": platform.python_version(),
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        }
        stop_spark(spark)
        spark = None
        sampler.stop()

        if args.trace:
            from tracing import read_events, totals_by_group

            metrics, detail = layer_metrics(
                ops, tracer.spans, totals_by_group(read_events(str(log_dir))), n_cpus)
            metrics["session.get_spark_s"] = get_spark_s
            metrics["registry.import_s"] = import_s
            units = LAYER_METRICS
        else:
            metrics, detail = end_to_end(ops, setup_s, sampler.peak_bytes)
            detail["warmup_s"] = warmup_s
            units = E2E_METRICS
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)

    correct = all(o["ok"] for o in ops)
    record = {
        "methodology": METHODOLOGY,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "loop": "closed, one client, ops in sequence",
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_cores": n_cpus,
        "load_avg_before": load_before,
        "load_avg_after": os.getloadavg(),
        "cpu_steal_share": steal_share(cpu_before, cpu_times()),
        "versions": versions,
        "git_commit": git_commit(),
        "inputs": inputs,
        "input_gen_s": gen_s,
        "setup_samples_s": setups,
        "warmup_s": warmup_s,
        "session.get_spark_s": get_spark_s,
        "registry.import_s": import_s,
        "metrics": metrics,
        "detail": detail,
        "ops": ops,
    }
    if args.trace:
        record["spans"] = tracer.spans
    out = results_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, indent=1, default=str))

    print(f"workload {args.workload}  seed {args.seed}  cores {n_cpus}  ops {len(ops)}  "
          f"methodology {METHODOLOGY}  record {out.relative_to(ROOT)}")
    shown = metrics | {k: v for k, v in detail.items() if isinstance(v, (int, float))}
    tail = detail.get("op_tail")
    if tail:
        shown[f"op_tail_s (p{tail['percentile']}, {tail['beyond']} of {tail['samples']} beyond)"] = (
            tail["value"])
    for k, v in shown.items():
        print(f"  {k:58s} {v:14.4f} {units.get(k) or unit_of(k)}")
    for o in ops:
        if not o["ok"]:
            print(f"  FAILED {o['op']} {o['name']}: {o['reason']}")
    print(summary_line(correct, ops, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
