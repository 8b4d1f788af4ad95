"""Benchmark runner for warcsum_spark. See perfbench/README.md.

    python3 perfbench/run.py --workload warc_dedup --seed 1 --seconds 8 --trace 0

Runs one workload as a closed loop with one client on local[--cores]
(default: the host's core count) for --seconds of measured operations,
checks every output against the repo's oracles, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 a
separate traced pass gives the per-layer ones.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

import pandas as pd  # module level: the warm-up pandas_udf's hints resolve via globals

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("warc_dedup", "warc_unique", "frontier_crawl", "query_suite")
#: workloads that run the warc pipeline; a traced run profiles the warc
#: layers on the named one's archives, or on warc_dedup's
WARC = ("warc_dedup", "warc_unique")
SETUPS = 3
#: untimed operations before measuring (JIT, Python worker imports). A
#: count, not a time: every run measures from the same point of the JVM's
#: warm-up curve, however fast the host is that minute.
WARMUP_OPS = 6
#: a timed operation is quiet if the hypervisor stole at most this share of
#: the machine's CPU time during it (other guests of a shared host)
QUIET_STEAL = 0.05
#: quiet operations a measurement wants before it stops, and how many
#: times --seconds it may spend waiting for them: enough to outlast a short
#: burst of steal, bounded so that a run inside a long one still ends soon
MIN_QUIET = 3
MAX_SPAN = 2


# --- host noise and memory ------------------------------------------------------


def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                ppid = int(f.read().rsplit(b")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_cpu_s(pids: list[int]) -> float:
    """utime+stime of ``pids`` plus what they reaped from their children."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the machine since boot. Busy leaves out
    steal: time a hypervisor gave this machine's CPUs to another guest."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    idle = cpu[3] + (cpu[4] if len(cpu) > 4 else 0)
    steal = cpu[7] if len(cpu) > 7 else 0
    tick = os.sysconf("SC_CLK_TCK")
    return (sum(cpu[:8]) - idle - steal) / tick, steal / tick


class HostNoise:
    """CPU time the host spent outside this benchmark's process tree, and
    CPU time stolen from it by other guests of the hypervisor."""

    def __init__(self):
        self.busy0, self.steal0 = _host_cpu_s()
        self.tree0 = _tree_cpu_s(_tree_pids(os.getpid()))
        self.t0 = time.time()

    def record(self) -> dict:
        busy, steal = _host_cpu_s()
        busy, steal = busy - self.busy0, steal - self.steal0
        tree = _tree_cpu_s(_tree_pids(os.getpid())) - self.tree0
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_1min": os.getloadavg()[0],
            "wall_s": time.time() - self.t0,
            "host_cpu_s": busy,
            "tree_cpu_s": tree,
            "outside_cpu_s": max(0.0, busy - tree),
            "steal_cpu_s": steal,
        }


class MemorySampler:
    """Peak of the summed proportional set size (PSS) of this process tree:
    driver, JVM and Python workers. PSS splits pages shared between forked
    workers among them, so a page is counted once. Samples from a thread
    until ``stop``."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self.peak_by_proc: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total, by_proc = 0, {}
        for pid in _tree_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    kb = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except (OSError, StopIteration, IndexError, ValueError):
                continue
            total += kb * 1024
            by_proc[f"{pid}:{comm}"] = kb * 1024
        if total > self.peak:
            self.peak, self.peak_by_proc = total, by_proc

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def start(self) -> MemorySampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak / 1e6


# --- Spark session --------------------------------------------------------------


def _environment() -> None:
    """Keep every file Spark writes inside the checkout, and size the
    driver heap for a shared host (the engine's default assumes 48 GB)."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["WARCSUM_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("WARCSUM_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _warm_up(spark, cores: int) -> None:
    """First JVM job plus one Arrow UDF task per core, which spawns the
    Python worker pool."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.range(1000).count()

    @F.pandas_udf(T.LongType())
    def ident(x: pd.Series) -> pd.Series:
        return x

    spark.range(10_000).repartition(cores).select(ident("id")).write.format("noop").mode(
        "overwrite"
    ).save()


def set_up(cores: int, after_first=None):
    """``SETUPS`` set-ups in this process: the first launches the JVM, the
    later ones stop and restart the SparkContext inside it; ``after_first``
    runs between the first and the second. Returns the last session and
    per-set-up (get_spark_s, warmup_s)."""
    from warcsum_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a heap committed and touched up front: no heap-growth decisions
        # mid-run, so op times do not drift and peak RSS is repeatable
        "spark.driver.extraJavaOptions": " ".join((
            "-Xms" + os.environ["WARCSUM_DRIVER_MEM"],
            "-XX:+AlwaysPreTouch",
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        )),
    }
    times = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(cores=cores, app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        _warm_up(spark, cores)
        times.append((t1 - t0, time.perf_counter() - t1))
        if i == 0 and after_first is not None:
            after_first()
    return spark, times


def shut_down(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


# --- workloads ----------------------------------------------------------------


class Run:
    """Attempted/failed bookkeeping: an operation that raises or fails its
    output check counts as failed and the run goes on."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def attempt(self, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 — the loop must keep running
            self.failed += 1
            traceback.print_exc()
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"output check failed: {what}", file=sys.stderr)


def _quiet(sample) -> bool:
    wall, _, steal = sample
    return steal <= QUIET_STEAL * wall * len(os.sched_getaffinity(0))


def _loop(op, check, seconds: float, run: Run) -> tuple[list, int]:
    """``WARMUP_OPS`` untimed operations, then timed ones until ``seconds``
    of them are spent and ``MIN_QUIET`` of them were quiet, or until
    ``MAX_SPAN`` times ``seconds`` are spent. ``op()`` returns (wall, items);
    every output is checked. Returns per timed operation (wall, CPU seconds
    of this process tree, CPU seconds the hypervisor stole from the
    machine), and the items of one operation."""
    for _ in range(WARMUP_OPS):
        if run.failed > 3:
            break
        if run.attempt(op) is not None:
            run.check(check(), "warm-up output != oracle")
    samples, items = [], 0
    while run.failed <= 3:
        spent = sum(s[0] for s in samples)
        if spent >= MAX_SPAN * seconds or (
            spent >= seconds and sum(map(_quiet, samples)) >= MIN_QUIET
        ):
            break
        cpu0, steal0 = _tree_cpu_s(_tree_pids(os.getpid())), _host_cpu_s()[1]
        res = run.attempt(op)
        if res is not None:
            cpu, steal = _tree_cpu_s(_tree_pids(os.getpid())) - cpu0, _host_cpu_s()[1] - steal0
            samples.append((res[0], cpu, steal))
            items = res[1]
            run.check(check(), "output != oracle")
    return samples, items


def measure_warc(spark, inp, seconds, run: Run) -> dict:
    import workloads as w

    out = os.path.join(WORK, "out", "warc")
    samples, items = _loop(
        lambda: (w.warc_op(spark, inp, out), inp["lines"]),
        lambda: w.check_warc(out, inp), seconds, run,
    )
    return _result(samples, items, "digests_per_s", "pipeline_p50_s", "pipeline_runs")


def measure_crawl(spark, inp, seconds, run: Run) -> dict:
    import workloads as w

    out = os.path.join(WORK, "out", "frontier_crawl")
    # The timed operation is the crawl's last round, replayed from the state
    # it starts from: every sample does the same work, so how many fit into
    # --seconds on a given host does not change what the median is of. The
    # earlier rounds are untimed.
    crawl = run.attempt(w.crawl_to_last_round, spark, inp, out)
    if crawl is None:
        return _result([], 0, "urls_scheduled_per_s", "round_p50_s", "rounds")
    before, last = crawl.state, len(inp["rounds"]) - 1
    run.attempted += last - 1  # an operation is one round
    run.check(w.check_crawl(out, inp, range(last)), "frontier_crawl early rounds != oracle")
    samples, items = _loop(
        lambda: w.last_round_op(crawl, before),
        lambda: w.check_crawl(out, inp, {last}), seconds, run,
    )
    return _result(samples, items, "urls_scheduled_per_s", "round_p50_s", "rounds")


def _result(samples, items, rate_name, p50_name, count_name) -> dict:
    """Medians over the quiet timed operations or, if fewer than
    ``MIN_QUIET`` were quiet, over the half with the least stolen CPU. The
    rate is the items of one operation over the median wall."""
    if not samples:
        return {"metrics": {}, "samples": [], "human": {}}
    kept = [s for s in samples if _quiet(s)]
    if len(kept) < MIN_QUIET:
        kept = sorted(samples, key=lambda s: s[2] / s[0])[: (len(samples) + 1) // 2]
    p50 = statistics.median(s[0] for s in kept)
    rate = items / p50
    cpu = statistics.median(s[1] for s in kept)
    return {
        "metrics": {"items_per_s": rate, "op_p50_s": p50},
        "samples": samples,
        "human": {
            rate_name: (rate, "1/s"),
            p50_name: (p50, "s"),
            "op_cpu_s": (cpu, "s"),
            count_name: (len(samples), "count"),
            "quiet_" + count_name: (sum(map(_quiet, samples)), "count"),
        },
    }


def traced(spark, tracer, workload: str, inputs: dict, run: Run) -> dict:
    """Per-layer metrics. Every layer is profiled in every traced run (the
    warc layers on this seed's archives, the frontier layers on its web),
    so each per-layer metric is measured whichever workload is named;
    ``trace.overhead_frac`` is the named workload's traced wall over one
    warm untraced operation."""
    import workloads as w

    metrics: dict = {}
    for name, op, tr, check in (
        (_warc_of(workload), w.warc_op, w.trace_warc, w.check_warc),
        ("frontier_crawl", w.crawl_op, w.trace_crawl, w.check_crawl),
    ):
        out = os.path.join(WORK, "out", name)
        inp = inputs[name]
        # a warm-up, then for the named workload the untraced operation
        for _ in range(2 if name == workload else 1):
            res = run.attempt(op, spark, inp, out)
            if res is not None:
                run.check(check(out, inp), f"{name} untraced output != oracle")
        t = run.attempt(tr, spark, tracer, inp, out)
        if t is not None:
            run.check(t["ok"], f"{name} traced output != oracle")
            metrics.update(t["metrics"])
            if name == workload and res is not None:
                wall = res if isinstance(res, float) else res[0]
                metrics["trace.overhead_frac"] = t["wall_s"] / wall - 1
    return metrics


def _warc_of(workload: str) -> str:
    return workload if workload in WARC else "warc_dedup"


MEASURE = {"warc_dedup": measure_warc, "warc_unique": measure_warc, "frontier_crawl": measure_crawl}


def _prepare(names, seed: int) -> dict:
    """Inputs and oracle expectations of ``names``; cached per seed, so a
    second call reads what the first one built."""
    import workloads as w

    prep = {
        "warc_dedup": lambda: w.prepare_warc(WORK, seed),
        "warc_unique": lambda: w.prepare_warc(WORK, seed, dup_share=0.0),
        "frontier_crawl": lambda: w.prepare_crawl(WORK, seed),
    }
    return {n: prep[n]() for n in names}


# --- child processes ------------------------------------------------------------


def become_subreaper() -> None:
    """Make processes orphaned below this one (Python workers whose JVM
    has exited) its children, so ``reap_children`` can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(timeout: float = 30.0) -> None:
    """Wait until every process started below this one has ended; kill
    whatever is still running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _tree_pids(os.getpid())[1:]:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


# --- output -------------------------------------------------------------------


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _needed(args) -> tuple:
    """Workloads whose inputs this run uses: a traced run profiles both."""
    if args.workload == "query_suite":
        return ()
    return (_warc_of(args.workload), "frontier_crawl") if args.trace else (args.workload,)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=len(os.sched_getaffinity(0)),
        help="local[N] cores (default: the cores this process may use)",
    )
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        help="query_suite only: directory of the TESTDATA.md parquet tables",
    )
    ap.add_argument("--prepare-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if args.prepare_only:
        _prepare(_needed(args), args.seed)
        return 0
    _environment()
    noise = HostNoise()
    import warcsum_spark  # noqa: F401 — fail before any work if the engine is missing

    if args.workload == "query_suite":
        if not args.sf_dir:
            ap.error("query_suite needs --sf-dir or $SPARK_GRAFT_SF_DIR")
        import queries

        inputs = {"query_suite": args.sf_dir}
        e2e, per_layer = queries.END_TO_END, queries.PER_LAYER
        measure_fn, trace_fn = queries.measure, queries.traced
    else:
        spec = _spec()
        inputs = {}
        e2e, per_layer = spec["end_to_end"], spec["per_layer"]
        measure_fn, trace_fn = MEASURE.get(args.workload), traced

    # Inputs are built in a child process while the JVM launches (the first
    # set-up, reported apart as session.cold_setup_s), and are ready before
    # the set-ups that setup_s reports. Memory is sampled once the child has
    # exited, so generator memory never counts in peak_rss_mb.
    need = _needed(args)
    child = None
    if need:
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *(argv or sys.argv[1:]), "--prepare-only"],
            stdout=sys.stderr.fileno(),
        )
    mem = MemorySampler()

    prep_wait = [0.0]

    def after_first():
        t0 = time.perf_counter()
        if child is not None and child.wait() != 0:
            raise RuntimeError(f"input preparation exited with code {child.returncode}")
        inputs.update(_prepare(need, args.seed))
        prep_wait[0] = time.perf_counter() - t0
        mem.start()

    spark, setups = set_up(args.cores, after_first)
    run = Run()
    try:
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark, f"{args.workload}-{args.seed}-{int(time.time())}")
            metrics = trace_fn(spark, tracer, args.workload, inputs, run)
            metrics["spark.tasks_failed"] = sum(
                s["spark"]["failed_tasks"] for s in tracer.spans
            )
            metrics["session.cold_setup_s"] = sum(setups[0])
            metrics["session.get_spark_s"] = statistics.median(g for g, _ in setups)
            metrics["session.warmup_s"] = statistics.median(x for _, x in setups)
            os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "trace", f"{tracer.run_id}.jsonl"))
            names = per_layer
        else:
            res = measure_fn(spark, inputs[args.workload], args.seconds, run)
            metrics = {**res["metrics"], "setup_s": statistics.median(g + x for g, x in setups)}
            names = e2e
    finally:
        shut_down(spark)
    metrics["peak_rss_mb"] = mem.stop()
    reap_children()  # so the CPU time of orphaned Python workers is counted
    host = noise.record()

    record = {
        "workload": args.workload, "seed": args.seed, "cores": args.cores,
        "trace": args.trace, "setups": setups, "prep_wait_s": prep_wait[0],
        "host": host, "metrics": metrics,
        "attempted": run.attempted, "failed": run.failed,
        "peak_mb_by_process": {k: v / 1e6 for k, v in mem.peak_by_proc.items()},
    }
    if not args.trace:
        record["human"] = res["human"]
        record["samples"] = res.get("samples")  # (wall, tree CPU, steal) per op
        for k, (v, unit) in res["human"].items():
            print(f"{k} = {v:.6g} {unit}")
        print(f"setup_s = {metrics['setup_s']:.6g} s")
        print(f"peak_rss_mb = {metrics['peak_rss_mb']:.6g} MB")
        print(f"failed_frac = {run.failed / max(1, run.attempted):.6g} fraction")
    print("host: " + json.dumps(host))
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    missing = [m["name"] for m in names if m["name"] not in metrics]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    become_subreaper()
    # a SIGTERM unwinds through the same clean-up as a normal exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        code = main()
    finally:
        reap_children()
    sys.exit(code)
