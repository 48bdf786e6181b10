"""linkforge benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload rmat_cc_pagerank --seed 1 --seconds 20 --trace 0

Run from the repository root. The run starts a local Spark session on half
the available cores, sets the workload up (inputs from the seed, oracle
answers) three times and keeps the median set-up time, does a fixed number of
untimed warm-up repetitions, then repeats the workload for ``--seconds`` and
checks every repetition's outputs against the oracle.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
runs the window twice, in a session without and then one with Spark's event
log, and reports the per-layer metrics: task metrics per span from the event
log, the engine's own CC/PageRank metrics, the checkpoint manifest, and the
traced window's run time minus the untraced one's.

Human-readable lines go first; the last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPEATS = 3
#: untimed repetitions before the window. The first is two to three times
#: as slow as the window's (class loading, code generation, JIT); walls then
#: fall slowly for ten or more, longer than a run can wait. A fixed count puts
#: every run's window at the same point of that curve.
WARMUP_REPS = 2
#: spans the per-layer report carries task metrics for
SPANS = ("extract", "cc", "pagerank", "delta.insert", "delta.delete")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def jit_threads() -> int:
    """JIT compiler threads: HotSpot's default is 3 on 4 cores. With half the
    cores free of tasks, more threads drain the compile queue of the warm-up
    sooner, so the window starts further along the warm-up curve."""
    return len(os.sched_getaffinity(0)) + 2


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: the inputs need
    well under 1 GiB of heap, and the engine's own default (48g) gets the
    JVM killed on small machines. The heap is fixed at this size (-Xms as
    well as -Xmx) and touched at start, so the JVM's RSS does not grow with
    G1's heap expansions, which vary from run to run."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kib // (1 << 20) // 4))}g"


class Session:
    """The benchmark's Spark session: local[<cores>], scratch
    directories and (optionally) the event log all under ``workdir``."""

    def __init__(self, workdir: str, cores: int, event_log: bool):
        from em_connected_components_spark.session import get_spark

        tmp = os.path.join(workdir, "tmp")
        heap = driver_memory()
        self.event_dir = os.path.join(workdir, "eventlog")
        os.makedirs(self.event_dir, exist_ok=True)
        conf = {
            "spark.driver.memory": heap,
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch "
                f"-XX:CICompilerCount={jit_threads()} -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="linkforge-perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        self.start_s = time.perf_counter() - t0

    def isolate(self) -> None:
        """Drop what one repetition left behind before the next starts."""
        gc.collect()
        self.spark.catalog.clearCache()
        # lets Spark's ContextCleaner free checkpoint blocks and shuffle
        # files of DataFrames the repetition no longer references
        self.spark.sparkContext._jvm.System.gc()


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait until it and its Python workers exit."""
    from pyspark import SparkContext

    from tracing import alive, descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    tree = descendants(proc.pid)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while tree and time.monotonic() < deadline:
        time.sleep(0.1)
        tree = [p for p in tree if alive(p)]


@dataclass
class Window:
    """Timed repetitions of one workload in one session."""

    reps: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)


def one_rep(session: Session, wl, workdir: str, rep: str, sampler=None):
    from tracing import Spans

    rep_dir = os.path.join(workdir, f"rep-{rep}")
    try:
        result = wl.run_once(session.spark, Spans(session.spark, rep, sampler), rep_dir)
        result.tag = rep
        return result
    finally:
        shutil.rmtree(rep_dir, ignore_errors=True)
        session.isolate()


def warm_up(session: Session, wl, workdir: str, reps: int) -> float:
    """``reps`` untimed repetitions; returns the time spent warming up."""
    t0 = time.perf_counter()
    for i in range(reps):
        wall = one_rep(session, wl, workdir, f"warm{i}").total_s
        log(f"warm-up repetition {i}: {wall:.3f}s")
    return time.perf_counter() - t0


def measure(session: Session, wl, workdir: str, seconds: float, sampler) -> Window:
    """Repetitions until ``seconds`` have passed (at least one), then the
    check of every repetition's outputs."""
    win = Window()
    deadline = time.perf_counter() + seconds
    while win.attempted == 0 or time.perf_counter() < deadline:
        win.attempted += 1
        try:
            win.reps.append(one_rep(session, wl, workdir, str(win.attempted), sampler))
            log(f"repetition {win.attempted}: {win.reps[-1].total_s:.3f}s")
        except Exception:
            # a repetition that raises is counted as failed, not fatal
            win.failed += 1
            win.failures.append(traceback.format_exc(limit=4))
    for rep in win.reps:
        bad = wl.check(rep)
        win.failed += bool(bad)
        win.failures += bad
    return win


def run_session(wl_cls, args, workdir: str, cores: int, *, event_log: bool, setups: int,
                warm_reps: int, seconds: float) -> dict:
    """One Spark session: ``setups`` set-ups, warm-up, the timed window."""
    from pyspark import SparkContext

    from tracing import RssSampler

    session = Session(workdir, cores, event_log)
    log(f"session start {session.start_s:.2f}s (event log {'on' if event_log else 'off'})")
    try:
        setup_walls, gen_walls, wl = [], [], None
        for _ in range(setups):
            if wl is not None:
                wl.release()
                session.isolate()
            t0 = time.perf_counter()
            wl = wl_cls(session.spark, args.seed, workdir)
            setup_walls.append(time.perf_counter() - t0)
            gen_walls.append(wl.generate_s)
            log(f"set-up {setup_walls[-1]:.2f}s (generate {wl.generate_s:.2f}s)")
        warm_s = warm_up(session, wl, workdir, warm_reps)
        with RssSampler(SparkContext._gateway.proc.pid) as sampler:
            win = measure(session, wl, workdir, seconds, sampler)
    finally:
        session.spark.stop()
    return {
        "win": win,
        "start_s": session.start_s,
        "warmup_s": warm_s,
        "setup_s": statistics.median(setup_walls),
        "generate_s": statistics.median(gen_walls),
        "peak_rss_mb": sampler.peak_bytes / 2**20,
        "event_dir": session.event_dir,
    }


def _median(values) -> float:
    return float(statistics.median(values))


def _run_s(session: dict) -> float:
    return _median(r.total_s for r in session["win"].reps)


def end_to_end(plain: dict) -> dict[str, tuple[float, int]]:
    """(value, sample count) of every end-to-end metric."""
    reps = plain["win"].reps
    return {
        "run_s": (_run_s(plain), len(reps)),
        "cc_edges_per_s": (_median(r.cc_edges_per_s for r in reps), len(reps)),
        "setup_s": (plain["start_s"] + plain["warmup_s"] + plain["setup_s"], SETUP_REPEATS),
        "peak_rss_mb": (plain["peak_rss_mb"], 1),
    }


def per_layer(plain: dict, traced: dict, cores: int) -> dict[str, tuple[float, int]]:
    """(value, sample count) of every per-layer metric the workload reaches:
    medians over the traced window's repetitions."""
    from tracing import TASK_FIELDS, span_task_totals

    reps = traced["win"].reps
    n = len(reps)
    out = {
        k: (_median(r.layer[k] for r in reps), n) for k in sorted({k for r in reps for k in r.layer})
    }
    totals = span_task_totals(traced["event_dir"])
    idle = dict.fromkeys(TASK_FIELDS, 0)
    for span in SPANS:
        per_rep = [totals.get((span, r.tag), idle) for r in reps]
        for f in TASK_FIELDS:
            out[f"{span}.{f}"] = (_median(t[f] for t in per_rep), n)
        shares = [
            1.0 - t["executor_run_ms"] / 1000.0 / (r.walls[span] * cores)
            for t, r in zip(per_rep, reps) if span in r.walls
        ]
        out[f"{span}.idle_share"] = (_median(shares) if shares else 0.0, n)
    out["session.start_s"] = (plain["start_s"], 1)
    out["session.warmup_s"] = (plain["warmup_s"], 1)
    out["sources.generate_s"] = (plain["generate_s"], SETUP_REPEATS)
    # the traced session runs second, in a JVM that is warmer still, so this
    # leans low by what the JIT gains between the two windows
    out["trace.overhead_s"] = (_run_s(traced) - _run_s(plain), n)
    return out


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    workroot = os.path.join(HERE, ".work")
    if os.path.isdir(workroot):
        from tracing import alive

        # left behind by runs that were killed
        for name in os.listdir(workroot):
            if name.startswith("run-") and not alive(int(name[4:])):
                shutil.rmtree(os.path.join(workroot, name), ignore_errors=True)
    workdir = os.path.join(workroot, f"run-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    # the JVM and its Python workers inherit these; the workers import the
    # engine from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # half the cores run tasks; the rest are left to the driver's Python
    # process, the JVM's scheduler, JIT and GC threads and the Python workers,
    # so that the run measures the engine rather than the OS scheduler
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    wl_cls = WORKLOADS[args.workload]

    sessions, values = [], None
    try:
        sessions.append(run_session(wl_cls, args, workdir, cores, event_log=False,
                                    setups=SETUP_REPEATS, warm_reps=WARMUP_REPS,
                                    seconds=args.seconds))
        if args.trace:
            # the JVM is warm from here on: one set-up and one warm-up
            # repetition rebuild the new session's caches and workers. Counts
            # repeat exactly from one repetition to the next, so half a
            # window is enough for the per-layer medians.
            sessions.append(run_session(wl_cls, args, workdir, cores, event_log=True,
                                        setups=1, warm_reps=1, seconds=args.seconds / 2))
        if all(s["win"].reps for s in sessions):
            values = per_layer(*sessions, cores) if args.trace else end_to_end(sessions[0])
    finally:
        shutdown_jvm()
        shutil.rmtree(workdir, ignore_errors=True)

    wins = [s["win"] for s in sessions]
    for failure in (f for w in wins for f in w.failures):
        print(f"FAILED: {failure}", file=sys.stderr)
    if values is None:
        print("a window completed no repetition", file=sys.stderr)
        return 1

    print(
        f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
        f"cores={cores} driver_memory={driver_memory()}"
    )
    dispatch = wins[-1].reps[-1].dispatch
    if dispatch is not None:
        print("# cc dispatch: " + json.dumps(dispatch))
    spec_metrics = spec["per_layer" if args.trace else "end_to_end"]
    unknown = set(values) - {m["name"] for m in spec_metrics}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in spec_metrics:
        value, samples = values.get(m["name"], (0.0, 0))  # 0: layer idle here
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"  {m['name']:<32} {value:>16.6g} {m['unit']:<7} n={samples}")
    failed = sum(w.failed for w in wins)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sum(w.attempted for w in wins),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    try:
        import em_connected_components_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
