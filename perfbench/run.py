"""Benchmark entry point.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Generates the workload's inputs from
``--seed`` into a temporary directory under ``.perfbench/``, starts a
local Spark session sized to this machine, sets up and warms up, then
runs the workload's operations in a closed loop (one client) for
``--seconds``, checks the outputs and prints one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics
from the outside-in tracer (``tracing.py``), and the spans are written to
``.perfbench/spans-<workload>-<seed>.json``.  Human-readable detail
goes to standard error.
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
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# process-tree memory, sampled from /proc (psutil is not available)
# ---------------------------------------------------------------------------
class RssSampler(threading.Thread):
    """Samples the summed proportional set size of this process and all
    of its descendants (the JVM and its Python workers) every
    ``interval`` s.  PSS splits pages shared between forked Python
    workers among them instead of counting them once per process."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return total * 1024

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak / (1024.0 * 1024.0)


# ---------------------------------------------------------------------------
# the context a workload runs in
# ---------------------------------------------------------------------------
class Context:
    def __init__(self, seed: int, size: str, workdir: str, tracer, corrupt: bool):
        self.rss = RssSampler()
        self.seed = seed
        self.size = size
        self.workdir = workdir
        self.tracer = tracer
        self.corrupt = corrupt
        self.spark = None

    @staticmethod
    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()


def box_env(workdir: str) -> dict[str, str]:
    """Environment that fits Spark to this machine: one local core per
    CPU, a JVM heap well below physical memory, and every temporary file
    inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(2, int(phys_gb // 4)))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata files in /tmp from the launcher JVM or the Spark JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


def start_spark(ctx: Context, traced: bool):
    from networkframe_spark import get_spark

    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        # a fixed-size heap: the peak memory metric should not depend on
        # when the collector decides to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
        "spark.sql.warehouse.dir": os.path.join(ctx.workdir, "warehouse"),
    }
    if traced:
        # keep every job and stage in the status store until harvested
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    with ctx.tracer.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.attach(spark.sparkContext)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(samples: list[float]) -> tuple[float, str]:
    """Value at the highest percentile with at least ten samples beyond
    it; with fewer than eleven samples, the slowest one."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], f"max of {n}"
    return s[n - 11], f"p{100.0 * (n - 10) / n:.0f} of {n}"


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------
def measure(args, ctx: Context, wl) -> dict:
    from tracing import PER_LAYER

    tracer = ctx.tracer
    traced = tracer.enabled
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    # set-up: session start, input generation (median of repeats), the
    # workload's own set-up (serving: cleaning and index build) and its
    # untimed warm-up
    t0 = time.perf_counter()
    ctx.spark = start_spark(ctx, traced)
    start_s = time.perf_counter() - t0
    gen_s = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.prepare()
    wl.warm_up()
    setup_s = start_s + statistics.median(gen_s) + time.perf_counter() - t
    log(f"setup: start {start_s:.2f}s gen {statistics.median(gen_s):.2f}s total {setup_s:.2f}s")

    tracer.harvest()  # set-up spans, so that the timed loop's overhead is its own
    tracer.overhead_s = 0.0

    # timed closed loop; an operation started before the deadline runs to
    # its end, and the loop runs until both metric kinds were attempted
    samples: dict[str, list[tuple[float, int]]] = {}
    attempted = raised = 0
    tried = set()
    tracer.timed = True
    deadline = time.perf_counter() + args.seconds
    for i, (kind, fn, rows) in enumerate(wl.ops()):
        if time.perf_counter() >= deadline and {wl.latency_kind, wl.rows_kind} <= tried:
            break
        tried.add(kind)
        attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span(kind):
                fn()
        except Exception:
            raised += 1
            log(f"{kind} {i} raised:\n{traceback.format_exc()}")
            continue
        samples.setdefault(kind, []).append((time.perf_counter() - t, rows))
        tracer.harvest()
    tracer.timed = False

    n_ok = sum(len(v) for v in samples.values())
    t = time.perf_counter()
    wrong = wl.check(n_ok)
    failed = raised + wrong
    log(f"operations {attempted}, raised {raised}, wrong output {wrong}; "
        f"checked in {time.perf_counter() - t:.1f}s")
    lat = [s for s, _ in samples.get(wl.latency_kind, [])]
    thr = [r / s for s, r in samples.get(wl.rows_kind, [])]
    if not lat or not thr:
        raise RuntimeError("no timed operation succeeded")
    if traced:
        values = tracer.layer_metrics(per=n_ok, cores=cpus)
        values["session.start_s"] = start_s
        values.update(wl.recall())
        # tracer work runs on the main thread, in line with the
        # operations: it is the wall time a traced run adds
        values["trace.overhead_s"] = tracer.overhead_s / n_ok
        metrics = {name: (values[name], unit) for name, unit, _ in PER_LAYER}
        tracer.dump(os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.json"))
    else:
        tail_s, tail_desc = tail(lat)
        log(f"{wl.latency_kind} latency: median of {len(lat)}, tail = {tail_desc}; "
            f"{wl.rows_kind} rows/s: median of {len(thr)}")
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (statistics.median(thr), "rows/s"),
            "p50_ms": (statistics.median(lat) * 1000.0, "ms"),
            "tail_ms": (tail_s * 1000.0, "ms"),
            "peak_rss_mb": (ctx.rss.stop(), "MB"),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


WORKLOADS = ("graph", "hybrid_serving")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "toy"], default="full",
                   help="input size; toy is for the smoke test")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt one output on purpose, to test the checks")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "networkframe_spark", "__init__.py")):
        log(f"no networkframe_spark package in {ROOT}; run from a checkout of the repository")
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    os.makedirs(OUT_DIR, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=OUT_DIR)
    os.environ.update(box_env(workdir))

    from tracing import Tracer

    import graph
    import serving

    # SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer(run_id=f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    ctx = Context(args.seed, args.size, workdir, tracer, args.corrupt)
    ctx.rss.start()
    wl = {"graph": graph.Graph, "hybrid_serving": serving.Serving}[args.workload](ctx)
    result = None
    try:
        result = measure(args, ctx, wl)
    except Exception:
        log(traceback.format_exc())
    finally:
        try:
            stop_spark(ctx.spark)
        finally:
            ctx.rss.stop()
            shutil.rmtree(workdir, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
