#!/usr/bin/env python3
"""Benchmark of binlog_avro_comparator_spark, end to end and per layer.

    python3 perfbench/run.py --workload cdc_check_text --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout.  One process, one workload, one
closed-loop caller on ``local[nproc]``:

1. set-up: Spark session, seeded inputs, the expected results, and any
   static side the workload keeps as parquet;
2. one cold op (``first_op_s``), then the workload's fixed number of
   untimed warm-up ops;
3. timed ops for ``--seconds``, at least the workload's ``min_timed``.

With ``--trace 1`` one more op is decomposed into layer spans
(``tracing.py``) under Spark's event log, and the same ops are then
timed again in a fresh SparkContext without it, for the tracing
overhead.

Every op reads inputs written for it alone (fresh paths, fresh bytes),
writes into fresh output dirs, and runs after ``clearCache``; its output
is checked against the set-up expectation, its bytes are counted, and
its directories are deleted.  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Scratch files live under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "binlog_avro_comparator_spark"
# the driver heap, through the package's own SPARK_GRAFT_DRIVER_MEM:
# at its 16g default one run peaks at 4.5-6.2 GB of resident memory on
# these inputs, and G1's adaptive sizing moves that peak by about 15%
# between identical runs; 2g, committed up front with a fixed young
# generation, holds every workload without spilling
HEAP = "2g"


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------------
# process tree: memory sampling and shutdown


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return kids


def tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    n processes (a forked child, the pyspark daemon's workers) counted
    1/n in each, so the tree's sum counts every page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc by this one thread."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak_kb = period, 0
        self.stop_flag = threading.Event()

    def run(self) -> None:
        while not self.stop_flag.is_set():
            self.sample()
            self.stop_flag.wait(self.period)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(pss_kb(p) for p in tree(os.getpid())))

    def finish(self) -> float:
        self.stop_flag.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait until every
    process this one started has ended."""
    from pyspark import SparkContext

    kids = tree(os.getpid())[1:]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") and _alive(p) for p in kids):
        if time.monotonic() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# --------------------------------------------------------------------------
# environment


def configure(work: str, trace: bool) -> None:
    """Everything Spark and the package write goes under ``work``; the
    package is importable in this process and in Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_CPUS": str(ncpus()),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            # every JVM, the spark-submit launcher's too: temp files in
            # the checkout, no hsperfdata file under /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    import tempfile

    tempfile.tempdir = tmp
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Xmn384m",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                # Spark 4 compresses with zstd by default; the span
                # attribution reads the log as plain JSON lines
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # the log is read for jobs, stages and tasks; a plan
                # string (AQE re-logs one per re-plan) is only written
                "spark.sql.maxPlanStringLength": "1024",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    sys.path.insert(0, ROOT)


# --------------------------------------------------------------------------
# the closed loop


class Loop:
    """The closed loop: one op at a time, numbered across the whole
    process so that no two ops share an input."""

    def __init__(self, spark, wl, start: int = 0):
        self.spark, self.wl, self.n = spark, wl, start
        self.attempted = self.failed = 0
        self.preps: list[float] = []
        self.ratios: list[float] = []

    def next_input(self):
        t = time.perf_counter()
        inp = self.wl.prepare(self.n)
        self.preps.append(time.perf_counter() - t)
        self.n += 1
        return inp

    def op(self):
        """One isolated op: returns (wall, result, out_bytes / in_bytes)."""
        inp = self.next_input()
        self.spark.catalog.clearCache()
        self.attempted += 1
        result, ratio = None, None
        t = time.perf_counter()
        try:
            result = self.wl.run(self.spark, inp)
            wall = time.perf_counter() - t
            ok = self.wl.check(inp, result)
            ratio = self.wl.out_bytes(inp) / inp.in_bytes
            self.ratios.append(ratio)
        except Exception:  # a failed op is counted, not fatal
            wall = time.perf_counter() - t
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"perfbench: op {inp.op} output is wrong", file=sys.stderr)
        shutil.rmtree(inp.root, ignore_errors=True)
        triggers = self.wl.batch_walls([(wall, result, ratio)])
        detail = f" (triggers {' '.join(f'{b:.2f}' for b in triggers)} s)" if len(triggers) > 1 else ""
        print(f"perfbench: op {inp.op} {wall:.3f} s{detail}", file=sys.stderr)
        return wall, result, ratio

    def warm(self) -> float:
        """The cold op, then the workload's untimed warm-up ops; returns
        the cold op's wall."""
        first, _, _ = self.op()
        for _ in range(self.wl.warmup_ops):
            self.op()
        return first

    def timed(self, seconds: float) -> list[tuple[float, object, float]]:
        out, start = [], time.perf_counter()
        while len(out) < self.wl.min_timed or time.perf_counter() - start < seconds:
            out.append(self.op())
        return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl, loop: Loop, setup_once: float, first: float, timed, peak_mb) -> dict:
    walls = [w for w, _, _ in timed]
    return {
        # the one-time part once, the per-op input writing as its median
        "setup_s": setup_once + median(loop.preps),
        "first_op_s": first,
        "op_p50_s": median(walls),
        # per the median op, like op_p50_s: one slow op does not drag it
        "items_per_s": wl.items / median(walls),
        "peak_rss_mb": peak_mb,
        # bytes are not timed: every op of the run counts, the cold one
        # too (the package's output layout, one part file or several,
        # can differ between ops on the same input)
        "out_bytes_per_in_byte": median(loop.ratios),
        "batch_p50_s": median(wl.batch_walls(timed)),
    }


def untraced(wl, start: int) -> tuple[object, Loop, list[float]]:
    """The traced run's ops again, on the same seed, in a fresh
    SparkContext of this JVM with the event log off: ``min_timed`` ops,
    all timed.  The JVM is warm from the traced ops, so no cold op is
    repeated; the first of them does pay the new context's first use,
    which keeps the overhead figure on the low side.  Returns the
    session, the loop and the timed walls."""
    from pyspark import SparkContext

    from binlog_avro_comparator_spark.session import get_spark

    SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")
    spark = get_spark(f"perfbench-{wl.name}-untraced")
    spark.sparkContext.setLogLevel("ERROR")
    loop = Loop(spark, wl, start)
    walls = [loop.op()[0] for _ in range(wl.min_timed)]
    return spark, loop, walls


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure(work, bool(args.trace))

    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    from binlog_avro_comparator_spark.session import get_spark

    sampler = MemorySampler()
    sampler.start()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = WORKLOADS[args.workload]()
        tracer = Tracer(spark) if args.trace else None
        wl.setup(spark, args.seed, work, tracer)
        setup_once = time.monotonic() - T0
        print(f"perfbench: {wl.name} inputs {wl.recipe}", file=sys.stderr)
        loop = Loop(spark, wl)
        first = loop.warm()
        timed = loop.timed(args.seconds)
        attempted, failed = loop.attempted, loop.failed
        if args.trace:
            inp = loop.next_input()
            wl.trace(spark, tracer, inp)
            shutil.rmtree(inp.root, ignore_errors=True)
            # stopping the context flushes the event log
            spark.stop()
            spark, base, base_walls = untraced(wl, loop.n)
            attempted, failed = attempted + base.attempted, failed + base.failed
    finally:
        stop_spark(spark)
    peak_mb = sampler.finish()
    if args.trace:
        tracer.attach_event_log(os.path.join(work, "eventlog"))
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump([s.__dict__ for s in tracer.spans], f, indent=1)
        op_p50 = median([w for w, _, _ in timed])
        metrics = wl.layers(tracer, timed)
        metrics["tracing.op_p50_s"] = op_p50
        metrics["tracing.overhead_s"] = op_p50 - median(base_walls)
    else:
        metrics = end_to_end(wl, loop, setup_once, first, timed, peak_mb)
    wanted = manifest()["per_layer" if args.trace else "end_to_end"]
    # a layer this workload does not run reports 0
    metrics = {m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def manifest() -> dict:
    """The metric names and units BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
