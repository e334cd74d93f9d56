"""Benchmark of the card pipeline: one command, three workloads.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 5 --trace 0

Workloads: ``medallion_batch``, ``realtime_alerts`` and ``corpus_dedup``
(the last is left out of BENCHMARK.json for time; see README.md).

Run from the repository root. Each run is a single closed-loop client:
it generates its inputs from ``--seed``, sets the program up several times
(a Spark session plus untimed warm-up ops each time), then repeats the
workload's primary op for ``--seconds`` seconds, checks every output
against a computation made outside the program, and prints one JSON
object as its last line of standard output:

- ``--trace 0``: the end-to-end metrics (``setup_s``, ``op_p50_s``,
  ``cpu_s_per_op``, ``peak_rss_mb``). Times are wall times with the
  hypervisor's steal taken out (``procstat.stretch_free``); the raw wall
  times are on the line before the result;
- ``--trace 1``: the per-layer metrics, from spans around each layer's
  public functions and Spark's own counters. Layers a workload does not
  exercise read 0.

Everything it writes stays under ``.perfbench_work/`` in the current
directory and is removed at exit; the JVM and every process under it are
ended and waited for before the result is printed, on every way out. It
exits non-zero without a result when the program cannot be imported. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time

# Pinned Spark settings, fewer cores than the 4-core box so that the
# driver, the JVM's own threads and the benchmark's readers of /proc are
# not competing with tasks for a core.
SPARK_CORES = 2
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "1g"
SETUPS = 3
MIN_OPS = 5

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "cpu_s_per_op": "core-s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "medallion.stage_s": "s",
    "medallion.spec_s": "s",
    "medallion.jobs": "count",
    "medallion.stages": "count",
    "medallion.tasks": "count",
    "medallion.executor_run_s": "s",
    "medallion.executor_cpu_s": "s",
    "medallion.gc_s": "s",
    "medallion.shuffle_write_mb": "MB",
    "medallion.input_mb": "MB",
    "medallion.output_mb": "MB",
    "drain.batches": "count",
    "drain.latest_offset_s": "s",
    "drain.get_batch_s": "s",
    "drain.query_planning_s": "s",
    "drain.add_batch_s": "s",
    "drain.wal_commit_s": "s",
    "drain.commit_offsets_s": "s",
    "drain.state_commit_s": "s",
    "drain.state_rows": "count",
    "drain.jobs": "count",
    "drain.tasks": "count",
    "drain.executor_cpu_s": "s",
    "serving.merge_s": "s",
    "serving.touched_buckets": "count",
    "serving.store_files": "count",
    "api.get_s": "s",
    "api.jobs_per_lookup": "count",
}
# corpus_dedup's layers; that workload is not in BENCHMARK.json (README.md)
CORPUS_LAYER = {
    "corpus.construct_s": "s",
    "corpus.construct_jobs": "count",
    "corpus.execute_s": "s",
    "corpus.jobs": "count",
    "corpus.tasks": "count",
    "corpus.shuffle_write_mb": "MB",
    "corpus.python_cpu_s": "s",
}


def start_session(work: str):
    from bigdatapipelne_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{SPARK_CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # a pre-touched fixed heap: resident memory then does not hang
            # on when the collector happened to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
            ),
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants
    (``PR_SET_CHILD_SUBREAPER``, which acts on this process only), so a
    Python worker whose JVM parent exits is re-parented here and can be
    waited for instead of outliving the run."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def stop_program(timeout_s: float = 30.0) -> None:
    """End the JVM and every other process this run started, and wait
    until each has ended. The JVM exits by itself once its stdin closes;
    anything still alive after ``timeout_s`` is killed."""
    from procstat import tree_pids

    try:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
    except ImportError:
        gateway = None
    if gateway is not None:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        # reap what has ended, then signal what is still alive
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        alive = [p for p in tree_pids(me) if p != me]
        if not alive:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


class Interval:
    """Wall, process-tree CPU, Python-worker CPU and machine steal over
    one timed interval."""

    def __init__(self):
        from procstat import steal_s, tree_cpu_s

        self._steal, self._cpu = steal_s, tree_cpu_s

    def __enter__(self) -> "Interval":
        self.cpu0, self.py0 = self._cpu()
        self.steal0 = self._steal()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.steal = self._steal() - self.steal0
        cpu1, py1 = self._cpu()
        self.cpu, self.py = cpu1 - self.cpu0, py1 - self.py0

    @property
    def steal_free(self) -> float:
        from procstat import stretch_free

        return stretch_free(self.wall, self.cpu, self.steal)


def run(workload, seconds: float, trace: bool) -> dict:
    from procstat import RssSampler, steal_s
    from tracing import Tracer

    steal0 = steal_s()
    workload.generate()
    errors: list[str] = []
    with RssSampler() as rss:
        setups, spark = [], None
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            with Interval() as whole:
                with Interval() as start:
                    spark = start_session(workload.work)
                workload.warmup(spark)
            setups.append((start, whole))
        workload.attempted = dict.fromkeys(workload.attempted, 0)

        tracer = Tracer() if trace else None
        if trace:
            workload.trace(spark, tracer)
        ops, layers = [], []
        failed = dict.fromkeys(workload.attempted, 0)
        begin = time.perf_counter()
        while len(ops) < MIN_OPS or time.perf_counter() - begin < seconds:
            i = len(ops) + sum(failed.values())
            workload.prepare()
            before = dict(workload.attempted)
            mark = workload.counters.mark() if trace else None
            try:
                with Interval() as op:
                    if trace:
                        with tracer.op_span("op", i):
                            workload.op(spark)
                    else:
                        workload.op(spark)
            except Exception as e:  # a failed round counts all its operations
                for k, n in workload.attempted.items():
                    failed[k] += n - before[k]
                errors.append(f"op {i} failed: {type(e).__name__}: {str(e)[:300]}")
                if sum(failed.values()) > 50:
                    break
                continue
            ops.append(op)
            if trace:
                layers.append(workload.layer_metrics(i, workload.counters.since(mark), op))
            errors += [f"op {i}: {e}" for e in workload.check_op()]
        if not any(failed.values()):
            errors += [f"final: {e}" for e in workload.check_final(spark)]
        if trace:
            tracer.restore()
        spark.stop()
    steal = steal_s() - steal0

    if trace:
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics["session.start_s"] = statistics.median(s.steal_free for s, _ in setups)
        metrics["session.warmup_s"] = statistics.median(w.steal_free - s.steal_free for s, w in setups)
        for k in layers[0] if layers else ():
            metrics[k] = statistics.median(m[k] for m in layers)
        tracer.dump(os.path.join(workload.work, "..", f"trace-{workload.name}-{workload.seed}.json"))
    else:
        metrics = {
            "setup_s": statistics.median(w.steal_free for _, w in setups),
            "op_p50_s": statistics.median(op.steal_free for op in ops),
            "cpu_s_per_op": statistics.median(op.cpu for op in ops),
            "peak_rss_mb": rss.peak_mb,
        }
    units = {**END_TO_END, **PER_LAYER, **CORPUS_LAYER}
    detail = {
        "workload": workload.name,
        "seed": workload.seed,
        "trace": trace,
        "ops": len(ops),
        "op_wall_s": [round(op.wall, 4) for op in ops],
        "op_steal_free_s": [round(op.steal_free, 4) for op in ops],
        "op_cpu_s": [round(op.cpu, 3) for op in ops],
        "op_steal_s": [round(op.steal, 3) for op in ops],
        "setup_wall_s": [round(w.wall, 3) for _, w in setups],
        "setup_steal_free_s": [round(w.steal_free, 3) for _, w in setups],
        "wall_p50_s": statistics.median(op.wall for op in ops) if ops else None,
        "attempted": workload.attempted,
        "failed": failed,
        "steal_s": round(steal, 3),
        "peak_rss_parts": rss.peak_parts,
        "errors": errors[:20],
    }
    return {
        "detail": detail,
        "result": {
            "correct": not [e for e in errors if "failed:" not in e],
            "attempted": sum(workload.attempted.values()),
            "failed": sum(failed.values()),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
    }


def main(argv=None) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [here, root]
    try:
        import bigdatapipelne_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {root}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep Python's, the JVM's and Spark's scratch files inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    adopt_orphans()
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = run(WORKLOADS[args.workload](work, args.seed), args.seconds, bool(args.trace))
    finally:
        stop_program()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["detail"]))
    for e in out["detail"]["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
