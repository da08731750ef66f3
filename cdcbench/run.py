"""cdcbench: the repository's benchmark, one command.

    python3 cdcbench/run.py --workload append_small --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, runs it through the public API (``CdcPipeline``,
``LakeTable``, ``__spark_entry__.queries()``) in one driver process at
``local[nproc - 1]``, checks every output against an independent oracle and
prints, as the last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
timed phase with per-layer spans installed (spans.py) and the Spark
event log on, and reports the per-layer metrics (layers.py). ``--smoke``
shrinks every input for the benchmark's own tests. A run whose outputs disagree with an oracle
prints ``"correct": false`` and exits with status 1. Scratch state
lives under ``.cdcbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["append_small", "gated_merge"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "events_per_s": "events/s", "batch_s_p50": "s",
    "batch_s_p90": "s", "read_s": "s", "query_geomean_s": "s", "peak_rss_mb": "MB",
}


def burn() -> float:
    """Fixed CPU calibration burn: the same pure-Python loop every run,
    so a throttled host shows as a slow burn, not as a regression."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every process under it: the driver JVM and its Python
    workers."""
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this Python driver plus the driver JVM."""
    pids = [os.getpid()] + [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


class Context:
    def __init__(self, args, spark, work: str, cores: int):
        self.spark = spark
        self.cores = cores
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.smoke = args.smoke
        self.tracer = None
        self.table = None
        self.rss = 0.0

    def begin_timed(self) -> None:
        self.cpu = -cpu_s()
        if self.tracer is not None:
            self.tracer.install()

    def end_timed(self) -> None:
        # read before the correctness phase, whose oracles are harness memory
        self.rss = peak_rss_mb()
        self.cpu += cpu_s()
        if self.tracer is not None:
            self.tracer.uninstall()

    def span(self, name: str, fn):
        """``fn`` itself, or — in a traced pass — ``fn`` run inside a span
        of its own, so the Spark jobs it triggers are attributed to it."""
        if self.tracer is None:
            return fn
        return lambda: self.tracer.run(name, fn)


def start_spark(work: str, cores: int, trace: bool):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a fixed-size heap (-Xms = -Xmx): peak RSS then tracks the program,
    # not when the JVM decided to grow its heap
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{mem} -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.enabled": "false",  # no web UI: it only adds start-up time
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    from nifi_spark.session import get_spark

    return get_spark("cdcbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    # Python workers outlive the JVM briefly (they are re-parented, so
    # poll instead of wait); anything still alive after 30 s is killed
    deadline = time.time() + 30
    while alive := [p for p in procs if not _is_gone(p)]:
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.2)


def _is_gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(res, session_s: float, rss: float) -> dict[str, float]:
    reads = res.read_ops
    walls = res.query_walls.values() if res.query_walls else reads.values()
    bs = res.batch_s
    return {
        "setup_s": session_s + res.setup_s,
        "wall_s": res.wall_s,
        "events_per_s": res.events / res.drain_s,
        "batch_s_p50": statistics.median(bs),
        # "inclusive" interpolates between order statistics; the default
        # method extrapolates past the largest sample when there are few
        "batch_s_p90": statistics.quantiles(bs, n=10, method="inclusive")[-1] if len(bs) > 1 else bs[0],
        "read_s": sum(reads.values()),
        "query_geomean_s": geomean(walls),
        "peak_rss_mb": rss,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (the benchmark's own tests)")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    import nifi_spark  # noqa: F401  (fail fast when the engine is absent)
    import workloads

    work = os.path.join(ROOT, ".cdcbench")
    for d in ("tables", "eventlog", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    burns = [burn()]
    # one core is left to the driver JVM's JIT and GC threads, the Python
    # driver and the Python workers: at local[nproc] they compete with the
    # task threads, and the run-to-run spread measures the scheduler
    cores = max(1, len(os.sched_getaffinity(0)) - 1)

    spark = start_spark(work, cores, bool(args.trace))
    session_s = time.perf_counter() - T_PROCESS - burns[0]
    ctx = Context(args, spark, work, cores)
    try:
        if args.trace:
            from spans import Tracer

            ctx.tracer = Tracer(spark)
        res = workloads.run(ctx, args.workload)
        burns.append(burn())
        mor_buckets = 0
        if ctx.table is not None:
            mor_buckets = len((ctx.table._manifest() or {}).get("mor_buckets", []))
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t_stop

    if args.trace:
        import layers

        metrics = layers.per_layer(ctx.tracer, res, work,
                                   host_burn=statistics.median(burns), mor_buckets=mor_buckets)
    else:
        vals = end_to_end(res, session_s, ctx.rss)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    attempted, failed, failures = res.attempted, res.failed, res.failures
    detail = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "host.burn_s": statistics.median(burns), "session_s": session_s,
              "warmup_s": res.setup_s, "stop_s": stop_s, "timed_cpu_s": ctx.cpu,
              "total_s": time.perf_counter() - T_PROCESS, **res.details, "failures": failures}
    print(json.dumps({"detail": detail}, default=str))
    if failures:
        print("cdcbench: correctness gate FAILED:\n  " + "\n  ".join(failures), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
