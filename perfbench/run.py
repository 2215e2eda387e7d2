"""Pipeline benchmark: runs one workload, checks its outputs and prints
its metrics as one JSON object on the last line of standard output.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 8 --trace 0

Run it from the repository root (any checkout that holds the package
and ``tests/``).  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same workload with spans around every call into
the package's layers and Spark's event log on, and prints the per-layer
metrics instead.  ``--size tiny`` shrinks the inputs for smoke tests.
Workloads, metrics and the layer predictions are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = (
    "cherry_pipelines_spark/__init__.py",
    "tests/svm_fixtures_gen.py",
    "tests/fixtures_gen.py",
)
DRIVER_MEMORY = "2g"  # the JVM heap; the host has 15 GB shared with others


# ------------------------------------------------------- run hygiene
def process_tree_pss_bytes(root: int) -> int:
    """Summed proportional resident memory (PSS) of ``root`` and all its
    descendants: the driver Python, the JVM and its Python workers.
    PSS splits pages shared by the forked workers among them, so the
    sum does not count a shared page once per worker as RSS would."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass  # the process exited between listing and reading
    return total


class MemorySampler:
    """Peak of :func:`process_tree_pss_bytes` between start and stop."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, process_tree_pss_bytes(os.getpid()))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_canary_s() -> float:
    """Best of three runs of a fixed pure-Python loop that touches no
    repository code: if it moves between runs, the host moved."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t0)
    return best


def start_session(work: str, trace: bool):
    from cherry_pipelines_spark import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's scratch files inside the run directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ------------------------------------------------------------- probes
def _noop_write(dfs) -> None:
    for df in dfs:
        df.write.format("noop").mode("overwrite").save()


def probe_layers(spark, tracer, wl) -> None:
    """Split one operation's work by layer.  Probe the sources' tip,
    then time three stages one after another, each on the cached output
    of the one before: noop-write the source bundle (scan), run the
    decode step and noop-write the tables it replaced (decode), run the
    remaining steps and noop-write what they produced (process).  Pass
    ``r`` runs as operation ``("probe", r)``."""
    from cherry_pipelines_spark.engine.pipeline import PipelineContext
    from perfbench.workloads import PROBE_REPEATS

    def run_steps(steps, bundle, ctx):
        out = bundle
        for step in steps:
            out = step.run(spark, out, ctx)
        changed = [df for name, df in out.items() if bundle.get(name) is not df]
        _noop_write(changed)
        return out, changed

    for r in range(PROBE_REPEATS):
        tracer.op = ("probe", r)
        for pipe, lo, hi in wl.probe_range():
            with tracer.span("probe.tip"):
                pipe.source.tip(spark)
            steps = list(pipe.steps)
            n_decode = 1 + next(i for i, s in enumerate(steps) if "decode" in s.name)
            ctx = PipelineContext(lo, hi, chain_id=pipe.chain_id)
            cached = []

            def materialize(dfs):
                for df in dfs:
                    df.cache().count()
                    cached.append(df)

            try:
                with tracer.span("probe.scan"):
                    bundle = pipe.source.read(spark, lo, hi)
                    _noop_write(bundle.values())
                materialize(bundle.values())
                with tracer.span("probe.decode"):
                    bundle, changed = run_steps(steps[:n_decode], bundle, ctx)
                materialize(changed)
                with tracer.span("probe.process"):
                    run_steps(steps[n_decode:], bundle, ctx)
            finally:
                for df in cached:
                    df.unpersist()
                ctx.release_caches()


# ------------------------------------------------------------ metrics
def _m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end_metrics(setup_s, op_times, rows, peak_bytes) -> dict:
    return {
        "setup_s": _m(setup_s, "s"),
        "wall_s": _m(statistics.median(op_times), "s"),
        "rows_per_s": _m(statistics.median(n / t for n, t in zip(rows, op_times)), "rows/s"),
        "peak_pss_mb": _m(peak_bytes / 2**20, "MB"),
    }


def per_layer_metrics(tracer, jobs, setup, op_times, traced_ops, written, compaction, cores, probed) -> dict:
    from perfbench.workloads import PROBE_REPEATS

    spans = {s.id: s for s in tracer.spans}

    def jobs_where(pred):
        return [j for j in jobs if j.group in spans and pred(spans[j.group])]

    def span_s(op, name):
        return sum(s.seconds for s in tracer.spans if s.op == op and s.name == name)

    def per_op_time(name):
        return statistics.median(span_s(op, name) for op in traced_ops)

    first = traced_ops[0]  # counts come from one fixed operation, so they repeat exactly
    op_jobs = jobs_where(lambda s: s.op == first)

    def count(name):
        return sum(1 for j in op_jobs if spans[j.group].name == name)

    def probe_s(name):
        return statistics.median(span_s(("probe", r), name) for r in range(PROBE_REPEATS))

    scan_jobs = jobs_where(lambda s: s.op == ("probe", 0) and s.name == "probe.scan")
    tip_jobs = jobs_where(lambda s: s.op == ("probe", 0) and s.name == "probe.tip")
    next_block = sorted(
        s.seconds for s in tracer.spans
        if s.op in traced_ops and s.name == "engine.checkpoint.next_block"
    )
    busy = [
        sum(j.run_ms for j in jobs_where(lambda s, op=op: s.op == op)) / 1000
        / (op_times[op] * cores)
        for op in traced_ops
    ]
    files = written[first]
    untraced = [t for op, t in op_times.items() if op not in traced_ops]
    # the last decile of single checkpoint reads
    p90 = (
        statistics.quantiles(next_block, n=10, method="inclusive")[-1]
        if len(next_block) > 1 else next_block[0]
    )
    return {
        "session.start_s": _m(setup["session"], "s"),
        "setup.gen_s": _m(setup["gen"], "s"),
        "setup.warmup_s": _m(setup["warmup"], "s"),
        "sources.tip_s": _m(probe_s("probe.tip"), "s"),
        "sources.tip_jobs": _m(len(tip_jobs), "count"),
        "sources.scan_s": _m(probe_s("probe.scan"), "s"),
        "scan.input_bytes": _m(sum(j.input_bytes for j in scan_jobs), "bytes"),
        "scan.rows": _m(sum(j.input_rows for j in scan_jobs), "count"),
        "engine.checkpoint.next_block_p50_s": _m(statistics.median(next_block), "s"),
        "engine.checkpoint.next_block_p90_s": _m(p90, "s"),
        "engine.checkpoint.jobs": _m(count("engine.checkpoint.next_block"), "count"),
        "engine.step.plan_s": _m(per_op_time("engine.step"), "s"),
        "functions.decode_s": _m(probe_s("probe.decode"), "s"),
        "pipelines.process_s": _m(probe_s("probe.process"), "s"),
        "shuffle.write_bytes": _m(sum(j.shuffle_write_bytes for j in op_jobs), "bytes"),
        "shuffle.read_bytes": _m(sum(j.shuffle_read_bytes for j in op_jobs), "bytes"),
        "spill_bytes": _m(sum(j.spill_bytes for j in op_jobs), "bytes"),
        "sinks.write_s": _m(per_op_time("sinks.write"), "s"),
        "sinks.write_jobs": _m(count("sinks.write"), "count"),
        "sinks.files_written": _m(len(files), "count"),
        "sinks.bytes_written": _m(sum(files.values()), "bytes"),
        "sinks.dirs_written": _m(len({os.path.dirname(p) for p in files}), "count"),
        "sinks.compact_s": _m(span_s("end", "sinks.compact"), "s"),
        "sinks.compact.files_before": _m(compaction["files_before"], "count"),
        "sinks.compact.files_after": _m(compaction["files_after"], "count"),
        "sinks.compact.bytes_rewritten": _m(compaction["bytes_rewritten"], "bytes"),
        "spark.jobs": _m(len(op_jobs), "count"),
        "spark.stages": _m(sum(j.stages for j in op_jobs), "count"),
        "spark.tasks": _m(sum(j.tasks for j in op_jobs), "count"),
        "spark.busy_ratio": _m(statistics.median(busy), "ratio"),
        "spark.gc_s": _m(sum(j.gc_ms for j in op_jobs) / 1000, "s"),
        "trace.overhead_ratio": _m(
            statistics.median(op_times[op] for op in traced_ops) / statistics.median(untraced),
            "ratio",
        ),
        **{name: _m(value, unit) for name, (value, unit) in probed.items()},
    }


# ---------------------------------------------------------------- run
def run(workload: str, seed: int, seconds: int, trace: bool, size: str, work: str) -> dict:
    from perfbench import layers as L
    from perfbench import workloads as W
    from perfbench.trace import Tracer, read_event_log

    context = {
        "workload": workload, "seed": seed, "size": size,
        "loadavg_start": os.getloadavg(), "canary_start_s": cpu_canary_s(),
    }
    attempted = failed = 0
    # memory peaks over the whole run: set-up included, since the cold
    # first pass is where the heap grows
    mem = MemorySampler()
    mem.start()
    t_start = time.perf_counter()
    spark = start_session(work, trace)
    try:
        setup = {"session": time.perf_counter() - t_start}
        cores = spark.sparkContext.defaultParallelism
        context["cpus_effective"] = cores
        tracer = Tracer(spark, trace)
        tracer.op = "setup"
        if workload == "backfill":
            wl = W.Backfill(spark, tracer, work, seed, size)
        else:
            wl = W.TailFollow(spark, tracer, work, seed, size, seconds)
        t = time.perf_counter()
        wl.generate()
        setup["gen"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        setup["warmup"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t_start

        # closed loop: the next operation starts when the previous one
        # has committed; traced runs alternate traced and untraced ops
        # so the tracing overhead is measured in the same run
        op_times: dict[int, float] = {}
        rows, written = [], {}
        min_ops = 2 if trace else 1
        deadline = time.perf_counter() + seconds
        i = 0
        while (time.perf_counter() < deadline or i < min_ops) and wl.has_next():
            tracer.enabled = trace and i % 2 == 0
            tracer.op = i
            wl.before_op()
            attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    n = wl.op(i)
            except Exception:
                traceback.print_exc()
                failed += 1
                break
            op_times[i] = time.perf_counter() - t
            rows.append(n)
            if tracer.enabled:
                written[i] = wl.written(i)
            i += 1
        mem.stop()
        if not op_times:
            raise RuntimeError("no operation completed")
        tracer.enabled = trace
        tracer.op = "end"
        attempted += 1
        compaction = wl.compact()
        checks = wl.finish()
        probed = {}
        if trace:
            probe_layers(spark, tracer, wl)
            for probe in (L.probe_windows, L.probe_stream):
                metrics, more = probe(spark, work, seed, size)
                probed.update(metrics)
                checks += more
        for name, problem in checks:
            attempted += 1
            if problem is not None:
                failed += 1
                print(f"check failed: {name}: {problem}", file=sys.stderr)
        context.update({
            "ops": len(op_times), "op_s": list(op_times.values()),
            "rows_per_op": rows[0], "checks": len(checks),
            "loadavg_end": os.getloadavg(), "canary_end_s": cpu_canary_s(),
        })
    finally:
        mem.stop()
        stop_session(spark)
    print(json.dumps({"perfbench_context": context}))

    if trace:
        jobs = read_event_log(os.path.join(work, "events"))
        traced_ops = sorted(op for op in op_times if op % 2 == 0)
        metrics = per_layer_metrics(
            tracer, jobs, setup, op_times, traced_ops, written, compaction, cores, probed
        )
    else:
        metrics = end_to_end_metrics(setup_s, list(op_times.values()), rows, mem.peak)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "tail_follow"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the package (missing {missing})", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # pin the run: every core this process may use, a heap that fits
    # the host, and scratch space inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
