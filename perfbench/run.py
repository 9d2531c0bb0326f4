"""Benchmark of the adopt_spark link-graph engine.

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run:

1. starts a local Spark session sized to this machine (``local[nproc-1]``,
   a heap that fits in RAM, console progress off) with every scratch file
   under ``.perfbench_work/`` in the checkout;
2. sets up: generates the workload's corpus from ``--seed``, writes it to
   parquet and computes reference results without the engine, repeated
   ``SETUP_REPEATS`` times (the median counts), then runs one untimed
   warm-up pass;
3. runs timed passes until ``--seconds`` is spent (at least one), checks
   every result against the reference, and prints one line per metric
   and, last, one JSON object.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs with an
uncompressed Spark event log, sets up with one input repetition, runs
``TRACED_PASSES`` passes with every engine call in its own job group, and
reports per-layer counters derived from the log; ``trace.wall_s`` against
the untraced run's ``wall_s`` is the tracing overhead. Exit code 2 means
the engine package is not in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_pipeline", "dense_wcoj")
SETUP_REPEATS = 3
TRACED_PASSES = 2


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(msg, flush=True)


def _vm_hwm_kib(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:   # the process has exited
        pass
    return 0


def _reset_hwm(pid: int | str) -> None:
    """Restart a process's peak-RSS count (VmHWM) from its current RSS."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _descendants(pid: int) -> list[int]:
    """Live descendant processes of ``pid`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


class Session:
    """The run's one driver JVM and its Spark contexts."""

    def __init__(self, work: str) -> None:
        self.work = work
        # one core stays with the Spark driver: planning, the JIT, GC and the
        # Python client run there (local[nproc] measured slower on 4 cores)
        self.cpus = max(1, len(os.sched_getaffinity(0)) - 1)
        with open("/proc/meminfo") as f:
            total_mib = int(f.readline().split()[1]) // 1024
        self.heap = f"{max(1024, min(2048, total_mib // 6))}m"
        for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        # the JVM and the Python workers inherit these
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        self.spark = None

    @property
    def event_log_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def start(self, event_log: bool = False):
        from adopt_spark.session import get_spark

        conf = {
            "spark.driver.memory": self.heap,
            # The serial collector grows the heap only when the live data
            # needs room (no pause-time goals), so the JVM's peak RSS follows
            # what the engine keeps alive; under G1 it moved by 10-30% from
            # run to run. No perf-data file in the system temp dir: the run
            # writes only in the checkout.
            "spark.driver.extraJavaOptions":
                "-XX:+UseSerialGC -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": str(event_log).lower(),
        }
        if event_log:
            conf.update({
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        return self.spark

    def settle(self, quiet_s: float = 0.5, max_s: float = 15.0) -> float:
        """Let the JVM finish what the warm-up started before timing: one
        full GC, then wait until the JIT compilers have been idle for
        ``quiet_s``. Returns the seconds spent."""
        t0 = time.time()
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        last, quiet_since = jit.getTotalCompilationTime(), time.time()
        while time.time() - t0 < max_s and time.time() - quiet_since < quiet_s:
            time.sleep(0.1)
            now = jit.getTotalCompilationTime()
            if now != last:
                last, quiet_since = now, time.time()
        return time.time() - t0

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def _engine_pids(self) -> list[int | str]:
        """This Python process, the JVM and the JVM's Python workers."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return ["self"] + ([proc.pid] + _descendants(proc.pid) if proc else [])

    def reset_peak_rss(self) -> None:
        gc.collect()
        for pid in self._engine_pids():
            _reset_hwm(pid)

    def peak_rss_mib(self) -> float:
        """Sum of the peak RSS, since ``reset_peak_rss``, of the driver
        Python process, the JVM and the Python workers alive now."""
        pids = self._engine_pids()
        kib = [_vm_hwm_kib(p) for p in pids]
        log(f"peak rss: python {kib[0] / 1024:.1f} MiB, jvm {kib[1] / 1024:.1f} MiB, "
            f"{len(kib) - 2} python workers {sum(kib[2:]) / 1024:.1f} MiB")
        return sum(kib) / 1024.0

    def shutdown(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_context()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()   # the gateway server exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(passes, setup_s: float, props: dict, peak_mib: float) -> dict:
    def op_s(label):
        return median(p.op(label).seconds for p in passes)

    steps = [s for p in passes for s in p.supersteps.get("pr", [])]
    ingest_s = median(x.seconds + v.seconds for p in passes
                      for x, v in zip(p.ops_of("extract"), p.ops_of("vertices")))
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (median(p.wall_s for p in passes), "s"),
        "files_per_s": (props["files"] / ingest_s if ingest_s else 0.0, "1/s"),
        "pagerank_edges_per_s": (passes[0].pr_edges / median(steps) if steps else 0.0,
                                 "edges/s"),
        "resume_s": (op_s("pagerank_resume"), "s"),
        "triangles_s": (op_s("triangles_auto"), "s"),
        "peak_rss_mib": (peak_mib, "MiB"),
    }


def per_layer(traced, session_s: float, spec, tracer, event_log) -> tuple[dict, list]:
    from perfbench import trace

    rows = []
    for p in traced:
        calls = [s for s in tracer.spans if s.parent == p.span_id]
        c = trace.layer_counters(calls, event_log)
        c["session.wall_s"] = session_s
        for layer, key in (("pagerank", "pr"), ("cc", "cc"), ("lpa", "lpa")):
            steps = p.supersteps.get(key)
            if steps:
                c[f"{layer}.supersteps"] = len(steps)
                c[f"{layer}.jobs_per_superstep"] = c.get(f"{layer}.jobs", 0) / len(steps)
                c[f"{layer}.superstep_s"] = median(steps)
        recs = [r for rs in p.ckpt_metrics.values() for r in rs]
        c["checkpoint.wall_s"] = sum(r.get("write_sec", 0.0) for r in recs)
        c["checkpoint.write_s"] = sum(r.get("write_sec", 0.0) for r in recs if r.get("path"))
        c["checkpoint.snapshots"] = sum(1 for r in recs if r.get("path"))
        c["extract.rows_out"] = p.rows_out
        if spec.salted:
            c["skew.task_skew"], c["skew.record_skew"] = trace.task_skew(
                [s for s in calls if s.name == "pagerank"], event_log)
        c["trace.wall_s"] = p.wall_s
        rows.append(c)
    exact, varying = trace.repeatability(rows)
    out = {name: (median(r.get(name, 0) for r in rows), unit)
           for name, unit, _ in trace.per_layer_catalogue()}
    return out, [exact, varying]


def report_pass(p, kind: str) -> None:
    ops = " ".join(f"{o.label}={o.seconds:.3f}" for o in p.ops)
    steps = " ".join(f"{k}_supersteps={len(v)}" for k, v in p.supersteps.items())
    log(f"pass {p.index} ({kind}) wall_s={p.wall_s:.3f} failed={p.failed} {ops} {steps}")
    for o in p.ops:
        if o.error:
            print(f"pass {p.index} {o.label} FAILED: {o.error}", file=sys.stderr)


def run(args, work: str) -> dict:
    from adopt_spark.corpus import corpus_df

    from perfbench import inputs, trace, workloads

    spec = workloads.SPECS[args.workload]
    session = Session(work)
    tracer = trace.Tracer()
    try:
        t0 = time.time()
        spark = session.start(event_log=bool(args.trace))
        session_s = time.time() - t0
        log(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
            f"local[{session.cpus}] heap={session.heap}")

        corpus_path = os.path.join(work, "inputs", "corpus.parquet")
        input_s = []
        # set-up time is an end-to-end metric, so only untraced runs repeat it
        for _ in range(1 if args.trace else SETUP_REPEATS):
            t = time.time()
            corpus = inputs.make_corpus(args.workload, args.seed)
            (corpus_df(spark, corpus, num_partitions=session.cpus)
             .write.mode("overwrite").parquet(corpus_path))
            ref = workloads.compute_reference(spec, corpus)
            input_s.append(time.time() - t)
        props = ref.props
        plan = ("join" if props["wedge_edge_ratio"] < 8 else "csr")
        log("input " + " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                                for k, v in props.items()) + f" triangle_auto_plan={plan}")

        runner = workloads.PassRunner(spark, spec, corpus_path, ref,
                                      os.path.join(work, "ckpt"), tracer)
        t = time.time()
        warm = runner.run(0)
        settle_s = session.settle()
        warmup_s = time.time() - t
        report_pass(warm, "warm-up")
        log(f"settle_s={settle_s:.3f} (GC, then JIT idle)")
        setup_s = session_s + median(input_s) + warmup_s
        log(f"setup_s={setup_s:.3f} = session {session_s:.3f} + inputs "
            f"{median(input_s):.3f} (median of {len(input_s)}: "
            + ", ".join(f"{x:.3f}" for x in input_s) + f") + warm-up {warmup_s:.3f}")

        if args.trace:
            tracer.sc = spark.sparkContext
            passes = [runner.run(1 + i) for i in range(TRACED_PASSES)]
            for p in passes:
                report_pass(p, "traced")
            tracer.sc = None
            session.stop_context()   # closes the event log
            metrics, (exact, varying) = per_layer(
                passes, session_s, spec, tracer,
                trace.read_event_log(session.event_log_dir))
            log("counters equal on every traced pass: " + ", ".join(exact))
            log("counters that vary: " + (", ".join(
                f"{k} [{lo:g}..{hi:g}]" for k, (lo, hi) in varying.items()) or "none"))
            log("layer metric -> end-to-end metric | moves on | should not move on")
            for row in trace.LAYER_TO_END_TO_END:
                log("  " + " | ".join(row))
            tracer.write(os.path.join(ROOT, ".perfbench_out",
                                      f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            passes = []
            # peak memory counts from here: the timed passes, not set-up
            session.reset_peak_rss()
            t_start = time.time()
            while True:
                passes.append(runner.run(len(passes) + 1))
                report_pass(passes[-1], "timed")
                elapsed = time.time() - t_start
                if elapsed + median(p.wall_s for p in passes) > args.seconds:
                    break
            peak = session.peak_rss_mib()
            metrics = end_to_end(passes, setup_s, props, peak)
    finally:
        session.shutdown()

    attempted = sum(len(p.ops) for p in passes)
    failed = sum(p.failed for p in passes)
    basis = f"median of {len(passes)} {'traced' if args.trace else 'timed'} passes"
    for name, (value, unit) in metrics.items():
        log(f"metric {name} {value:.6g} {unit} ({basis})")
    log(f"metric ops_failed_frac {failed / attempted:.6g} frac ({failed} of {attempted} timed operations)")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    # import the engine and this package from the checkout root, never
    # this directory (its module names would shadow the standard library's)
    sys.path[0] = ROOT
    if importlib.util.find_spec("adopt_spark") is None:
        print(f"perfbench: no adopt_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
