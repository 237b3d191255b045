"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload medallion_cdc --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

Run from the repository root. Inputs are generated from the seed under
``.perfbench_work/`` and removed afterwards; Spark's local, temp, warehouse
and event-log directories live there too. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). README.md defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from typing import NamedTuple

import gen
import tracing
from metrics import LAYER_UNITS, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("medallion_cdc", "llm_corpus")
SETUP_REPS = 3
MIN_ROUNDS = 2  # so that every per-round median has two samples


class Op(NamedTuple):
    """One timed operation."""

    kind: str
    lat: float  # wall seconds
    cpu: float  # CPU seconds of the client process tree (tracing.tree_cpu_s)
    rows: int  # input rows it consumed
    failed: bool
    start: float  # time.time() at start and end, for event-log windows
    end: float


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or None with fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


class Agg:
    """Span and job aggregates over the timed ops of a traced run."""

    def __init__(self, tracer, jobs, timed_root):
        self.spans = tracer.spans
        by_id = {s.sid: s for s in self.spans}
        self.timed = set()
        for s in self.spans:  # parents precede children in span order
            if s.parent == timed_root or s.parent in self.timed:
                self.timed.add(s.sid)
        self.op_time = sum(by_id[i].dur for i in self.timed if by_id[i].name.startswith("op."))
        self.job_names: list[tuple[object, set[str]]] = []
        for j in jobs:
            sid = tracing.span_of(j)
            names = set()
            while sid is not None and sid in self.timed:
                names.add(by_id[sid].name)
                sid = by_id[sid].parent
            if names:
                self.job_names.append((j, names))

    def count(self, name: str) -> int:
        return sum(1 for i in self.timed if self.spans[i].name == name)

    def share(self, name: str) -> float:
        t = sum(self.spans[i].dur for i in self.timed if self.spans[i].name == name)
        return t / self.op_time if self.op_time else 0.0

    def jobs(self, name: str) -> int:
        return sum(1 for _, names in self.job_names if name in names)

    def input_rows(self, name: str) -> int:
        return sum(j.input_rows for j, names in self.job_names if name in names)


def run_all(args) -> int:
    """Run every workload in turn, each in its own process."""
    results, code = {}, 0
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(f"[{wl}] {line}" for line in lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"[{wl}] exited with {proc.returncode}", file=sys.stderr)
            code = 1
            continue
        results[wl] = json.loads(lines[-1])
    if code:
        return code
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{wl}.{k}": v for wl, r in results.items() for k, v in r["metrics"].items()},
    }))
    return 0


def start_spark(work: str, traced: bool, cores: int):
    from incremental_data_pipeline_spark.session import get_spark

    # JVM options that make op CPU time repeatable from run to run: a heap
    # of fixed size and a single-threaded collector (no heap resizing, no
    # GC threads spinning), a fixed set of JIT compiler threads (a thread
    # that exits would take its CPU out of the subtraction in
    # tracing.tree_cpu_s), and compile thresholds at a tenth of the
    # default, so the JIT settles during set-up rather than mid-window.
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            "-Xms2g -XX:+UseSerialGC -XX:-UseDynamicNumberOfCompilerThreads "
            f"-XX:CompileThresholdScaling=0.1 -Dderby.system.home={work}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=max(cores, 4), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session is usable only once a job has run
    return spark


class Stopper:
    """Stops Spark once and waits for the driver JVM to exit."""

    def __init__(self, spark):
        self.spark = spark

    def __call__(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    try:
        import incremental_data_pipeline_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine not importable from {os.getcwd()}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # An inherited SPARK_LOCAL_DIRS would override spark.local.dir.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        return run_one(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # kept while another run uses it
        except OSError:
            pass


def run_one(args, work: str) -> int:
    cores = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    t0 = time.perf_counter()
    inputs = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_spark(work, traced, cores)
    session_s = time.perf_counter() - t0
    stop = Stopper(spark)
    try:
        return measure(args, work, spark, stop, inputs, cores, traced, gen_s, session_s)
    finally:
        stop()


def measure(args, work, spark, stop, inputs, cores, traced, gen_s, session_s) -> int:
    from llm_corpus import LlmCorpus
    from medallion_cdc import MedallionCDC

    sc = spark.sparkContext
    tracer = tracing.Tracer(sc, traced)
    cls = {"medallion_cdc": MedallionCDC, "llm_corpus": LlmCorpus}[args.workload]
    t0 = time.perf_counter()
    wl = cls(spark, tracer, inputs, work, cores)  # oracle pre-computation
    oracle_s = time.perf_counter() - t0
    shims = tracing.Shims(tracer, wl.shim_targets() if traced else [])
    failures: list[str] = []
    me = os.getpid()

    def run_round(record: list | None) -> bool:
        """Run one round's ops in order (a warm-up round when ``record`` is
        None); False once an op raises."""
        for kind, op, deliver in wl.rounds(warmup=record is None):
            if deliver is not None:
                deliver()
            snap = wl.before_op(kind) if record is not None else None
            start = time.time()
            cpu = tracing.tree_cpu_s(me)
            t = time.perf_counter()
            try:
                with tracer.span(f"op.{kind}"):
                    rows, err = op()
            except Exception:  # an op that raises is a failed op; stop the loop
                traceback.print_exc()
                failures.append(f"{kind} raised")
                if record is not None:
                    record.append(Op(kind, time.perf_counter() - t,
                                     tracing.tree_cpu_s(me) - cpu, 0, True, start, time.time()))
                return False
            lat = time.perf_counter() - t
            cpu = tracing.tree_cpu_s(me) - cpu
            if err:
                failures.append(err)
            if record is not None:
                record.append(Op(kind, lat, cpu, rows, bool(err), start, time.time()))
                wl.after_op(kind, snap)
        return True

    with shims:
        reps = []
        with tracer.span("phase.setup"):
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                wl.setup(rep)
                reps.append(time.perf_counter() - t)
            t = time.perf_counter()
            ok = run_round(None)  # one warm-up round, untimed
            warmup_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(reps) + warmup_s

        ops: list[Op] = []
        rounds: list[Op] = []  # a round's ops summed, kind "round"
        round_ops: list[list[Op]] = []
        wl.start_timed()
        rss = tracing.PeakRss(sc._jvm.java.lang.ProcessHandle.current().pid())
        cpu0 = tracing.cpu_times()
        rss.start()
        t_begin = time.perf_counter()
        with tracer.span("phase.timed") as timed_span:
            # Whole rounds only, so every run measures the same op mix: a
            # round starts while the window is open and always completes.
            while ok and (time.perf_counter() - t_begin < args.seconds
                          or len(rounds) < MIN_ROUNDS):
                first = len(ops)
                w0 = time.time()
                ok = run_round(ops)
                mine = ops[first:]
                round_ops.append(mine)
                rounds.append(Op("round", sum(o.lat for o in mine), sum(o.cpu for o in mine),
                                 sum(o.rows for o in mine), not ok, w0, time.time()))
        timed_s = time.perf_counter() - t_begin
        peak_rss_mb = rss.stop()
        host = tracing.host_usage(cpu0, tracing.cpu_times())
        space_amp = wl.state_bytes() / wl.input_bytes()

        with tracer.span("phase.check"):
            try:
                problems = wl.final_checks()
            except Exception:
                traceback.print_exc()
                problems = ["final check raised"]
    failures += problems

    kinds = ("write", "read", "curate")
    lat = {k: [o.lat for o in ops if o.kind == k] for k in kinds}
    cpu = {k: [o.cpu for o in ops if o.kind == k] for k in kinds}
    rows = sum(r.rows for r in rounds)
    attempted = len(ops) + 1  # every timed op plus the final state check
    failed = sum(1 for o in ops if o.failed) + (1 if problems or not ok else 0)

    def p50(xs) -> float:
        return statistics.median(xs) if xs else 0.0

    def per_round(kind: str) -> float:
        """Median over rounds of the mean CPU seconds of one ``kind`` op in
        the round. Every round runs the same op sequence, and the reads of
        one round get cheaper after its write, so the round mean is the
        steady unit."""
        means = [statistics.fmean(o.cpu for o in r if o.kind == kind) for r in round_ops
                 if any(o.kind == kind for o in r)]
        return p50(means)

    # Op costs are CPU seconds, not wall seconds: wall time on a shared
    # host swings with the hypervisor's steal; the wall figures are printed.
    e2e = {
        "setup_s": (setup_s, "s"),
        "rows_per_cpu_s": (rows / max(1e-9, sum(r.cpu for r in rounds)), "rows/cpu_s"),
        "write_cpu_s": (per_round("write"), "cpu_s"),
        "read_cpu_s": (per_round("read"), "cpu_s"),
        "space_amp": (space_amp, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    wall_rows_per_s = rows / max(1e-9, sum(r.lat for r in rounds))
    round_p50_s = p50([r.lat for r in rounds])

    print(f"workload={args.workload} seed={args.seed} cores={cores} traced={int(traced)} "
          f"timed_s={timed_s:.2f} rounds={len(rounds)} ops={len(ops)}")
    print(f"setup: session_s={session_s:.3f} reps_s={[round(r, 3) for r in reps]} "
          f"warmup_s={warmup_s:.3f} (excluded: generate_s={gen_s:.3f} oracle_s={oracle_s:.3f})")
    for k, v in lat.items():
        if v:
            tl = tail(v)
            tail_txt = f"p{tl[0]:.0f}={tl[1]:.4f}" if tl else "n/a (<11 samples)"
            print(f"{k}: n={len(v)} p50_s={statistics.median(v):.4f} tail {tail_txt} "
                  f"cpu_p50_s={statistics.median(cpu[k]):.4f}")
    print(f"wall: rows_per_s={wall_rows_per_s:.3f} round_p50_s={round_p50_s:.4f} "
          f"round_cpu_p50_s={p50([r.cpu for r in rounds]):.3f}")
    print("op wall/cpu s: " + " ".join(f"{o.kind}={o.lat:.3f}/{o.cpu:.2f}" for o in ops))
    print(f"error_rate={failed / attempted:.4f} host.cpu_busy_frac={host['cpu_busy_frac']:.3f} "
          f"host.steal_pct={host['steal_pct']:.3f}")
    for k, v in wl.report().items():
        print(f"{k}={v:.4f}")
    for f in failures:
        print(f"FAILED: {f}")

    if not traced:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        stop()  # the event log is complete once the app ends
        metrics, attr_ok = traced_metrics(work, tracer, timed_span, wl, rounds, ops, host)
        if not attr_ok:
            failed += 1
        print(f"trace: round_p50_s={round_p50_s:.4f} rows_per_cpu_s={e2e['rows_per_cpu_s'][0]:.4f} "
              "(compare with the untraced run)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def traced_metrics(work, tracer, timed_span, wl, rounds, ops, host):
    logs = os.listdir(os.path.join(work, "eventlog"))
    jobs = tracing.parse_event_log(os.path.join(work, "eventlog", logs[0]))
    agg = Agg(tracer, jobs, timed_span.sid)

    # Job attribution: every job is charged to exactly one known span or
    # reported as unattributed; the two must add up to the log's total.
    by_span: dict[str, int] = {}
    unattributed = 0
    for j in jobs:
        sid = tracing.span_of(j)
        if sid is None:
            unattributed += 1
        elif sid < len(tracer.spans):
            name = tracer.spans[sid].name
            by_span[name] = by_span.get(name, 0) + 1
    attr_ok = sum(by_span.values()) + unattributed == len(jobs)
    print(f"jobs: total={len(jobs)} attributed={sum(by_span.values())} "
          f"unattributed={unattributed} sum_check={'PASS' if attr_ok else 'FAIL'}")
    print("jobs by span: " + json.dumps(dict(sorted(by_span.items()))))

    kids = tracer.children()
    seconds: dict[str, list[float]] = {}  # name -> [inclusive, self]
    for sid in agg.timed:
        s = tracer.spans[sid]
        acc = seconds.setdefault(s.name, [0.0, 0.0])
        acc[0] += s.dur
        acc[1] += tracer.self_time(s, kids)
    print("timed span seconds (inclusive/self): " + json.dumps(
        {n: [round(v, 4) for v in seconds[n]] for n in sorted(seconds)}))

    vals = {}
    per_round = [tracing.engine_totals(jobs, r.start, r.end) for r in rounds]
    for key in per_round[0]:
        vals[f"spark.{key}"] = sum(r[key] for r in per_round) / len(per_round)
    for kind in ("write", "read"):
        sel = [tracing.engine_totals(jobs, o.start, o.end) for o in ops if o.kind == kind]
        for key in ("jobs", "driver_s"):
            vals[f"spark.{kind}.{key}"] = sum(r[key] for r in sel) / max(1, len(sel))
    vals["host.cpu_busy_frac"] = host["cpu_busy_frac"]
    vals["host.steal_pct"] = host["steal_pct"]
    vals["trace.overhead_frac"] = tracer.instrument_s / max(1e-9, agg.op_time)
    vals["trace.unattributed_jobs"] = unattributed
    vals.update(wl.layer_metrics(agg))
    # A layer this workload never calls reads 0.
    metrics = {n: {"value": vals.get(n, 0.0), "unit": LAYER_UNITS[n]} for n in PER_LAYER}
    return metrics, attr_ok


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())  # the engine package, from the repository root
    sys.exit(main())
