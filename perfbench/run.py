"""Seeded geotag -> join -> tile benchmark for the s2spark engine.

    python3 perfbench/run.py --workload geotag_uniform --seed 1 --seconds 2 --trace 0

Runs from the root of a checkout, at ``local[nproc]`` with a fixed,
pre-touched 2 GB driver heap, as a closed loop: one Spark job at a time, the
next started only when the previous one has finished.  The corpus comes from ``--seed``
and is written once to parquet under ``.perfbench_work/``; every job's output
is checked against an independent DuckDB answer over the same parquet, and a
job whose output the oracle rejects counts as failed.

``--trace 0`` reports the end-to-end metrics, plus a ``failed_ratio`` line:

- ``images_per_s``: input rows over the median wall time of the jobs run
  after the set-up's cold job, for ``--seconds`` and at least
  ``MIN_TIMED_JOBS`` jobs;
- ``setup_s``: session start (a fresh JVM) plus the first, cold execution of
  the job, with its Python worker start-up and JIT warm-up; the median of
  ``SETUPS`` set-ups, each in a fresh driver process and JVM.  The earlier
  ones run in child processes of this one; the last runs here and goes on
  to the timed jobs;
- ``peak_rss_mb``: peak summed RSS of the driver, JVM and Python workers.

``--trace 1`` starts one session, times the job untraced, then re-runs it
with spans and a plan listener and reports the per-layer metrics, plus the
kernel/UDF micro metrics measured in a single-thread process before Spark
starts.  Spans, plan rows, the chosen join arm, peak RSS and the tracing
overhead are written to ``.perfbench_work/trace/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
MIN_TIMED_JOBS = 3
TRACED_JOBS = 2


# The end-to-end metric each per-layer metric should move, by name prefix
# (the longest matching prefix wins).  Printed beside every per-layer value
# and written into the trace dump, so a layer's change is read against the
# end-to-end figure it is meant to explain.
MOVES = {
    "kernel.": "images_per_s",
    "kernel.decode": "none (compared with the reference only)",
    "geometry.": "setup_s",
    "functions.": "images_per_s",
    "session.": "setup_s",
    "plan.": "images_per_s, setup_s",
    "encode_hop.": "images_per_s, setup_s",
    "token_hop.": "images_per_s, setup_s",
    "refine_hop.": "images_per_s",
    "stab_hop.": "images_per_s",
    "ring_hop.": "images_per_s",
    "pip_join.": "images_per_s",
    "pip_join.construct_ms": "setup_s, images_per_s",
    "broadcast.": "images_per_s; heap use shows in jvm.peak_heap_mb",
    "exchange.": "images_per_s; heap use shows in jvm.peak_heap_mb",
    "spill.": "images_per_s",
    "scan.": "images_per_s",
    "codegen.": "images_per_s",
    "jvm.": "none (the fixed heap keeps heap use out of peak_rss_mb)",
    "geodedup.": "images_per_s",
    "trace.": "none (cost of tracing itself)",
}


def moves(metric: str) -> str:
    return MOVES[max((p for p in MOVES if metric.startswith(p)), key=len, default="trace.")]


def _metric_units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json.  Every
    per-layer name is reported on every workload, 0 where the layer does no
    work there; plan times are task-time sums."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _setup_env() -> None:
    """Keep every file Spark and its workers write inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # A fixed, pre-touched 2 GB driver heap instead of the session's
    # growable 8 GB default: it holds these corpora and keeps the run small
    # on a shared machine.  A growable heap, or a fixed one filled lazily,
    # grows by a different amount on every run and made peak RSS bimodal;
    # pre-touched, the heap is a constant 2 GB of peak_rss_mb, which then
    # moves with the memory outside the heap (Python workers, Arrow and
    # other off-heap buffers), while the traced run reports the heap in use
    # as jvm.peak_heap_mb.  Pre-touching adds about 0.5 s to each JVM start.
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session():
    from s2_geometry_library_java_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_heap_mb(spark) -> float:
    """Sum over the JVM's heap pools of each pool's peak use since start."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    heap = jvm.java.lang.management.MemoryType.HEAP
    return sum(p.getPeakUsage().getUsed() for p in pools if p.getType().equals(heap)) / 2**20


def run_micro(seed: int) -> dict[str, float]:
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "micro.py"), "--seed", str(seed)],
        env=env, cwd=ROOT, check=True, capture_output=True, text=True, timeout=120,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


class Bench:
    def __init__(self, workload, corpus_dir: str, expected):
        self.wl = workload
        self.corpus = corpus_dir
        self.expected = expected
        self.attempted = 0
        self.failed = 0

    def job(self, ctx) -> tuple[float, object]:
        t0 = time.perf_counter()
        result = self.wl.job(ctx)
        elapsed = time.perf_counter() - t0
        self.attempted += 1
        bad = self.wl.check(result, self.expected)
        if bad:
            self.failed += 1
            print(f"[{self.wl.name}] output check failed: {bad[:3]}", file=sys.stderr)
        return elapsed, result

    def context(self, spark, tracer, layers=None):
        from perfbench.workloads import JobContext, build_layers

        return JobContext(spark, self.corpus, layers or build_layers(), tracer)


def _timed_loop(bench: Bench, ctx, seconds: float) -> list[float]:
    times: list[float] = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(times) < MIN_TIMED_JOBS:
        times.append(bench.job(ctx)[0])
    return times


def setup(bench: Bench):
    """Session start plus the first, cold job: (seconds, session)."""
    from perfbench.probes import NullTracer

    t0 = time.perf_counter()
    spark = start_session()
    try:
        bench.job(bench.context(spark, NullTracer()))
    except BaseException:
        stop_session(spark)
        raise
    return time.perf_counter() - t0, spark


def setup_in_child(bench: Bench, seed: int) -> float:
    """One set-up in a fresh driver process; its job counts as attempted."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", bench.wl.name, "--seed", str(seed),
         "--seconds", "0", "--setup-only"],
        cwd=ROOT, check=True, capture_output=True, text=True, timeout=150,
    )
    child = json.loads(out.stdout.strip().splitlines()[-1])
    bench.attempted += child["attempted"]
    bench.failed += child["failed"]
    return child["setup_s"]


def run_untraced(bench: Bench, seconds: float, seed: int) -> dict[str, float]:
    from perfbench.probes import NullTracer, RssSampler

    with RssSampler() as rss:
        setups = [setup_in_child(bench, seed) for _ in range(SETUPS - 1)]
        setup_s, spark = setup(bench)
        setups.append(setup_s)
        try:
            times = _timed_loop(bench, bench.context(spark, NullTracer()), seconds)
        finally:
            stop_session(spark)
    print(f"[{bench.wl.name}] setups {[round(t, 2) for t in setups]} s; "
          f"timed jobs {[round(t, 2) for t in times]} s", file=sys.stderr)
    return {
        "images_per_s": bench.wl.rows / statistics.median(times),
        "setup_s": statistics.median(setups),
        "peak_rss_mb": rss.peak / 2**20,
    }


def run_traced(bench: Bench, seconds: float, seed: int, micro: dict) -> dict[str, float]:
    from perfbench import plans
    from perfbench.micro import REFERENCE_US
    from perfbench.probes import NullTracer, RssSampler, Tracer

    run_id = f"{bench.wl.name}-s{seed}-{os.getpid()}"
    tracer = Tracer(run_id)
    with RssSampler() as rss:
        with tracer.span("session.get_spark"):
            spark = start_session()
        try:
            ctx = bench.context(spark, NullTracer())
            bench.job(ctx)  # the cold job; timing starts warm
            untraced = _timed_loop(bench, ctx, seconds)
            listener = plans.PlanListener(spark)
            listener.drain()
            tracer.plan_source = listener
            traced, per_job = [], []
            for _ in range(TRACED_JOBS):
                first = len(tracer.spans)
                with tracer.span("job", workload=bench.wl.name):
                    elapsed, result = bench.job(bench.context(spark, tracer, ctx.layers))
                traced.append(elapsed)
                spans = tracer.spans[first:]
                queries = [q for s in spans for q in s.get("plans", [])]
                layer = _job_layer_metrics(bench, spans, queries, result)
                arm = plans.join_arm([n for q in queries for n in q["nodes"]])
                for s in spans:
                    if s["name"] == "operators.pip_join":
                        s["attrs"]["join_arm"] = arm
                per_job.append(layer)
            listener.unregister()
            heap_mb = peak_heap_mb(spark)
        finally:
            stop_session(spark)
    metrics = {k: statistics.median(j.get(k, 0.0) for j in per_job) for k in per_job[0]}
    metrics.update(micro)
    metrics["session.start_ms"] = _span_ms(tracer.spans, "session.get_spark")
    overhead = statistics.median(traced) / statistics.median(untraced) - 1.0
    metrics["trace.overhead_ratio"] = overhead
    metrics["jvm.peak_heap_mb"] = heap_mb
    join_span = next((s for s in tracer.spans if s["name"] == "operators.pip_join"), {"attrs": {}})
    summary = {
        "workload": bench.wl.name,
        "seed": seed,
        "untraced_job_s": untraced,
        "traced_job_s": traced,
        "tracing_overhead": f"traced median {statistics.median(traced):.3f} s vs untraced "
        f"{statistics.median(untraced):.3f} s: {overhead:+.1%}",
        "peak_rss_mb": rss.peak / 2**20,
        "join_arm": join_span["attrs"].get("join_arm", "none"),
        "kernel_reference_us": REFERENCE_US,
        "self_time_ms": tracer.self_times_ms(),
        "moves": {k: moves(k) for k in metrics},
        "per_layer": metrics,
    }
    dump = os.path.join(WORK, "trace", f"{run_id}.json")
    tracer.dump(dump, summary)
    print(f"[{bench.wl.name}] {summary['tracing_overhead']}; join arm {summary['join_arm']}; "
          f"spans in {os.path.relpath(dump, ROOT)}", file=sys.stderr)
    return metrics


def _span_ms(spans: list[dict], name: str) -> float:
    return sum((s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name)


def _job_layer_metrics(bench: Bench, spans: list[dict], queries: list[dict], result) -> dict[str, float]:
    from perfbench import plans

    m = plans.layer_metrics(queries)
    m["pip_join.construct_ms"] = _span_ms(spans, "operators.pip_join")
    cand = m.get("pip_join.candidates", 0.0)
    m["pip_join.refine_yield"] = m.get("pip_join.matches", 0.0) / cand if cand else 0.0
    if bench.wl.name == "neardup_hotcell":
        m["geodedup.construct_ms"] = _span_ms(spans, "operators.geodedup.geo_neardup_pairs")
        # an input property of the corpus under the program's blocking,
        # computed with the oracle; pair_yield is pairs over these candidates
        cand = bench.expected["candidate_pairs"]
        m["geodedup.candidate_pairs"] = float(cand)
        m["geodedup.pairs"] = float(result[0])
        m["geodedup.pair_yield"] = result[0] / cand if cand else 0.0
    return m


def _expected(wl, corpus_dir: str, layers):
    """The oracle's answer, computed once per corpus and kept beside it."""
    path = f"{corpus_dir}.expected_{wl.name}.json"
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(wl.expected(corpus_dir, layers), fh)
        os.replace(tmp, path)
    with open(path) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # one set-up only, printed as JSON: what setup_in_child runs
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    _setup_env()
    try:
        import pyspark  # noqa: F401

        import s2_geometry_library_java_spark  # noqa: F401
        from perfbench import corpus
        from perfbench.workloads import WORKLOADS, build_layers
    except ImportError as exc:
        print(f"cannot import the program or its stack: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    corpus_dir = corpus.materialize(WORK, wl.shape, args.seed, wl.rows)
    expected = _expected(wl, corpus_dir, build_layers())
    bench = Bench(wl, corpus_dir, expected)
    if args.setup_only:
        setup_s, spark = setup(bench)
        stop_session(spark)
        print(json.dumps({"setup_s": setup_s, "attempted": bench.attempted, "failed": bench.failed}))
        return 0
    if args.trace:
        micro = run_micro(args.seed)
        values = run_traced(bench, args.seconds, args.seed, micro)
        units = _metric_units("per_layer")
    else:
        values = run_untraced(bench, args.seconds, args.seed)
        units = _metric_units("end_to_end")
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}
    for name, m in metrics.items():
        note = f"  -> {moves(name)}" if args.trace else ""
        print(f"{wl.name:20s} {name:45s} {m['value']:16.6f} {m['unit']}{note}")
    print(f"{wl.name:20s} {'failed_ratio':45s} {bench.failed / bench.attempted:16.6f} ratio")
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
