"""Benchmark entry point: one seeded workload, end to end or traced.

    python3 perfbench/run.py --workload vector_search --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Each run is a closed loop: one client
issues the workload's registered queries serially on local[nproc], and
nothing else runs concurrently.

Untraced (``--trace 0``) protocol, in one process:

1. set-up, timed from process start: import the program,
   ``registry.load_all`` and ``get_spark`` (which ships the package to
   the Python workers);
2. an untimed warm-up pass on a small corpus, so JIT compilation and
   Python-worker start-up do not land in the timed passes;
3. one cold pass over each of ``COLD_CORPORA`` corpora this process has
   never seen; the median is reported;
4. warm passes over the last of them, nothing cleared, until
   ``--seconds`` have passed (at least ``MIN_WARM``); the median is
   reported;
5. the output check on that corpus, outside the timed region;
6. the host gauge from ``tools/host_probe.py`` once Spark has stopped,
   written to ``.perfbench_out/``;
7. every process the run started, directly or not, is stopped and
   waited for before the process exits, on every path out of it.

Each timed pass calls ``fn(spark, sf_dir)`` and writes the result to
the noop sink. The traced run (``--trace 1``) repeats the passes with
spans and status-store probes on, next to untraced passes, and reports
the per-layer metrics and the tracing overhead (traced minus untraced).

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Spans and per-query
records of a traced run are written to ``.perfbench_out/`` at exit.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]

from workloads import WORKLOADS  # noqa: E402

MIN_WARM = 2
COLD_CORPORA = 2
WARMUP_SCALE = 0.25
PR_SET_CHILD_SUBREAPER = 36
OUT_DIR = Path(".perfbench_out")
WORK_DIR = Path(".perfbench_work")
ANN_BACKENDS = {
    "hyperplane_lsh": "lsh",
    "ivf": "ivf",
    "pq": "pq",
    "ivf_pq": "ivf_pq",
    "brp_l2": "brp_l2",
}


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` at the checkout root
    declares them for this mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def format_metrics(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """Every declared metric with its unit; a missing or undeclared
    metric is a benchmark bug, not a result."""
    units = declared_metrics(trace)
    if set(values) != set(units):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(units) - set(values))}, "
            f"undeclared {sorted(set(values) - set(units))}"
        )
    return {name: {"value": float(values[name]), "unit": units[name]} for name in units}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_env(work: Path) -> None:
    """Keep every file the program, Spark and the JVM write inside the
    checkout, and pin the core count. Must run before Spark starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def become_subreaper() -> None:
    """Adopt orphaned descendants, so ``stop_children`` can wait for
    them: the Python-worker daemon moves to its own process group and
    outlives the JVM that started it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me = str(os.getpid())
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            stat = Path("/proc", entry, "stat").read_text()
        except OSError:
            continue
        # the command name in parentheses may hold spaces: "pid (comm) state ppid ..."
        if stat.rsplit(")", 1)[1].split()[1] == me:
            kids.append(int(entry))
    return kids


def stop_children(grace_s: float = 5.0) -> None:
    """Wait for every child (orphaned descendants included, see
    ``become_subreaper``) to end: ``grace_s`` to exit on its own, then
    ``grace_s`` after SIGTERM, then SIGKILL. Reaps each one."""
    t0 = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = children()
        if not kids:
            return
        waited = time.monotonic() - t0
        sig = None if waited < grace_s else signal.SIGTERM if waited < 2 * grace_s else signal.SIGKILL
        if sig is not None:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def setup(traced: bool):
    """Import the program, register its queries and start the session.
    Returns (spark, phase seconds, setup seconds since process start)."""
    phases = {}
    from skills_vectors_spark import deploy, registry
    from skills_vectors_spark.session import get_spark

    t = time.perf_counter()
    registry.load_all()
    phases["registry.load_all_s"] = time.perf_counter() - t

    ship = deploy.ensure_workers_can_import
    shipped = []
    if traced:
        def timed_ship(spark):
            t0 = time.perf_counter()
            ship(spark)
            shipped.append(time.perf_counter() - t0)

        deploy.ensure_workers_can_import = timed_ship
    t = time.perf_counter()
    spark = get_spark("perfbench")
    deploy.ensure_workers_can_import(spark)
    total = time.perf_counter() - t
    deploy.ensure_workers_can_import = ship
    phases["deploy.ship_s"] = sum(shipped)
    phases["session.get_spark_s"] = total - sum(shipped)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, phases, time.perf_counter() - T_START


class Runner:
    """Issues one workload's queries and counts what it attempted."""

    def __init__(self, spark, names, work: Path, seed: int) -> None:
        self.spark = spark
        self.names = names
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.n_corpora = 0

    def corpus(self, scale: float = 1.0) -> str:
        from gen import generate

        path = self.work / f"corpus{self.n_corpora}"
        generate(path, [self.seed, self.n_corpora], scale)
        self.n_corpora += 1
        return str(path.resolve())

    def one(self, name: str, sf_dir: str, run) -> None:
        from skills_vectors_spark import registry

        self.attempted += 1
        try:
            run(registry.QUERIES[name], sf_dir)
        except Exception as exc:  # counted in error_rate, run continues
            self.failed += 1
            msg = f"{name}: raised {type(exc).__name__}: {str(exc)[:300]}"
            self.problems.append(msg)
            log("FAIL " + msg)

    def noop_pass(self, sf_dir: str) -> float:
        def run(fn, d):
            fn(self.spark, d).write.format("noop").mode("overwrite").save()

        per_query = {}
        t = time.perf_counter()
        for name in self.names:
            q = time.perf_counter()
            self.one(name, sf_dir, run)
            per_query[name] = round(time.perf_counter() - q, 3)
        wall = time.perf_counter() - t
        log(f"pass {wall:.3f}s {per_query}")
        return wall

    def check(self, sf_dir: str) -> bool:
        """Oracle check and row-count pre-flight on ``sf_dir``."""
        from check import OracleCheck, preflight, reference_rows

        reference = reference_rows()
        oracle = OracleCheck(sf_dir)
        ok = True
        try:
            for name in self.names:
                pdfs = []
                self.one(name, sf_dir, lambda fn, d: pdfs.append(fn(self.spark, d).toPandas()))
                if not pdfs:
                    ok = False
                    continue
                problems = oracle.problems(name, pdfs[0])
                if problems:
                    self.failed += 1
                    ok = False
                    msg = f"{name}: oracle mismatch: " + "; ".join(problems)
                    self.problems.append(msg)
                    log("FAIL " + msg)
                reason = preflight(name, len(pdfs[0]), reference)
                if reason:
                    ok = False
                    self.problems.append(f"{name}: pre-flight: {reason}")
                    log(f"PRE-FLIGHT {name} {reason}")
        finally:
            oracle.close()
        return ok


def warm_passes(runner: Runner, sf_dir: str, seconds: float) -> list[float]:
    """Repeat passes over ``sf_dir`` until ``seconds`` of them have run
    (at least ``MIN_WARM``)."""
    deadline = time.perf_counter() + seconds
    times = [runner.noop_pass(sf_dir)]
    while len(times) < MIN_WARM or time.perf_counter() + times[-1] < deadline:
        times.append(runner.noop_pass(sf_dir))
    return times


def host_gauge(out_file: Path) -> dict:
    """``tools/host_probe.py``'s sha256 chain: one chain alone, then one
    per core at once. Written beside the run's result."""
    import multiprocessing as mp

    from host_probe import _chain

    single = _chain()
    n = len(os.sched_getaffinity(0))
    ctx = mp.get_context("spawn")
    with ctx.Pool(n) as pool:
        t = time.perf_counter()
        pool.map(_chain, range(n))
        wall = time.perf_counter() - t
    # the spawn context started a resource tracker, which ignores SIGTERM;
    # closing its pipe makes it exit, and _stop waits for that
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    gauge = {"host.single_core_s": single, "host.parallel_eff": single / wall, "n_procs": n}
    out_file.write_text(json.dumps(gauge) + "\n")
    return gauge


def ann_quality(spark, sf_dir: str) -> dict[str, float]:
    """Recall@10 and mean cosine of each ANN backend against the exact
    gold, from the program's ``backend_compare_report``."""
    from skills_vectors_spark.operators.ann import backend_compare_report

    rows = backend_compare_report(spark, sf_dir).collect()
    out = {}
    for r in rows:
        short = ANN_BACKENDS[r["backend"]]
        out[f"ann.recall_at_10.{short}"] = float(r["avg_recall"])
        out[f"ann.avg_cos_sim.{short}"] = float(r["avg_cos_sim"])
    out["ann.recall_at_10"] = statistics.mean(
        out[f"ann.recall_at_10.{b}"] for b in ANN_BACKENDS.values()
    )
    return out


def run(args) -> dict:
    names = list(WORKLOADS[args.workload])
    work = WORK_DIR / f"{args.workload}-{args.seed}-{os.getpid()}"
    OUT_DIR.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    configure_env(work)
    try:
        spark, phases, setup_main = setup(traced=bool(args.trace))
        try:
            runner = Runner(spark, names, work, args.seed)
            result = (traced_protocol if args.trace else timed_protocol)(runner, args, phases)
            ok = result.pop("_ok")
        finally:
            stop_spark(spark)
        if not args.trace:
            result["setup_s"] = setup_main
        t = time.perf_counter()
        gauge = host_gauge(OUT_DIR / f"{tag}.host.json")
        log(f"host gauge {time.perf_counter() - t:.1f}s")
        if args.trace:
            result["host.single_core_s"] = gauge["host.single_core_s"]
            result["host.parallel_eff"] = gauge["host.parallel_eff"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not any(WORK_DIR.iterdir()):
            WORK_DIR.rmdir()
    for p in runner.problems:
        log(p)
    return {
        "correct": ok and runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": format_metrics(result, bool(args.trace)),
    }


def timed_protocol(runner: Runner, args, phases) -> dict:
    runner.noop_pass(runner.corpus(WARMUP_SCALE))
    cold = []
    for _ in range(COLD_CORPORA):
        sf_dir = runner.corpus()
        cold.append(runner.noop_pass(sf_dir))
    warm = warm_passes(runner, sf_dir, args.seconds)
    t = time.perf_counter()
    ok = runner.check(sf_dir)
    log(f"output check {time.perf_counter() - t:.1f}s")
    return {"cold_s": statistics.median(cold), "warm_s": statistics.median(warm), "_ok": ok}


def traced_protocol(runner: Runner, args, phases) -> dict:
    """The untraced protocol's passes with spans and probes on, plus
    untraced passes beside them for the tracing overhead: a fresh corpus
    before and after the traced cold pass, to bracket the drift from
    corpus order, and warm passes alternating with the traced ones."""
    from collections import defaultdict

    from layers import Spans, SparkProbe, install_wrappers, make_stream_listener

    spark = runner.spark
    probe = SparkProbe(spark)
    runner.noop_pass(runner.corpus(WARMUP_SCALE))
    sf_dir = runner.corpus()
    cold_plain = [runner.noop_pass(sf_dir)]
    ok = runner.check(sf_dir)

    spans, counters = Spans(), defaultdict(float)
    bindings = install_wrappers(spans, counters)
    listener = make_stream_listener(spans)
    spark.streams.addListener(listener)
    per_query: list[dict] = []

    def traced_pass(d: str, label: str) -> float:
        marks = []

        def run(fn, sf):
            with spans.span("query"):
                m0 = probe.mark()
                with spans.span("build") as b:
                    df = fn(spark, sf)
                m1 = probe.mark()
                with spans.span("plan") as p:
                    df._jdf.queryExecution().executedPlan()
                with spans.span("exec") as e:
                    df.write.format("noop").mode("overwrite").save()
                m2 = probe.mark()
            marks.append((spans.query_id, b, p, e, m0, m1, m2))

        probe.drain()  # deliver the untraced passes' events first
        spans.active = True
        t = time.perf_counter()
        for name in runner.names:
            spans.query_id = f"{label}:{name}"
            runner.one(name, d, run)
        wall = time.perf_counter() - t
        spans.active = False
        # status-store reads happen after the pass, outside its wall time
        for qid, b, p, e, m0, m1, m2 in marks:
            per_query.append({
                "query": qid,
                "build_s": b["t1"] - b["t0"],
                "plan_s": p["t1"] - p["t0"],
                "exec_s": e["t1"] - e["t0"],
                "build": probe.collect(m0, m1),
                "exec": probe.collect(m1, m2),
            })
        return wall

    sf_dir = runner.corpus()
    storage0 = probe.storage_mb()
    cold_traced = traced_pass(sf_dir, "cold")
    stored = probe.storage_mb() - storage0
    warm_traced, warm_plain = [], []
    deadline = time.perf_counter() + args.seconds
    while len(warm_traced) < MIN_WARM or time.perf_counter() < deadline:
        warm_traced.append(traced_pass(sf_dir, f"warm{len(warm_traced)}"))
        warm_plain.append(runner.noop_pass(sf_dir))
    probe.drain()
    spark.streams.removeListener(listener)
    retained = probe.storage_mb()
    ann = ann_quality(spark, sf_dir) if "eval_backend_compare" in runner.names else {}
    cold_plain.append(runner.noop_pass(runner.corpus()))

    metrics = dict(phases)
    metrics["session.jvm_hwm_mb"] = probe.jvm_hwm_mb()
    metrics.update(layer_metrics(spans, counters, per_query, probe.cores))
    metrics["cache.stored_mb"] = stored
    metrics["retained_mb"] = retained
    metrics.update(listener.snapshot())
    for b in ANN_BACKENDS.values():
        # zero on a workload that runs no ANN backend
        metrics[f"ann.recall_at_10.{b}"] = ann.get(f"ann.recall_at_10.{b}", 0.0)
        metrics[f"ann.avg_cos_sim.{b}"] = ann.get(f"ann.avg_cos_sim.{b}", 0.0)
    metrics["ann.recall_at_10"] = ann.get("ann.recall_at_10", 0.0)
    metrics["trace.cold_s"] = cold_traced
    metrics["trace.warm_s"] = statistics.median(warm_traced)
    metrics["trace.overhead_cold_s"] = cold_traced - statistics.mean(cold_plain)
    metrics["trace.overhead_warm_s"] = statistics.median(warm_traced) - statistics.median(warm_plain)
    metrics["error_rate"] = runner.failed / runner.attempted

    self_t = spans.self_times()
    (OUT_DIR / f"{args.workload}-seed{args.seed}.trace.json").write_text(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "wrapped_bindings": bindings,
        "spans": [{**r, "self_s": self_t[r["id"]]} for r in spans.records],
        "queries": per_query,
    }) + "\n")
    metrics["_ok"] = ok
    return metrics


def layer_metrics(spans, c, per_query, cores: int) -> dict[str, float]:
    """Roll spans, counters and per-phase Spark work up into the
    per-layer metrics, summed over the traced passes."""
    self_t = spans.self_times()
    by_name: dict[str, float] = {}
    for r in spans.records:
        by_name[r["name"]] = by_name.get(r["name"], 0.0) + self_t[r["id"]]
    m: dict[str, float] = {
        "build.s": sum(q["build_s"] for q in per_query),
        "plan.s": sum(q["plan_s"] for q in per_query),
        "exec.s": sum(q["exec_s"] for q in per_query),
    }
    for phase, keys in (
        ("build", ("jobs", "stages", "tasks")),
        ("exec", ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb")),
    ):
        for k in keys:
            m[f"{phase}.{k}"] = sum(q[phase].get(k, 0.0) for q in per_query)
    m["exec.peak_exec_mem_mb"] = max(
        (q["exec"].get("peak_exec_mem_mb", 0.0) for q in per_query), default=0.0
    )
    m["exec.core_busy_ratio"] = m["exec.executor_run_s"] / (m["exec.s"] * cores) if m["exec.s"] else 0.0
    for key in ("python.boot_s", "python.init_s", "python.run_s", "python.sent_mb", "python.recv_mb"):
        m[key] = sum(q[p].get(key, 0.0) for q in per_query for p in ("build", "exec"))
    m["sources.load_calls"] = c["sources.load_calls"]
    m["sources.load_new"] = c["sources.load_new"]
    m["sources.load_s"] = by_name.get("sources.load", 0.0)
    m["sources.spread_calls"] = c["sources.spread_calls"]
    m["sources.spread_s"] = by_name.get("sources.load_spread", 0.0) + by_name.get("sources.spread", 0.0)
    m["cache.calls"] = c["cache.calls"]
    m["cache.builds"] = c["cache.builds"]
    m["cache.hit_ratio"] = c["cache.hits"] / c["cache.calls"] if c["cache.calls"] else 0.0
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    become_subreaper()
    # a SIGTERM unwinds through the finally below instead of killing the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_children()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
