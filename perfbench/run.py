"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_query --seed 1 --seconds 10 --trace 0

Runs one closed-loop client (the next op is sent only after the previous
one returned) against geocube_spark's public API on ``local[4]``, for at
least ``--seconds`` seconds of op time and at least the workload's fixed
prefix of ops, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs with Spark's event log on,
records in-memory spans for every other op (so each op kind runs as often
traced as untraced), adds the workload's closing ops, and reports the
per-layer metrics plus the tracing overhead.

Everything is written under ``.perfbench_work/`` in the checkout and
removed at the end.  The run fails (``correct`` false) if any file of the
checkout outside that directory changed, or if anything called one of the
registry's ``ensure_*`` fixture builders.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR_NAME = ".perfbench_work"
CPUS = 4
# set-ups per run; setup_s is their median (the first one is cold)
SETUP_REPS = 3
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def tree_snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file of the checkout outside the benchmark's
    work directory and interpreter caches."""
    out = {}
    for dp, dns, fns in os.walk(root):
        dns[:] = [d for d in dns if d not in (WORK_DIR_NAME, "__pycache__", ".git")]
        for f in fns:
            p = os.path.join(dp, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def git_status(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")) or shutil.which("git") is None:
        return None
    return subprocess.run(["git", "status", "--porcelain"], cwd=root, check=True,
                          capture_output=True, text=True).stdout


def host_load() -> dict:
    return {"load1": os.getloadavg()[0], "cpus": os.cpu_count()}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def process_tree(root_pids: list[int]) -> dict[int, int]:
    """pid -> user+system CPU ticks of the given live processes and all
    their descendants (the JVM's Python workers)."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(d)] = (int(f[1]), int(f[11]) + int(f[12]))  # ppid, utime+stime
    keep, todo = {}, list(root_pids)
    while todo:
        p = todo.pop()
        if p in keep or p not in stats:
            continue
        keep[p] = stats[p][1]
        todo.extend(c for c, (pp, _) in stats.items() if pp == p)
    return keep


def tree_cpu_s(root_pids: list[int]) -> float:
    return sum(process_tree(root_pids).values()) / os.sysconf("SC_CLK_TCK")


def stop_jvm() -> None:
    """Stop the JVM this process launched and wait until it and its
    Python workers have exited (left alone, the JVM exits only after this
    process does)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    children = set(process_tree([proc.pid])) - {proc.pid}
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits at end of input
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def isolate(work: str) -> None:
    """Point every temp/scratch location of this process and its children
    inside the work directory, and let Python workers import the program
    whatever their working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    sys.dont_write_bytecode = True
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work: str, event_log: str | None = None):
    from geocube_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class HermeticViolation(RuntimeError):
    pass


def guard_fixture_builders() -> None:
    """Make every registry.ensure_* raise: they rewrite the committed
    fixture directory, which a benchmark run must never touch."""
    from geocube_spark import registry

    def refuse(name):
        def fn(*a, **k):
            raise HermeticViolation(f"registry.{name} called during a benchmark run")
        return fn

    for name in [n for n in vars(registry) if n.startswith("ensure_")]:
        setattr(registry, name, refuse(name))


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


TRACE_ROUNDS = 4


def traced_op(i: int, lead: int, round_len: int) -> bool:
    """Whether the traced run records spans for stream op ``i``: none of
    the first ``lead`` ops, then every other op, in rounds of pattern
    A B B A (A traces the odd positions, B the even ones), so every four
    rounds trace each position twice, at the same mean round index as its
    untraced runs: a drift of op times over the run (the JVM warming up)
    cancels out of the traced-untraced difference."""
    j = i - lead
    if j < 0:
        return False
    flip = (j // round_len) % TRACE_ROUNDS in (1, 2)
    return (j % round_len % 2 == 1) != flip


def measure(wl, spark, work: str, phase: str, seconds: float, setup_reps: int,
            tracer=None) -> dict:
    """Set the workload up ``setup_reps`` times (keeping the last), warm it
    up, then run its op stream in whole rounds until both its fixed prefix
    and ``seconds`` of op time are done.  Checks run outside the timed
    region.

    With a ``tracer`` (the traced run), spans are recorded for every other
    op (``traced_op``); a workload without a warm-up first runs one
    untraced round, so the cold round is compared with nothing.  At least
    TRACE_ROUNDS alternating rounds run, then the closing ops, all
    traced."""
    setup_s, ctx = [], None
    for rep in range(setup_reps):
        root = os.path.join(work, f"{phase}-catalog{rep}")
        if ctx is not None:
            shutil.rmtree(os.path.join(work, f"{phase}-catalog{rep - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        ctx = wl.setup(spark, root)
        setup_s.append(time.perf_counter() - t0)
        log(f"{phase} set-up {rep}: {setup_s[-1]:.2f}s")
    if wl.WARMUP:
        wl.warmup(ctx)
        log(f"{phase} warm-up done")

    sc = spark.sparkContext
    lat, ops, errors, cpu, jobs = [], [], [], [], []
    units, op_time = 0, 0.0
    pids = [os.getpid(), jvm_pid(spark)]
    steal0 = cpu_ticks()
    lead = 0 if wl.WARMUP else wl.ROUND
    min_ops = (wl.PREFIX_OPS if tracer is None
               else max(wl.PREFIX_OPS, lead + TRACE_ROUNDS * wl.ROUND))

    def one(op, traced):
        nonlocal units, op_time
        op_id = f"{phase}-op{len(lat)}"
        wl.prepare(ctx, op)
        sc.setJobGroup(op_id, op["kind"])
        if tracer is not None:
            tracer.op_id, tracer.enabled = op_id, traced
        c0 = tree_cpu_s(pids)
        t0 = time.perf_counter()
        err = None
        try:
            with wl.tracer.span(f"op.{op['kind']}"):
                result = wl.run(ctx, op)
        except Exception as e:  # a failed op is counted, the run goes on
            result, err = None, f"{op['kind']}: {type(e).__name__}: {e}"
        returned = err is None
        dt = time.perf_counter() - t0
        cpu.append(tree_cpu_s(pids) - c0)
        if tracer is not None:
            tracer.op_id, tracer.enabled = "", False
        sc.setJobGroup(f"{phase}-aux", "benchmark bookkeeping")
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(op_id)))
        lat.append(dt)
        op_time += dt
        if err is None:
            try:
                err = wl.check(ctx, op, result)
            except Exception as e:
                err = f"{op['kind']}: check raised {type(e).__name__}: {e}"
        ops.append({"id": op_id, "kind": op["kind"], "ms": dt * 1000, "traced": traced})
        if err is None:
            units += wl.units(op, result)
            if traced:
                wl.count(op, result, tracer.counters)
        else:
            errors.append(err)
        if returned:  # right or wrong, the op's output is handed on
            wl.after(ctx, op, result)

    for i, op in enumerate(wl.stream()):
        if i % wl.ROUND == 0 and i >= min_ops and op_time >= seconds:
            break
        one(op, tracer is not None and traced_op(i, lead, wl.ROUND))
    stream_ops = len(lat)
    if tracer is not None:
        for op in wl.closing():
            one(op, True)
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    log(f"{phase}: {len(lat)} ops in {op_time:.2f}s of op time; ms by kind: "
        + ", ".join(f"{k} {sum(v) / len(v):.0f}x{len(v)}" for k, v in kinds.items()))
    steal1 = cpu_ticks()
    steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    log(f"{phase}: CPU steal {steal:.1%} of machine time")
    return {"setup_s": setup_s, "lat": lat, "ops": ops, "errors": errors, "lead": lead,
            "stream_ops": stream_ops, "cpu": cpu, "jobs": jobs, "steal": steal,
            "units": units, "op_time": op_time, "ctx": ctx}


def e2e_metrics(wl, res: dict, rss_mb: float) -> tuple[dict, dict]:
    """(metrics for the JSON line, every metric for the report)."""
    from stats import median, percentile, tail_percentile

    lat_ms = [x * 1000 for x in res["lat"]]
    n = len(lat_ms)
    cpu = res["cpu"][: wl.PREFIX_OPS]
    jobs = res["jobs"][: wl.PREFIX_OPS]
    # Registered (in the JSON line): figures whose run-to-run spread stays
    # within their bounds on a host whose CPU steal swings between 0 and
    # 30%, averaged over the fixed prefix so every run covers the same
    # work; wall-clock op figures double with steal, so they are reported
    # below for reading, not gated.
    metrics = {
        "setup_s": (median(res["setup_s"]), "s"),
        "cpu_ms_per_op": (1000 * sum(cpu) / len(cpu), "ms"),
        "spark_jobs_per_op": (sum(jobs) / len(jobs), "jobs"),
    }
    report = dict(metrics)
    report["ops_per_s"] = (n / res["op_time"], "1/s")
    report["op_p50_ms"] = (median(lat_ms), "ms")
    report["peak_rss_mb"] = (rss_mb, "MB")
    p = tail_percentile(n)
    report["op_p90_ms"] = (percentile(lat_ms, p) if p else float("nan"),
                           f"ms (p{p:g} of n={n})" if p else f"ms (n={n} too few)")
    report["fail_ratio"] = (len(res["errors"]) / max(n, 1), "ratio")
    rate = res["units"] / res["op_time"]
    if wl.name == "cube_timeseries":
        report["pixels_per_s"] = (rate, "1/s")
    elif wl.name == "curation_pipeline":
        report["docs_per_s"] = (rate, "1/s")
    return metrics, report


def layer_metrics(wl, res: dict, tracer, jobs) -> dict:
    """Per-op means of the per-layer counters over the traced ops."""
    from stats import median

    traced = [o for o in res["ops"] if o["traced"]]
    op_ids = [o["id"] for o in traced]
    n = max(len(op_ids), 1)
    spans = tracer.spans
    by_op: dict[str, list] = {i: [] for i in op_ids}
    for s in spans:
        if s.op_id in by_op:
            by_op[s.op_id].append(s)

    def dur(s):
        return (s.end - s.start) * 1000

    def inside(job, prefix):
        """Job submitted during a span of ``prefix`` of its own op."""
        return any(s.name.startswith(prefix) and s.start <= job.submitted <= s.end
                   for s in by_op.get(job.group, ()))

    def outermost(prefix):
        out = []
        for s in spans:
            if s.op_id in by_op and s.name.startswith(prefix):
                p = s.parent
                while p is not None and not spans[p].name.startswith(prefix):
                    p = spans[p].parent
                if p is None:
                    out.append(s)
        return out

    op_jobs = [j for j in jobs if j.group in by_op]
    m: dict[str, tuple[float, str]] = {}
    plans = outermost("plans.")
    m["plans.build_ms"] = (sum(map(dur, plans)) / n, "ms/op")
    m["plans.build_jobs"] = (sum(inside(j, "plans.") for j in op_jobs) / n, "jobs/op")
    reads = [s for s in spans if s.op_id in by_op and s.name == "sources.catalog.read"]
    writes = [s for s in spans if s.op_id in by_op and s.name == "sources.catalog.write"]
    m["sources.catalog.read_calls"] = (len(reads) / n, "calls/op")
    m["sources.catalog.read_ms"] = (sum(map(dur, reads)) / n, "ms/op")
    m["sources.catalog.read_jobs"] = (
        sum(inside(j, "sources.catalog.read") for j in op_jobs) / n, "jobs/op")
    m["sources.catalog.write_calls"] = (len(writes) / n, "calls/op")
    m["sources.catalog.write_ms"] = (sum(map(dur, writes)) / n, "ms/op")
    m["sources.catalog.bytes_written"] = (tracer.counters.get("catalog_write_bytes", 0) / n,
                                          "B/op")
    m["sources.catalog.write_failures"] = (sum(s.error for s in writes), "count")

    cube_ops = [o for o in traced if o["kind"] in ("get_cube", "slice")]
    collects = [s for s in spans if s.op_id in by_op and s.name == "operators.cube.collect"]
    nc = max(len(cube_ops), 1)
    m["operators.cube.collect_ms"] = (sum(map(dur, collects)) / nc, "ms/op")
    m["operators.cube.pixels_out"] = (tracer.counters.get("pixels_out", 0) / nc, "px/op")
    m["spark.python_udf_ms"] = (sum(j.python_ms for j in op_jobs) / n, "ms/op")

    proc = [s for s in spans if s.op_id in by_op and s.name == "client.process_consolidation_job"]
    m["operators.consolidation.job_ms"] = (sum(map(dur, proc)), "ms")
    m["operators.consolidation.tasks"] = (tracer.counters.get("consolidation_tasks", 0), "count")
    m["operators.consolidation.bytes_written"] = (
        tracer.counters.get("consolidation_bytes", 0), "B")

    def stage(kind):
        ids = {o["id"] for o in traced if o["kind"] == kind}
        ms = [o["ms"] for o in traced if o["kind"] == kind]
        jobs_n = sum(1 for j in op_jobs if j.group in ids)
        k = max(len(ids), 1)
        return (median(ms) if ms else 0.0), jobs_n / k

    cand = tracer.counters.get("candidates", 0)
    verified = tracer.counters.get("verified_pairs", 0)
    passes = max(tracer.counters.get("minhash_ops", 0), 1)
    m["operators.dedup.candidates"] = (cand / passes, "pairs/op")
    m["operators.dedup.verified_pairs"] = (verified / passes, "pairs/op")
    m["operators.dedup.verify_yield"] = (verified / cand if cand else 0.0, "ratio")
    cc_ms, cc_jobs = stage("components")
    pr_ms, pr_jobs = stage("pagerank")
    m["operators.dedup.components_ms"] = (cc_ms, "ms/op")
    m["operators.dedup.components_jobs"] = (cc_jobs, "jobs/op")
    m["operators.graph.pagerank_ms"] = (pr_ms, "ms/op")
    m["operators.graph.pagerank_jobs"] = (pr_jobs, "jobs/op")

    m["streaming.jobs.transitions"] = (
        sum(1 for s in spans if s.op_id in by_op and s.name == "streaming.jobs.transition"),
        "count")
    m["streaming.jobs.task_retries"] = (tracer.counters.get("task_retries", 0), "count")

    client_self = sum(tracer.self_time(i) for i, s in enumerate(spans)
                      if s.op_id in by_op and s.name.startswith("client."))
    m["client.self_ms"] = (client_self * 1000 / n, "ms/op")
    m["spark.jobs"] = (len(op_jobs) / n, "jobs/op")
    m["spark.stages"] = (sum(len(j.stages) for j in op_jobs) / n, "stages/op")
    m["spark.tasks"] = (sum(j.tasks for j in op_jobs) / n, "tasks/op")
    m["spark.executor_cpu_ms"] = (sum(j.cpu_ms for j in op_jobs) / n, "ms/op")
    m["spark.scheduler_delay_ms"] = (sum(j.sched_delay_ms for j in op_jobs) / n, "ms/op")
    m["spark.shuffle_read_bytes"] = (sum(j.shuffle_read for j in op_jobs) / n, "B/op")
    m["spark.shuffle_write_bytes"] = (sum(j.shuffle_write for j in op_jobs) / n, "B/op")
    m["spark.input_bytes"] = (sum(j.input_bytes for j in op_jobs) / n, "B/op")
    return m


def tracing_overhead(ops: list[dict]) -> dict:
    """One round's time traced and untraced: the sum over op kinds of each
    kind's median op time, over the stream ops that alternate."""
    from stats import median

    traced = untraced = 0.0
    for kind in sorted({o["kind"] for o in ops}):
        t = [o["ms"] for o in ops if o["kind"] == kind and o["traced"]]
        u = [o["ms"] for o in ops if o["kind"] == kind and not o["traced"]]
        if t and u:
            traced += median(t)
            untraced += median(u)
    return {"trace.untraced_round_ms": (untraced, "ms"),
            "trace.traced_round_ms": (traced, "ms"),
            "trace.overhead_pct": ((traced - untraced) / untraced * 100.0, "%")}


# The end-to-end metric each per-layer metric should move, and on which
# workloads; printed beside the traced run's figures.
LAYER_TARGETS = {
    "plans.": "op_p50_ms on catalog_query, cube_timeseries",
    "sources.catalog.read": "op_p50_ms on catalog_query",
    "sources.catalog.write": "closing job time on cube_timeseries (traced run only)",
    "sources.catalog.bytes_written": "closing job time on cube_timeseries (traced run only)",
    "operators.cube.": "pixels_per_s on cube_timeseries",
    "spark.python_udf_ms": "pixels_per_s on cube_timeseries",
    "operators.consolidation.": "closing job time on cube_timeseries (traced run only)",
    "operators.dedup.": "docs_per_s on curation_pipeline",
    "operators.graph.": "docs_per_s on curation_pipeline",
    "streaming.jobs.": "fail_ratio, closing job time on cube_timeseries (traced run only)",
    "client.": "op_p50_ms on all",
    "spark.": "ops_per_s on all",
    "trace.": "tracing overhead (traced vs untraced ops of the same run)",
}


def layer_target(name: str) -> str:
    return next(v for k, v in LAYER_TARGETS.items() if name.startswith(k))


# span name per program function/method recorded in the traced run
TRACE_TARGETS = {
    "geocube_spark.sources.catalog:Catalog.read": "sources.catalog.read",
    "geocube_spark.sources.catalog:Catalog.write": "sources.catalog.write",
    "geocube_spark.plans.find_datasets:find_datasets": "plans.find_datasets",
    "geocube_spark.plans.find_records:find_records": "plans.find_records",
    "geocube_spark.plans.cube:get_cube": "plans.cube.get_cube",
    "geocube_spark.plans.cube:get_cube_headers": "plans.cube.get_cube_headers",
    "geocube_spark.operators.mosaic:mosaic_blocks": "operators.mosaic.mosaic_blocks",
    "geocube_spark.operators.consolidation:consolidate_to_mucog":
        "operators.consolidation.consolidate_to_mucog",
    "geocube_spark.operators.dedup:minhash_near_duplicates":
        "operators.dedup.minhash_near_duplicates",
    "geocube_spark.operators.dedup:connected_components": "operators.dedup.connected_components",
    "geocube_spark.operators.graph:pagerank": "operators.graph.pagerank",
    # every persisted job-state transition goes through this one method
    "geocube_spark.client:GeocubeClient._set_job_state": "streaming.jobs.transition",
}


def install_tracing(tracer) -> None:
    import inspect

    from geocube_spark import client as client_mod
    from spans import patch_program

    targets = dict(TRACE_TARGETS)
    for name, fn in vars(client_mod.GeocubeClient).items():
        if inspect.isfunction(fn) and not name.startswith("_"):
            targets[f"geocube_spark.client:GeocubeClient.{name}"] = f"client.{name}"
    patch_program(tracer, targets)

    from geocube_spark.sources.catalog import Catalog

    traced_write = Catalog.write

    def write_and_size(self, name, *a, **k):
        traced_write(self, name, *a, **k)
        if tracer.enabled and tracer.op_id:
            from workloads import file_sizes

            _v, path = self._current(name)
            tracer.counters["catalog_write_bytes"] = tracer.counters.get(
                "catalog_write_bytes", 0) + sum(file_sizes(path).values())

    Catalog.write = write_and_size


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    load_start = host_load()
    git_before = git_status(ROOT)
    tree_before = tree_snapshot(ROOT)
    work = os.path.join(ROOT, WORK_DIR_NAME, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    spark = wl = None
    try:
        import geocube_spark  # noqa: F401  (fails fast outside a checkout)

        # generate the inputs while the JVM starts (numpy, Arrow and DuckDB
        # release the interpreter lock; the launch mostly waits)
        made: dict = {}

        def make():
            try:
                made["wl"] = WORKLOADS[args.workload](args.seed, work)
            except BaseException as e:  # re-raised in the main thread
                made["error"] = e

        maker = threading.Thread(target=make)
        maker.start()
        event_log = os.path.join(work, "eventlog") if args.trace else None
        spark = start_spark(work, event_log)
        log("spark started")
        maker.join()
        if "error" in made:
            raise made["error"]
        wl = made["wl"]
        log("inputs generated")
        guard_fixture_builders()
        if not args.trace:
            res = measure(wl, spark, work, "e2e", args.seconds, SETUP_REPS)
            rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            rss += jvm_peak_rss_mb(spark)
            metrics, report = e2e_metrics(wl, res, rss)
        else:
            from spans import Tracer, parse_event_log

            tracer = Tracer()
            wl.tracer = tracer
            install_tracing(tracer)
            res = measure(wl, spark, work, "traced", args.seconds, SETUP_REPS, tracer=tracer)
            collect_trace_counters(wl, res, tracer)
            spark.stop()
            spark = None
            metrics = layer_metrics(wl, res, tracer, parse_event_log(event_log))
            metrics.update(tracing_overhead(res["ops"][res["lead"]: res["stream_ops"]]))
            report = metrics
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    hermetic = []
    tree_after = tree_snapshot(ROOT)
    if tree_after != tree_before:
        changed = sorted({p for p, _ in set(tree_after.items()) ^ set(tree_before.items())})
        hermetic.append(f"checkout files changed: {changed[:10]}")
    if git_status(ROOT) != git_before:
        hermetic.append("git status --porcelain changed")
    load_end = host_load()

    for e in res["errors"][:20]:
        print(f"FAILED {e}", file=sys.stderr)
    for h in hermetic:
        print(f"HERMETIC {h}", file=sys.stderr)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(res['lat'])} failed={len(res['errors'])}")
    print("host " + json.dumps({"start": load_start, "end": load_end,
                                "steal_share": round(res["steal"], 4)}))
    for name, (value, unit) in report.items():
        target = f"  -> {layer_target(name)}" if args.trace else ""
        print(f"  {name:40s} {value:14.4f} {unit}{target}")
    out = {
        "correct": not res["errors"] and not hermetic,
        "attempted": len(res["lat"]),
        "failed": len(res["errors"]),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


def collect_trace_counters(wl, res: dict, tracer) -> None:
    """Counts read from the program's outputs after the traced phase (not
    inside any op): LSH candidates, task retries, consolidation tasks."""
    c = tracer.counters
    if wl.name == "curation_pipeline":
        from geocube_spark.operators import dedup

        ctx = res["ctx"]
        cands = dedup.minhash_lsh_candidates(ctx["docs"], num_hashes=wl.NUM_HASHES,
                                             bands=wl.BANDS).count()
        c["candidates"] = cands * c.get("minhash_ops", 0)
    job = getattr(wl, "state", {}).get("job")  # the closing consolidation job
    if job:
        from pyspark.sql import functions as F

        tasks = res["ctx"].catalog.read("tasks").filter(F.col("job_id") == job).collect()
        c["task_retries"] = sum(r["try_count"] for r in tasks)
        c["consolidation_tasks"] = len(tasks)
        c["consolidation_bytes"] = wl.state.get("consolidation_bytes", 0)


if __name__ == "__main__":
    sys.exit(main())
