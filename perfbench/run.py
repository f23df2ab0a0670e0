"""Run one benchmark workload and print its metrics as one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload iterative_build --seed 1 --seconds 18 --trace 0

A workload is a fixed list of registered queries over the sf0.1 tables
committed under ``perfbench/data/sf0.1``. One process on
``local[<cpus>]`` runs them with one client in a closed loop: a query
is built through its registry function, forced with ``bench._force``
(the no-op write) and cleaned up as ``bench.py`` does before the next
one starts. The seed sets the query order within each pass.

A run is: set-up (package import, ``get_spark`` and one untimed warm-up
pass that collects the outputs), then the timed passes, then the output
check against the oracle truths (outside every timed region). Set-up first deletes ``spark-warehouse/``, where q130 keeps a
cluster table that would otherwise carry over from an earlier process.
The timed pass count is ``max(2, ceil(seconds / nominal pass time))``,
so both sides of a comparison run the same passes for the same
``--seconds``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
timed passes (at least four), alternately untraced and traced, and
prints the per-layer metrics of the traced passes and the tracing
overhead: the median traced pass minus the median untraced pass.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
A full record of the run (seed, cpus, versions, load, every pass and
query time, job counts) is written under ``.perfbench/records/``. The
exit code is 1 when an output or attribution check fails.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
WORK = os.path.join(ROOT, ".perfbench")
# Every managed artifact the package writes lives here (q130's cluster
# table); a run deletes it before set-up so no run reuses another's.
WAREHOUSE = os.path.join(ROOT, "spark-warehouse")

sys.path.insert(0, HERE)
from workloads import WORKLOADS, Workload  # noqa: E402


def metric_units() -> dict[str, str]:
    """Unit of every metric, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def verify_tables() -> None:
    """Refuse to run on tables other than the committed ones."""
    with open(os.path.join(HERE, "data", "sf0.1.sha256")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(DATA, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    raise SystemExit(f"perfbench: {name} does not match its checksum")


def prepare_process() -> dict:
    """Keep every file the run writes inside the checkout and clear the
    artifacts an earlier process left. Returns what was found."""
    if not os.path.isdir(os.path.join(ROOT, "reddit_big_data_spark")):
        raise SystemExit("perfbench: run from the root of a checkout of the package")
    verify_tables()
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    found = sorted(os.listdir(WAREHOUSE)) if os.path.isdir(WAREHOUSE) else []
    shutil.rmtree(WAREHOUSE, ignore_errors=True)
    return {"warehouse_entries_removed": found}


def process_tree() -> list[int]:
    """This process and all its descendants (the JVM, the Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_seconds() -> float:
    """User plus system CPU time of the process tree, reaped children
    included. Time the hypervisor stole from the VM is not in it."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class MemorySampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc.

    Each process counts its proportional set size (PSS): pages shared
    between processes are split among them. Plain RSS counted the JVM
    twice whenever it forked a helper (Hadoop's readlink), which made
    one run in five read up to 1.7 GB high.
    """

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.first_bytes = self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}  # bytes per process name at the peak
        self._done = threading.Event()

    @staticmethod
    def tree_pss() -> tuple[int, dict[str, int]]:
        parts: dict[str, int] = {}
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss_kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except (OSError, StopIteration):
                continue
            parts[comm] = parts.get(comm, 0) + pss_kb * 1024
        return sum(parts.values()), parts

    def run(self) -> None:
        self.first_bytes = self.tree_pss()[0]
        while not self._done.wait(self.interval):
            total, parts = self.tree_pss()
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_parts = total, parts

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_bytes / (1024.0 * 1024.0)


def pass_orders(wl: Workload, seed: int, passes: int) -> list[list[str]]:
    """Warm-up order, then one order per timed pass, all from the seed."""
    rng = random.Random(seed)
    return [rng.sample(wl.queries, len(wl.queries)) for _ in range(passes + 1)]


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "reddit_big_data_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def percentile_block(values: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples above
    it (none below 20 samples)."""
    s = sorted(values)
    block = {"n": len(s), "median": statistics.median(s)}
    if len(s) >= 20:
        pct = 100 * (1 - 10 / len(s))
        block[f"p{pct:g}"] = s[math.ceil(pct / 100 * len(s)) - 1]
    return block


class Runner:
    def __init__(self, spark, registry: dict, cpus: int, probe_cpu: bool = True):
        import bench
        from reddit_big_data_spark.plans import cache as plan_cache

        self.spark = spark
        self.sc = spark.sparkContext
        self.force = bench._force
        self.plan_cache = plan_cache
        self.full = {n.split("_", 1)[0]: q for n, q in registry.items()}
        self.cpus = cpus
        # Each CPU probe walks /proc for a few milliseconds between
        # queries. Only the end-to-end metrics use it, so traced runs,
        # whose spans must cover their passes, go without.
        self.probe_cpu = probe_cpu
        # DAGScheduler.nextJobId (private[scheduler] in Scala, public on the
        # JVM) is the id of the next job: two reads bound the jobs any
        # thread submitted in between.
        self.dag = self.sc._jsc.sc().dagScheduler()
        self.attempted = 0
        self.errors: dict[str, str] = {}

    def cleanup(self) -> None:
        # bench.py's query boundary: drop operator-internal persists, then
        # the localCheckpoint blocks clearCache cannot reach.
        self.spark.catalog.clearCache()
        self.plan_cache.release_local_checkpoints(self.spark)

    def run_query(self, short: str, collect: bool = False, tracer=None) -> dict:
        """Build, force (or collect) and clean up one query."""
        q = self.full[short]
        rec: dict = {"name": q.name, "short": short, "ok": False}
        self.attempted += 1
        if tracer is not None:
            tracer.query = q.name
        cpu0 = tree_cpu_seconds() if self.probe_cpu else None
        t0, w0, j0 = time.perf_counter(), time.time(), self.dag.nextJobId()
        try:
            df = q.fn(self.spark, DATA)
            t1, j1 = time.perf_counter(), self.dag.nextJobId()
            out = df.toPandas() if collect else self.force(df)
            t2, w2, j2 = time.perf_counter(), time.time(), self.dag.nextJobId()
            rec.update(ok=True, output=out)
            if self.probe_cpu:
                rec["cpu_s"] = tree_cpu_seconds() - cpu0
            if tracer is not None:
                rec["leaked_blocks"] = self.sc._jsc.getPersistentRDDs().size()
                rec["cached_bytes"] = sum(
                    i.memSize() + i.diskSize()
                    for i in self.sc._jsc.sc().getRDDStorageInfo()
                )
        except Exception as exc:  # a failed query is counted, the loop goes on
            t1 = t2 = time.perf_counter()
            w2, j1 = time.time(), self.dag.nextJobId()
            j2 = j1
            self.errors[short] = f"{type(exc).__name__}: {str(exc)[:300]}"
            print(f"perfbench: {short} failed: {self.errors[short]}", file=sys.stderr)
        finally:
            self.cleanup()
            if tracer is not None:
                tracer.query = None
        rec["t"] = (t0, t1, t2, time.perf_counter())
        rec["wall"] = (w0, w0 + (t1 - t0), w2)
        rec["jobs"] = (j0, j1, j2)
        return rec

    def run_pass(self, order: list[str], collect: bool = False, tracer=None) -> dict:
        cpu = tree_cpu_seconds() if self.probe_cpu else None
        start = time.perf_counter()
        recs = [self.run_query(s, collect=collect, tracer=tracer) for s in order]
        return {
            "seconds": time.perf_counter() - start,
            "cpu_seconds": tree_cpu_seconds() - cpu if self.probe_cpu else None,
            "queries": recs,
        }


def summarize_pass(p: dict) -> dict:
    return {
        "seconds": p["seconds"],
        "cpu_seconds": p["cpu_seconds"],
        "queries": {
            r["short"]: {
                "ok": r["ok"],
                "cpu_s": r.get("cpu_s"),
                "build_s": r["t"][1] - r["t"][0],
                "force_s": r["t"][2] - r["t"][1],
                "build_jobs": r["jobs"][1] - r["jobs"][0],
                "force_jobs": r["jobs"][2] - r["jobs"][1],
            }
            for r in p["queries"]
        },
    }


def geomean_of_medians(per_query: dict[str, list[float]]) -> float:
    medians = [statistics.median(v) for v in per_query.values()]
    return math.exp(sum(math.log(v) for v in medians) / len(medians)) if medians else 0.0


def end_to_end(runner: Runner, passes: list[dict], setup_s: float, failed: int) -> dict:
    """The end-to-end metrics. Pass and query times are CPU seconds of the
    process tree: on the 4-vCPU VM this was built on, the hypervisor
    stole 0-29% of the CPU in 5 s windows, and across seeds the wall
    times of the same code spread (IQR over median) 0.21-0.46 while the
    CPU times spread 0.06-0.15. Wall times are kept in the run record.

    Peak memory (``peak_rss_mb``) is kept in the run record too: the JVM's
    heap grows by different amounts from run to run, and its spread
    across ten seeds reached 0.32 on streaming_state."""
    cpu: dict[str, list[float]] = {}
    for p in passes:
        for r in p["queries"]:
            if r["ok"]:
                cpu.setdefault(r["short"], []).append(r["cpu_s"])
    return {
        "setup_s": setup_s,
        "pass_cpu_s": statistics.median(p["cpu_seconds"] for p in passes),
        "query_geomean_cpu_s": geomean_of_medians(cpu),
        # Failed query executions count against attempted ones; reported
        # as the share that succeeded so that the metric is never zero.
        "query_ok_ratio": 1.0 - failed / runner.attempted,
    }


def wall_times(passes: list[dict]) -> dict:
    wall: dict[str, list[float]] = {}
    for p in passes:
        for r in p["queries"]:
            if r["ok"]:
                wall.setdefault(r["short"], []).append(r["t"][2] - r["t"][0])
    return {
        "pass_s": percentile_block([p["seconds"] for p in passes]),
        "query_geomean_s": geomean_of_medians(wall),
    }


def traced_metrics(
    runner: Runner, tracer, traced: list[dict], untraced: list[dict], session_s: float
) -> tuple[dict, list[dict]]:
    import spans

    per_pass = []
    for p in traced:
        recs = [r for r in p["queries"] if r["ok"]]
        for r in recs:
            r["counters"] = spans.store_counters(runner.sc, range(r["jobs"][0], r["jobs"][2]))
        per_pass.append(spans.pass_layers(tracer, recs, runner.cpus))
    layer = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    layer["operators.simjoin.verify_yield"] = (
        tracer.output_pairs / tracer.candidate_pairs if tracer.candidate_pairs else 0.0
    )
    layer["sources.schema_cache_hit_ratio"] = (
        tracer.schema_hits / tracer.schema_lookups if tracer.schema_lookups else 0.0
    )
    layer["session.start_s"] = session_s
    traced_s = statistics.median(p["seconds"] for p in traced)
    layer["trace.pass_s"] = traced_s
    layer["trace.overhead_s"] = traced_s - statistics.median(p["seconds"] for p in untraced)
    return layer, per_pass


def attribution_problems(wl: Workload, layer: dict, tracer, traced: list[dict]) -> list[str]:
    """Checks that the spans and job attribution are consistent."""
    problems = []
    for p in traced:
        inside = sum(r["t"][3] - r["t"][0] for r in p["queries"])
        if inside < 0.99 * p["seconds"]:
            problems.append(f"query spans cover {inside:.3f} s of a {p['seconds']:.3f} s pass")
        by_query = {r["name"]: r["t"] for r in p["queries"]}
        main = threading.get_ident()
        for s in tracer.spans:
            t = by_query.get(s.query)
            if t and s.thread == main and t[0] <= s.start <= t[3] and s.end > t[3]:
                problems.append(f"span {s.name} outlives query {s.query}")
    for s in tracer.spans:
        if s.self_seconds < 0:
            problems.append(f"span {s.name} is shorter than its children")
    for prefix in wl.expect_zero:
        for k, v in layer.items():
            if k.startswith(prefix) and v != 0:
                problems.append(f"{k} reads {v} on {wl.name}, expected 0")
    if wl.build_heavy and not layer["queries.build_jobs"] >= 2 * layer["queries.execute_jobs"]:
        problems.append(
            f"build_jobs {layer['queries.build_jobs']} is not well above "
            f"execute_jobs {layer['queries.execute_jobs']}"
        )
    return problems


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    prep = prepare_process()
    cpus = len(os.sched_getaffinity(0))
    n_passes = max(2, math.ceil(args.seconds / wl.nominal_pass_s))
    if args.trace:
        n_passes = max(4, n_passes)
    orders = pass_orders(wl, args.seed, n_passes)
    load_start = os.getloadavg()[0]

    t = time.perf_counter()
    from reddit_big_data_spark.registry import all_queries
    from reddit_big_data_spark.session import get_spark

    registry = all_queries()
    import_s = time.perf_counter() - t
    confs = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        # Keep every job and stage of the run in the status store.
        confs.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_confs=confs)
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    gateway_proc = spark.sparkContext._gateway.proc
    try:
        runner = Runner(spark, registry, cpus, probe_cpu=not args.trace)
        tracer = None
        if args.trace:
            import spans

            # The traced run's warm-up also takes the exact simjoin pair
            # counts, which cost extra jobs; set-up is not reported here.
            tracer = spans.Tracer(spark)
            tracer.counting = True
            tracer.install()
        try:
            warm = runner.run_pass(orders[0], collect=True)  # untimed; its outputs are checked
        finally:
            if tracer is not None:
                tracer.uninstall()
                tracer.counting = False
                tracer.spans.clear()
                tracer.schema_hits = tracer.schema_lookups = 0
        setup_s = time.perf_counter() - T_PROCESS

        untraced, traced = [], []
        if args.trace:
            # Untraced and traced passes alternate U T T U ..., so both
            # kinds sit equally far along the warm-up curve on average.
            for i, order in enumerate(orders[1:]):
                if i % 4 in (0, 3):
                    untraced.append(runner.run_pass(order))
                    continue
                tracer.install()
                try:
                    traced.append(runner.run_pass(order, tracer=tracer))
                finally:
                    tracer.uninstall()
            # Let the listener see every progress event before it goes.
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            tracer.close(spark)
        else:
            sampler = MemorySampler()
            sampler.start()
            try:
                untraced = [runner.run_pass(order) for order in orders[1:]]
            finally:
                peak_mb = sampler.stop()

        import check

        mismatches = check.check_outputs(
            registry, {r["name"]: r["output"] for r in warm["queries"] if r["ok"]},
            DATA, wl.rows,
        )
        failures = dict(runner.errors)
        failures.update(mismatches)
        failed = sum(1 for p in [warm] + untraced + traced for r in p["queries"] if not r["ok"])
        failed += len(mismatches)

        record = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "commit": git_commit(), "source_digest": source_digest(),
            "cpus": cpus, "spark_version": spark.version, "python": sys.version.split()[0],
            "load_1m": {"start": load_start, "end": os.getloadavg()[0]},
            "import_s": import_s, "session_s": session_s, "setup_s": setup_s,
            **prep,
            "orders": orders,
            "warmup": summarize_pass(warm),
            "passes": [summarize_pass(p) for p in untraced],
            "failures": failures,
        }
        if args.trace:
            layer, per_pass = traced_metrics(runner, tracer, traced, untraced, session_s)
            problems = attribution_problems(wl, layer, tracer, traced)
            record.update(
                traced_passes=[summarize_pass(p) for p in traced],
                layers_per_pass=per_pass, attribution_problems=problems,
                spans=[
                    {"name": s.name, "query": s.query, "start": s.start, "end": s.end,
                     "parent": s.parent.tag if s.parent else None, "tag": s.tag}
                    for s in tracer.spans
                ],
            )
            metrics = layer
            correct = not failures and not problems
            for msg in problems:
                print(f"perfbench: attribution check failed: {msg}", file=sys.stderr)
        else:
            metrics = end_to_end(runner, untraced, setup_s, failed)
            counts = [sum(q["build_jobs"] + q["force_jobs"] for q in p["queries"].values())
                      for p in record["passes"]]
            record["jobs_per_pass"] = counts
            record["peak_rss_mb"] = peak_mb
            record["peak_rss_by_process_mb"] = {
                k: v / 2**20 for k, v in sampler.peak_parts.items()
            }
            record["rss_at_first_timed_pass_mb"] = sampler.first_bytes / 2**20
            record.update(wall_times(untraced))
            print(
                f"perfbench: wall time per pass {record['pass_s']['median']:.3f} s "
                f"(median of {record['pass_s']['n']}), query geomean "
                f"{record['query_geomean_s']:.3f} s, peak memory {peak_mb:.0f} MB",
                file=sys.stderr,
            )
            correct = not failures
        units = metric_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}
        record["metrics"] = metrics
        path = os.path.join(
            WORK, "records",
            f"{wl.name}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json",
        )
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)
        print(f"perfbench: record written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
        for name, msg in failures.items():
            print(f"perfbench: {name}: {msg}", file=sys.stderr)
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        # The JVM exits when its stdin closes; wait for it so no process
        # outlives the run.
        gateway_proc.stdin.close()
        try:
            gateway_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway_proc.kill()
            gateway_proc.wait()
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
