"""Benchmark of the spark-graft engine: two workloads, one closed-loop client.

    python3 perfbench/run.py --workload corpus_queries --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout (any working directory works). The
first run builds the sf0.1 input tables under .bench_build/perfbench/.
A run then starts one local[nproc] session, makes one untimed warm pass
whose outputs are checked, and times whole passes over the workload's
operation list until --seconds have elapsed (at least one pass). With
--trace 1 it times one untraced pass and then traced passes until the two
together reach --seconds, and reports per-layer metrics instead of
end-to-end ones. The last stdout line is one JSON object: {"correct",
"attempted", "failed", "metrics"}. See README.md.
"""

import time

T_START = time.perf_counter()  # set-up time counts from here, imports included

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter, defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SF_DIR = os.path.join(BUILD, "sf0.1")
WORKLOADS = ("corpus_queries", "lake_etl")

# The session probes $SPARK_GRAFT_SF_DIR to size partitions: pin it for
# every workload so both run under the same derived config. Python
# workers (pandas UDFs, the manifest data source) import the package, so
# they need the checkout on their path whatever the working directory.
os.environ["SPARK_GRAFT_SF_DIR"] = SF_DIR
# The package defaults to a 16g driver heap, more than this class of host
# has; a smaller cap keeps the run from crowding out its neighbours.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
# Spark's shuffle and block files and Python's temporary files stay in
# the checkout.
TMP = os.path.join(BUILD, "tmp")
os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = TMP
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
sys.path[:0] = [ROOT, HERE]

from data_lakes_tp2_student_spark.session import get_spark  # noqa: E402

import gen_data  # noqa: E402
import workloads as wl  # noqa: E402
from trace import Tracer  # noqa: E402

SPARK_METRICS = (
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_mb",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "output_mb",
)


def build_inputs() -> float:
    """Generate the sf0.1 tables once per checkout; returns seconds spent."""
    if os.path.exists(os.path.join(SF_DIR, "_DONE")):
        return 0.0
    t = time.perf_counter()
    tmp = SF_DIR + ".tmp"
    gen_data.write_tables(tmp, seed=42)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.replace(tmp, SF_DIR)
    return time.perf_counter() - t


def host_cores() -> int:
    """`nproc`: CPUs this process may run on, unless SPARK_GRAFT_CPUS says."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children[todo.pop()]:
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and that JVM's Python
    workers, and wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def gmean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


class Runner:
    """Runs passes of one workload and keeps every sample."""

    def __init__(self, workload, tracer) -> None:
        self.workload, self.tracer = workload, tracer
        self.attempted = self.failed = 0
        self.check_s = 0.0

    def run_pass(self, rng, warm: bool = False, repeat: bool = False) -> dict:
        ops = self.workload.pass_ops(rng, warm, repeat)
        t0 = time.perf_counter()
        check_s = 0.0
        lat = []
        for op in ops:
            self.attempted += 1
            try:
                with self.tracer.op(op.name):
                    t = time.perf_counter()
                    res = op.fn()
                    dt = time.perf_counter() - t
                self.tracer.collect_stage_metrics()
            except Exception:  # noqa: BLE001 - the loop must go on; counted as failed
                self.failed += 1
                print(f"FAILED {op.name}:\n{traceback.format_exc()}", file=sys.stderr)
                continue
            lat.append((op.name, op.kind, dt))
            if op.check is not None:
                tc = time.perf_counter()
                try:
                    op.check(res)
                except Exception:  # noqa: BLE001
                    self.failed += 1
                    print(f"WRONG {op.name}:\n{traceback.format_exc()}", file=sys.stderr)
                check_s += time.perf_counter() - tc
        self.check_s += check_s
        return {"wall": time.perf_counter() - t0 - check_s, "ops": lat}

    def final_check(self) -> None:
        self.attempted += 1
        tc = time.perf_counter()
        try:
            self.workload.final_check()
        except Exception:  # noqa: BLE001
            self.failed += 1
            print(f"WRONG final check:\n{traceback.format_exc()}", file=sys.stderr)
        self.check_s += time.perf_counter() - tc


def end_to_end(timed: list[dict], setup_s: float) -> dict:
    """Each operation's latency is the median of its samples in the run.
    The pass time is their sum, each operation once; the geometric means
    summarise them as the TPC-H power metric does: every operation weighs
    the same, however long it runs, and no single one decides the value."""
    samples, kinds = defaultdict(list), {}
    for p in timed:
        for name, kind, dt in p["ops"]:
            samples[name].append(dt)
            kinds[name] = kind
    lat = {name: median(xs) for name, xs in samples.items()}
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (sum(lat.values()), "s"),
        "op_gmean_s": (gmean(list(lat.values())), "s"),
        "read_gmean_s": (gmean([v for name, v in lat.items() if kinds[name] == "read"]), "s"),
    }


def per_layer(traced: list[dict], untraced: dict, tracer, stats: list[dict],
              session: dict, cores: int) -> dict:
    """Fold the spans of the traced passes into the per-layer metrics; a
    metric of a layer the workload never calls reads 0."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    per_pass = []
    for p in traced:
        lo, hi = p["t0"], p["t1"]
        inside = [s for s in spans if lo <= s["start"] and s["end"] <= hi]
        m = Counter()
        layer_total = 0.0
        for s in inside:
            dur = s["end"] - s["start"]
            name = s["name"]
            for k in SPARK_METRICS:
                m[f"spark.{k}"] += tracer.stage_metrics.get(s.get("group"), {}).get(k, 0)
            if name == "op":
                m[f"{s['op']}.wall_s"] += dur
                continue
            if name == "trace.collect":
                m["trace.collect_s"] += dur
                continue
            parent = by_id[s["parent"]] if s["parent"] is not None else None
            if parent is not None and parent["name"] == "op":
                layer_total += dur
            if s.get("metric"):
                m[s["metric"]] += dur
            if name == "catalog.build":
                m["catalog.build_s"] += dur
                m[f"{s['op']}.build_s"] += dur
                m["catalog.eager_jobs"] += tracer.stage_metrics.get(s["group"], {}).get("jobs", 0)
            elif name == "engine.action":
                m["engine.action_s"] += dur
        wall = p["wall"]  # the pass without its output checks
        m["spark.core_util"] = m["spark.executor_run_s"] / (wall * cores)
        m["trace.other_s"] = wall - layer_total - m["trace.collect_s"]
        m["trace.other_frac"] = m["trace.other_s"] / wall
        m["trace.overhead_s"] = wall - untraced["wall"]
        m["trace.wall_s"] = wall
        per_pass.append(m)
    keys = set().union(*per_pass)
    out = {k: median([m.get(k, 0.0) for m in per_pass]) for k in keys}
    # rename op spans to the metric names the README lists
    for k in list(out):
        if k.startswith("incremental.noop_repro."):
            out["incremental.noop_repro_s"] = out.pop(k)
        elif k.startswith(("pipeline.", "manifest.", "datasource.")) and k.endswith(".wall_s"):
            out[k[: -len(".wall_s")] + "_s"] = out.pop(k)
    for s in stats:
        for k, v in s.items():
            out[k] = v  # layout counters: the state after the last pass
    writes = [dt for _, kind, dt in untraced["ops"] if kind == "write"]
    out["lake.write_p50_s"] = median(writes)
    out.update(session)
    return out


def load_layer_spec() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    excluded = build_inputs()  # the benchmark's own data generation
    cores = host_cores()
    rng = random.Random(args.seed)
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP)

    t = time.perf_counter()
    phases = {"build_s": excluded, "imports_s": t - T_START - excluded}
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cpus=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session = {
        "session.start_s": time.perf_counter() - t,
        "session.shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    config = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)), "cores": cores,
        **{k: spark.conf.get(k) for k in (
            "spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes",
            "spark.driver.memory",
        )},
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        t = time.perf_counter()
        if args.workload == "lake_etl":
            work = wl.LakeWorkload(
                spark, tracer, SF_DIR, os.path.join(BUILD, "lake_work"), args.seed
            )
        else:
            ids = wl.CORPUS_QUERIES
            digests = wl.oracle_digests(SF_DIR, ids, os.path.join(BUILD, "oracle_digests.json"))
            work = wl.QueryWorkload(spark, tracer, SF_DIR, ids, digests)
        work.prepare()
        phases["prepare_s"] = time.perf_counter() - t
        excluded += phases["prepare_s"]

        runner = Runner(work, tracer)
        tracer.enabled = False  # the warm pass is never traced
        t = time.perf_counter()
        runner.run_pass(rng, warm=True)
        phases["warm_s"] = time.perf_counter() - t - runner.check_s
        setup_s = time.perf_counter() - T_START - excluded - runner.check_s

        timed, traced, stats = [], [], []
        t_timed = time.perf_counter()
        if not args.trace:
            while not timed or time.perf_counter() - t_timed < args.seconds:
                timed.append(runner.run_pass(rng, repeat=True))
            metrics = end_to_end(timed, setup_s)
        else:
            untraced = runner.run_pass(rng)
            tracer.enabled = True
            while not traced or time.perf_counter() - t_timed < args.seconds:
                t0 = time.perf_counter()
                p = runner.run_pass(rng)
                p["t0"], p["t1"] = t0, time.perf_counter()
                traced.append(p)
                stats.append(work.pass_stats())
            layers = per_layer(traced, untraced, tracer, stats, session, cores)
            layers["process.peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
            metrics = {}
            for spec in load_layer_spec():
                metrics[spec["name"]] = (layers.get(spec["name"], 0.0), spec["unit"])
        phases["timed_s"] = time.perf_counter() - t_timed
        tracer.enabled = False
        t = time.perf_counter()
        runner.final_check()
        phases["final_check_s"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t

    phases["session_s"] = session["session.start_s"]
    phases["checks_s"] = runner.check_s
    config["phases"] = phases
    config["passes"] = len(timed) or len(traced)
    config["ops_timed"] = sum(len(p["ops"]) for p in (timed or traced))
    detail = {"config": config, "metrics": metrics,
              "passes": timed or [untraced] + traced,
              "pass_stats": stats,
              "spans": tracer.spans}
    with open(os.path.join(BUILD, f"last_{args.workload}_trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, default=str)
    print(json.dumps({"config": config}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
