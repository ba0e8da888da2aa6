#!/usr/bin/env python3
"""The repository's benchmark: one command, seeded closed-loop workloads,
every output checked.

    python3 perfbench/run.py --workload catalog_sf0.1 --seed 1 --seconds 30 --trace 0

Run from the repository root. One client process drives the package's
public API through Spark `local[nproc-1]`; the next operation starts
only after the previous one completed. The last line of standard output is
one JSON object: `correct`, `attempted`, `failed` and `metrics`, the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. The line before it records the run's
environment (seed, commit, nproc, versions, load average).

See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

import spans

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCHMARK_JSON = ROOT / "BENCHMARK.json"

FIXTURE_BUILDS = 3  # fixture builds per run; setup_s uses their median
MIN_ROUNDS = 2  # one cold round and at least one warm round
RUN_BUDGET_S = 150  # never start a round that would end past this


def metric_names(kind: str) -> list[str]:
    return [m["name"] for m in json.loads(BENCHMARK_JSON.read_text())[kind]]


def log(t_process: float, msg: str) -> None:
    print(f"[{time.perf_counter() - t_process:6.1f} s] {msg}", file=sys.stderr)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# -- process memory ----------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids[ppid].append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and its descendants (the driver JVM
    and its Python workers), sampled every 0.25 s."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.wait(0.25):
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in process_tree(self.pid)))

    def stop(self) -> float:
        self._stop_event.set()
        self.join(timeout=5)
        return self.peak / 2**20


# -- Spark session -------------------------------------------------------------
def configure_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run's work directory; put the package on the workers' path.

    Spark gets nproc - 1 task threads: the last core runs the client, the
    driver's scheduler, JIT and GC threads and the Python worker
    processes. With all cores given to tasks, run-to-run spread of a
    warm round on a shared 4-core box was ~5x larger at the same median
    (interleaved runs)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) - 1))
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # the JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def start_session(work: Path):
    from ndvi_etl_pipeline_spark.session import get_spark

    ncpu = int(os.environ["SPARK_GRAFT_CPUS"])
    return get_spark(
        app_name="perfbench",
        shuffle_partitions=ncpu,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
    )


def warm_up(spark) -> None:
    """The session's first job, with a pandas UDF so the Python worker
    pool exists, on a plan that is not measured, so the first measured
    round stays cold for every operation."""
    n = spark.sparkContext.defaultParallelism
    spark.range(256, numPartitions=n).mapInPandas(lambda it: it, schema="id long").count()


def shutdown(spark) -> None:
    """Stop Spark, close the gateway JVM and wait for it and its Python
    workers to exit."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- run information -------------------------------------------------------------
def run_info(args, spark, load_before) -> dict:
    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": commit,
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "loadavg_before": load_before,
        "loadavg_after": list(os.getloadavg()),
    }


# -- measurement -------------------------------------------------------------------
def run_op(spark, tracer, op, group: str, traced: bool) -> dict:
    """Time one operation (and nothing else), then check its output."""
    sc = spark.sparkContext
    tracer.layers = {}
    if traced:
        if op.pre:
            op.pre()
        tracer.mark()
    sc.setJobGroup(group, op.name)
    tracer.enabled = traced
    first_span = len(tracer.spans)
    t0 = time.perf_counter()
    try:
        with tracer.span("op"):
            result = op.fn()
        seconds, error = time.perf_counter() - t0, None
    except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
        seconds = time.perf_counter() - t0
        result, error = None, f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"
    tracer.enabled = False
    sc.setJobGroup("perfbench", "between operations")
    layers = {}
    if traced and error is None:
        layers, stages = tracer.harvest(group)
        if op.post:
            op.post()
        layers.update(tracer.layers)
        layers.update(op_accounting(tracer.spans[first_span:], stages, layers))
    if error is None:
        try:
            error = op.check(result)
        except Exception as e:  # noqa: BLE001
            error = f"check raised {type(e).__name__}: {e}"
    return {"name": op.name, "kind": op.kind, "seconds": seconds, "error": error,
            "traced": traced, "layers": layers}


# Spans of the driver-side planning phase that precedes an operation's
# Spark action: a catalog builder, the lazy lake_read call.
PLAN_SPANS = ("plans.build", "lake.read_plan")


def op_accounting(op_spans: list[dict], stages: list[tuple[float, float]], layers: dict) -> dict[str, float]:
    """Split one traced operation's wall time into layers that add up to
    it: planning (Python, with any jobs a builder runs eagerly), the
    stage critical path after it, Catalyst optimization and planning
    (analysis runs inside the build), the scheduler gap (the rest of the
    action) and the residual (benchmark glue outside every span)."""
    root = op_spans[0]
    kids = [s for s in op_spans if s["parent"] == root["id"]]
    plan_end = max((s["end"] for s in kids if s["name"] in PLAN_SPANS), default=root["start"])
    plan = plan_end - root["start"]
    wall = root["end"] - root["start"]
    path = spans.union_s(stages, lo=plan_end, hi=root["end"])
    catalyst = (layers.get("catalyst.optimization_ms", 0.0) + layers.get("catalyst.planning_ms", 0.0)) / 1e3
    residual = wall - spans.union_s([(s["start"], s["end"]) for s in kids])
    return {
        "build_s": plan if any(s["name"] == "plans.build" for s in kids) else 0.0,
        "exec.critical_path_s": path,
        "scheduler_gap_s": (wall - plan) - path - catalyst - residual,
        "residual_s": residual,
    }


def traced_ops(names: list[str], r: int) -> list[bool]:
    """Which operations of round `r` the traced run traces: none in the
    cold round 0; in rounds 1 and 2 alternate operations by name, not by
    their place in the round (which a workload may shuffle), so each
    operation is traced in one of the two rounds and untraced in the
    other."""
    rank = {n: i for i, n in enumerate(sorted(names))}
    return [r > 0 and (rank[n] + r) % 2 == 0 for n in names]


def measure(args, workload, spark, tracer, t_process: float) -> list[list[dict]]:
    """Closed loop: rounds of operations until `--seconds` have been
    measured, at least one cold and one warm round. The traced run makes
    three rounds: cold, then two warm rounds that trace alternate
    operations (`traced_ops`)."""
    import ndvi_etl_pipeline_spark
    from ndvi_etl_pipeline_spark.sources import testdata

    rounds: list[list[dict]] = []
    t_measure = time.perf_counter()
    if args.trace:
        tracer.wrap_everywhere(
            ndvi_etl_pipeline_spark.__name__, testdata.load_table,
            "sources.load_table", count="sources.load_table_calls",
        )
    try:
        while True:
            r = len(rounds)
            t0 = time.perf_counter()
            round_ops = workload.ops(r, tracer)
            traced = traced_ops([op.name for op in round_ops], r)
            ops = [
                run_op(spark, tracer, op, f"{workload.name}:{r}:{op.name}", traced=bool(args.trace) and t)
                for op, t in zip(round_ops, traced)
            ]
            rounds.append(ops)
            for o in ops:
                if o["error"]:
                    print(f"FAILED round {r} {o['name']}: {o['error']}", file=sys.stderr)
            last = time.perf_counter() - t0
            log(t_process, f"round {r}: {round_seconds(ops):.2f} s in operations, {last:.2f} s wall: "
                + " ".join(f"{o['name']}={o['seconds']:.2f}" for o in ops))
            if args.trace:
                if len(rounds) == MIN_ROUNDS + 1:
                    break
                continue
            if len(rounds) >= MIN_ROUNDS and time.perf_counter() - t_measure >= args.seconds:
                break
            if len(rounds) >= workload.MAX_ROUNDS or time.perf_counter() - t_process + last > RUN_BUDGET_S:
                break
    finally:
        tracer.unwrap()
    return rounds


def round_seconds(ops: list[dict]) -> float:
    return sum(o["seconds"] for o in ops)


def setup_seconds(setup: dict) -> float:
    """Session start and warm-up (once per process) plus the median of
    the repeated fixture builds."""
    return setup["session"] + setup["warmup"] + median(setup["fixtures"])


def end_to_end(rounds, setup) -> dict[str, float]:
    warm = [o["seconds"] for r in rounds[1:] for o in r]
    return {
        "setup_s": setup_seconds(setup),
        "round_s": median(round_seconds(r) for r in rounds[1:]),
        # every operation weighs the same, unlike round_s, which the
        # slowest operations dominate
        "op_geomean_s": statistics.geometric_mean(warm),
    }


def per_layer(rounds, setup, tracer, workload) -> dict[str, float]:
    """Per-layer metrics: set-up, the layers of the traced operations
    (each operation of a warm round once), and the workload's own
    counters. A layer the workload does not reach reads 0."""
    traced = [o for r in rounds for o in r if o["traced"]]
    twin = {(o["name"], o["traced"]): o["seconds"] for r in rounds[1:] for o in r}
    untraced_wall = sum(twin[(o["name"], False)] for o in traced)
    L: dict[str, float] = defaultdict(float)
    for o in traced:
        for k, v in o["layers"].items():
            L[k] += v
    wall = round_seconds(traced)
    out = dict.fromkeys(metric_names("per_layer"), 0.0)
    out.update({
        "cold_round_s": round_seconds(rounds[0]),
        "session.start_s": setup["session"],
        "setup.fixtures_s": median(setup["fixtures"]),
        "setup.warmup_s": setup["warmup"],
        "plans.build_s": L["build_s"],
        "plans.build_share": L["build_s"] / wall,
        "sources.load_table_calls": tracer.counters.get("sources.load_table_calls", 0.0),
        "sources.load_table_s": sum(tracer.totals().get("sources.load_table", [])),
        "exec.scan_rows_per_row_out": L["exec.input_rows"] / L["rows_out"] if L["rows_out"] else 0.0,
        "exec.scheduler_gap_s": L["scheduler_gap_s"],
        "py.to_worker_mb": L["py.to_worker_bytes"] / 2**20,
        "py.from_worker_mb": L["py.from_worker_bytes"] / 2**20,
        "py.stage_run_s": L["py.worker_run_s"],
        "trace.overhead_frac": wall / untraced_wall - 1.0,
        "trace.residual_frac": L["residual_s"] / wall,
    })
    for k in ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
              "catalyst.aqe_replans", "exec.jobs", "exec.stages", "exec.tasks",
              "exec.single_task_stages", "exec.run_s", "exec.cpu_s", "exec.gc_s",
              "exec.critical_path_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
              "exec.spill_mb", "py.rows_received"):
        out[k] = L[k]
    out.update(workload.layer_metrics(rounds, traced, tracer.self_times(), L))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process = time.perf_counter()

    if not (ROOT / "ndvi_etl_pipeline_spark" / "__init__.py").is_file():
        print(f"perfbench: the package is not in {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    log(t_process, "imported")
    load_before = list(os.getloadavg())
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    workload = workloads.WORKLOADS[args.workload](args.seed % 2**32)  # numpy seeds are unsigned
    spark = sampler = None
    try:
        # Set-up: fixtures (and the lake table) are built FIXTURE_BUILDS
        # times, each into a fresh directory; the session starts and warms
        # up once, after the first build. The last build is measured.
        setup = {"fixtures": []}
        for i in range(FIXTURE_BUILDS):
            d = work / f"setup{i}"
            t0 = time.perf_counter()
            workload.prepare(d)
            os.sync()
            fixtures_s = time.perf_counter() - t0
            if spark is None:
                t1 = time.perf_counter()
                spark = start_session(work)
                t2 = time.perf_counter()
                if args.trace:
                    from pyspark import SparkContext

                    sampler = RssSampler(SparkContext._gateway.proc.pid)
                    sampler.start()
                warm_up(spark)
                setup["session"], setup["warmup"] = t2 - t1, time.perf_counter() - t2
            t3 = time.perf_counter()
            workload.start(spark)
            setup["fixtures"].append(fixtures_s + time.perf_counter() - t3)
            if i + 1 < FIXTURE_BUILDS:
                shutil.rmtree(d, ignore_errors=True)
        log(t_process, f"set-up {setup}")
        workload.arm()
        log(t_process, "oracle ready")
        tracer = spans.Tracer(spark, enabled=False)
        rounds = measure(args, workload, spark, tracer, t_process)
        log(t_process, "measured")
        kind = "per_layer" if args.trace else "end_to_end"
        if args.trace:
            metrics = per_layer(rounds, setup, tracer, workload)
            metrics["peak_rss_mb"] = sampler.stop()
        else:
            metrics = end_to_end(rounds, setup)
        ops = [o for r in rounds for o in r]
        failed = sum(1 for o in ops if o["error"])
        info = run_info(args, spark, load_before)
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench").rmdir()
        except OSError:
            pass
        log(t_process, "stopped")

    print(json.dumps({"run_info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in json.loads(BENCHMARK_JSON.read_text())[kind]},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
