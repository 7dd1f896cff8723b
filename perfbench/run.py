"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 15 --trace 0

Prints a record line (fingerprint, per-repetition values, contention
per segment) and, as the last line of stdout, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
they are its per-layer metrics. See perfbench/README.md.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH = ROOT / "BENCHMARK.json"
# Input builds per run; setup_s = session start + their median. The
# session starts once: a second SparkContext in one process loses
# PySpark's accumulator channel. The first call is timed cold, JIT and
# Python-worker start-up included: the shipped job makes one crawl per
# process, so its users pay that cost on every run.
SETUPS = 3


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _prepare_env(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and let
    Python workers import the engine package wherever they start."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(tmp)
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp.resolve())
    # no hsperfdata files in the system temp dir from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_session(work: Path, extra: dict | None = None):
    """A local[nproc] session with a heap sized from MemTotal; scratch
    space, warehouse and streaming checkpoints under `work`."""
    from news_combinator_spark.session import get_spark

    from perfbench import machine

    tmp = (work / "tmp").resolve()
    conf = {
        "spark.driver.memory": machine.driver_heap(),
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str((work / "warehouse").resolve()),
        "spark.sql.streaming.checkpointLocation": str((work / "stream_ckpt").resolve()),
        "spark.ui.showConsoleProgress": "false",
        **(extra or {}),
    }
    return get_spark(app_name="perfbench", cores=machine.nproc(), extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext

    from perfbench import machine

    pids = machine.descendant_pids()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    machine.wait_gone(pids)


def _metric_specs(kind: str) -> list[dict]:
    with open(BENCH) as f:
        return json.load(f)[kind]


def _digests() -> dict:
    path = Path(__file__).with_name("digests.json")
    return json.loads(path.read_text()) if path.exists() else {}


def run_timed(wl, work: Path, seconds: float, record: dict) -> dict:
    from perfbench.machine import Contention, RssPeak

    cont = Contention()
    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    builds = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        wl.build_inputs(spark)
        builds.append(time.perf_counter() - t0)
    setup_s = session_s + statistics.median(builds)
    cont.mark("setup")
    rss = RssPeak().start()
    reps, rep_walls = [], []
    t_start = time.perf_counter()
    try:
        while not reps or (
            time.perf_counter() - t_start + statistics.median(rep_walls) <= seconds
        ):
            t0 = time.perf_counter()
            reps.append(wl.rep(spark, len(reps)))
            rep_walls.append(time.perf_counter() - t0)
            cont.mark(f"rep{len(reps) - 1}")
    finally:
        rss.stop()
    attempted, fails = wl.check(reps[0])
    digests = [wl.digest(r) for r in reps]
    attempted += len(reps) - 1
    fails += [f"repetition {i} output differs from repetition 0"
              for i, d in enumerate(digests) if d != digests[0]]
    pinned = _digests().get(wl.name, {}).get(str(record["seed"]))
    if pinned is not None:
        attempted += 1
        if pinned != digests[0]:
            fails.append(f"digest {digests[0]} differs from pinned {pinned}")
    cont.mark("checks")
    stop_session(spark)
    record.update(
        setup={"session_s": session_s, "input_builds_s": builds},
        reps=[{"units": r.units, "wall_s": r.wall_s, "op_ms": r.op_ms,
               "call_s": r.call_s} for r in reps],
        memory=rss.summary(),
        digest=digests[0],
        failures=fails,
        contention=cont.segments,
    )
    metrics = {
        "throughput_per_s": statistics.median(r.units / r.wall_s for r in reps),
        "op_p50_ms": statistics.median(x for r in reps for x in r.op_ms),
        "setup_s": setup_s,
    }
    return dict(attempted=attempted, failed=len(fails), metrics=metrics)


def _tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are too few samples."""
    vals = sorted(values)
    n = len(vals)
    if n <= 10:
        return vals[-1], 100.0
    pct = 100.0 * (n - 10) / n
    return vals[n - 11], pct


def run_traced(wl, work: Path, record: dict) -> dict:
    """One repetition with the event log on and a job group around each
    public call, then the layer replay. Tracing overhead is this run's
    spark.wall_s against the untraced runs' call walls (`sets.py compare`)."""
    from perfbench import eventlog
    from perfbench.machine import Contention, RssPeak
    from perfbench.workloads import ClusterNews, CrawlPolite, StreamFrontier

    cont = Contention()
    log_dir = work / "eventlog"
    shutil.rmtree(log_dir, ignore_errors=True)
    spark = start_session(work, eventlog.event_log_conf(log_dir))
    wl.build_inputs(spark)
    rss = RssPeak().start()
    try:
        traced = wl.rep(spark, 1, group=wl.name)
    finally:
        rss.stop()
    cont.mark("traced")
    layers = wl.replay(spark, traced.outputs.get("ckpt"))
    cont.mark("replay")
    stop_session(spark)
    events = eventlog.read_events(log_dir)
    raw = folded = eventlog.fold(events)

    out = {spec["name"]: 0.0 for spec in _metric_specs("per_layer")}
    out.update(layers)
    if isinstance(wl, StreamFrontier):
        # streaming jobs carry their query's run id as job group
        names = {rid: f"{wl.name}:{q}" for rid, q in traced.outputs["run_ids"].items()}
        folded = {names.get(g, g): v for g, v in folded.items()}
        main = list(traced.outputs["run_ids"])
        out.update(wl.layer_metrics(traced))
        tail, pct = _tail(traced.op_ms)
        out.update({"stream.batch_tail_ms": tail, "stream.batch_tail_pct": pct,
                    "stream.batches": len(traced.op_ms)})
    elif isinstance(wl, CrawlPolite):
        main = [f"{wl.name}:crawl", f"{wl.name}:resume"]
        c = eventlog.split_wall(folded, main[0], traced.wall_s)
        out.update({
            "crawl.jobs": c["jobs"],
            "crawl.jobs_per_round": c["jobs"] / wl.rounds,
            "crawl.driver_gap_s": c["driver_gap_s"],
            "crawl.round_wall_s": traced.wall_s / wl.rounds,
        })
    elif isinstance(wl, ClusterNews):
        main = [f"{wl.name}:cluster"]
        c = eventlog.split_wall(folded, main[0], traced.call_s)
        out.update({"cluster.jobs": c["jobs"], "cluster.driver_gap_s": c["driver_gap_s"],
                    "cluster.wall_s": traced.call_s})
    else:
        raise TypeError(type(wl).__name__)

    for k in eventlog.TASK_FIELDS:
        vals = [raw.get(g, {}).get(k, 0.0) for g in main]
        out[f"spark.{k}"] = max(vals) if k == "peak_exec_mem_bytes" else sum(vals)
    wall = traced.call_s
    job_wall = eventlog.union_wall(events, main, traced.outputs.get("window"))
    out.update({
        "spark.jobs": sum(raw.get(g, {}).get("jobs", 0) for g in main),
        "spark.job_wall_s": job_wall,
        "spark.wall_s": wall,
        "spark.driver_gap_s": wall - job_wall,
        **{f"memory.{k}": v for k, v in rss.summary().items()},
        "contention.foreign_cpu_s": sum(s["foreign_cpu_s"] for s in cont.segments),
        "contention.steal_share": statistics.mean(s["steal_share"] for s in cont.segments),
    })
    attempted, fails = wl.check(traced)
    record.update(
        fold={str(g): v for g, v in folded.items()},
        traced_wall_s=wall,
        failures=fails,
        contention=cont.segments,
    )
    missing = set(out) - {s["name"] for s in _metric_specs("per_layer")}
    if missing:
        raise KeyError(f"per-layer metrics not in BENCHMARK.json: {sorted(missing)}")
    return dict(attempted=attempted, failed=len(fails), metrics=out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "news_combinator_spark" / "__init__.py").is_file():
        return _fail(f"engine package news_combinator_spark not found under {ROOT}")
    if not BENCH.is_file():
        return _fail(f"{BENCH.name} not found under {ROOT}")
    work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    sys.path.insert(0, str(ROOT))

    from perfbench import machine
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](args.workload, work, args.seed, args.seconds)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "fingerprint": machine.fingerprint(ROOT),
        "started": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
    }
    if args.trace:
        result = run_traced(wl, work, record)
    else:
        result = run_timed(wl, work, args.seconds, record)
    units = {s["name"]: s["unit"] for s in _metric_specs(
        "per_layer" if args.trace else "end_to_end")}
    record["metrics"] = result["metrics"]
    (work / "record.json").write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
