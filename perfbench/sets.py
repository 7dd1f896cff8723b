"""Run sets of benchmark runs and compare them.

    python3 perfbench/sets.py run --set A --seeds 1-10 [--workload W ...] [--trace]
    python3 perfbench/sets.py compare A [B]

`run` makes one run.py process per (workload, seed) and keeps each
record under .perfbench/sets/<set>/. `compare` prints, per workload and
end-to-end metric, the median and the quartile spread of one set; given
two sets it also prints the change of the median against the metric's
bound. It refuses to compare records whose machine fingerprints differ.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SETS = ROOT / ".perfbench" / "sets"
sys.path.insert(0, str(ROOT))

from perfbench.machine import FINGERPRINT_KEYS  # noqa: E402


def _bench() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(name: str, workloads: list[str], seeds: list[int], trace: bool) -> None:
    bench = _bench()
    out = SETS / name
    out.mkdir(parents=True, exist_ok=True)
    for wl in workloads:
        for seed in seeds:
            cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
                   "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]),
                   "--trace", "1" if trace else "0"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True,
                                  timeout=600, check=False)
            lines = proc.stdout.splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{wl} seed {seed}: exit {proc.returncode}", flush=True)
                continue
            record = json.loads(lines[-2])["record"]
            record["result"] = json.loads(lines[-1])
            tag = f"{wl}-s{seed}-t{int(trace)}"
            (out / f"{tag}.json").write_text(json.dumps(record, indent=1))
            vals = {k: round(v["value"], 3)
                    for k, v in record["result"]["metrics"].items()
                    if not trace}
            print(tag, record["result"]["correct"], vals, flush=True)


def load(name: str) -> list[dict]:
    return [json.loads(p.read_text()) for p in sorted((SETS / name).glob("*.json"))]


def _fingerprint(rec: dict) -> tuple:
    return tuple(rec["fingerprint"].get(k) for k in FINGERPRINT_KEYS)


def summarize(records: list[dict]) -> dict:
    """(workload, metric) -> (n, median, spread) over untraced records."""
    vals: dict = {}
    for rec in records:
        if rec["trace"]:
            continue
        for k, v in rec["result"]["metrics"].items():
            vals.setdefault((rec["workload"], k), []).append(v["value"])
    out = {}
    for key, v in sorted(vals.items()):
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
        out[key] = (len(v), med, (q3 - q1) / med if med else float("nan"))
    return out


def trace_overhead(records: list[dict]) -> dict:
    """workload -> traced call wall / median untraced call wall - 1."""
    calls, traced = {}, {}
    for rec in records:
        if rec["trace"]:
            traced.setdefault(rec["workload"], []).append(rec["traced_wall_s"])
        else:
            calls.setdefault(rec["workload"], []).append(rec["reps"][0]["call_s"])
    return {wl: statistics.median(t) / statistics.median(calls[wl]) - 1
            for wl, t in traced.items() if wl in calls}


def compare(a: str, b: str | None) -> int:
    bench = _bench()
    specs = {m["name"]: m for m in bench["end_to_end"]}
    ra = load(a)
    rb = load(b) if b else []
    prints = {_fingerprint(r) for r in ra + rb}
    if len(prints) > 1:
        print("refusing to compare: records come from different machines "
              f"({', '.join(FINGERPRINT_KEYS)}): {sorted(prints)}")
        return 1
    sa, sb = summarize(ra), summarize(rb)
    for (wl, metric), (n, med, spread) in sa.items():
        spec = specs[metric]
        line = (f"{wl:16} {metric:17} n={n:2} median={med:12.4f} "
                f"spread={spread:6.3f} bound={spec['bound']}")
        if metric != "setup_s" and spread > spec["bound"] / 3:
            line += "  [spread above bound/3]"
        if (wl, metric) in sb:
            nb, medb, spreadb = sb[(wl, metric)]
            change = (medb - med) / med
            worse = -change if spec["better"] == "higher" else change
            verdict = "regression" if worse > spec["bound"] else "within bound"
            if max(spread, spreadb) > spec["bound"] and metric != "setup_s":
                verdict = "unresolved (spread above bound)"
            line += f" | B n={nb} median={medb:.4f} change={change:+.3f} {verdict}"
        print(line)
    for name, recs in ((a, ra), (b, rb)):
        for wl, o in trace_overhead(recs).items():
            print(f"{name}: tracing overhead {wl}: {o:+.3f}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workload", action="append")
    r.add_argument("--trace", action="store_true")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b", nargs="?")
    args = ap.parse_args()
    if args.cmd == "run":
        workloads = args.workload or [w["name"] for w in _bench()["workloads"]]
        run_set(args.set, workloads, _seeds(args.seeds), args.trace)
        return 0
    return compare(args.a, args.b)


if __name__ == "__main__":
    sys.exit(main())
