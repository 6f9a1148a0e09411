"""Steadiness report: run a workload over several seeds, then compare
sets of runs against the bounds in BENCHMARK.json.

    python3 perfbench/steadiness.py run --workload cdc_upsert --seeds 1-10 --out a.jsonl
    python3 perfbench/steadiness.py report a.jsonl [b.jsonl]

``report`` prints, per end-to-end metric, the median and the spread (the
distance between the first and third quartile as a share of the median)
of each set, flags a spread above the metric's bound (and above a third
of it, the margin the benchmark aims for), and with two sets the drift
of the second median from the first in the metric's worse direction.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def load_definition() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_set(workload: str, seeds: list[int], out: str) -> None:
    bench = load_definition()
    with open(out, "a") as fh:
        for seed in seeds:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            host = next((json.loads(line[5:]) for line in lines if line.startswith("host ")), None)
            fh.write(json.dumps({"workload": workload, "seed": seed, "wall_s": wall,
                                 "returncode": proc.returncode, "result": result,
                                 "host": host}) + "\n")
            fh.flush()
            print(f"{workload} seed {seed}: exit {proc.returncode} in {wall:.1f} s", file=sys.stderr)


def load_set(path: str) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            by_workload.setdefault(rec["workload"], []).append(rec)
    return by_workload


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of first."""
    change = (second - first) / abs(first)
    return change if better == "lower" else -change


def report(sets: list[dict[str, list[dict]]]) -> bool:
    bench = load_definition()
    ok = True
    for wl in [w["name"] for w in bench["workloads"]]:
        runs = [s.get(wl, []) for s in sets]
        if not all(runs):
            continue
        failed = [sum(1 for r in rs if not (r["result"] and r["result"]["correct"])) for rs in runs]
        walls = [stats.median([r["wall_s"] for r in rs]) for rs in runs]
        steal = [max((r.get("host") or {}).get("cpu_steal_frac", 0.0) for r in rs) for rs in runs]
        print(f"\n{wl}: runs {[len(rs) for rs in runs]}, incorrect {failed}, "
              f"median wall per run {[round(w, 1) for w in walls]} s, "
              f"highest CPU steal share in a run {steal}")
        ok &= not any(failed)
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols, medians = [], []
            for rs in runs:
                values = [r["result"]["metrics"][name]["value"] for r in rs if r["result"]]
                med, spread = stats.median(values), stats.spread(values)
                medians.append(med)
                flag = ""
                if spread > bound:
                    flag, ok = " OVER BOUND", False
                elif spread > bound / 3:
                    flag = " over a third of bound"
                cols.append(f"median {med:.4g} spread {spread:.3f}{flag}")
            line = f"  {name:14s} bound {bound:.2f} | " + " | ".join(cols)
            if len(medians) == 2:
                drift = worse_by(medians[0], medians[1], m["better"])
                verdict = "ok" if drift <= bound else "DRIFT OVER BOUND"
                ok &= drift <= bound
                line += f" | second worse by {drift:+.3f} {verdict}"
            print(line)
    print("\nsteady" if ok else "\nNOT steady")
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("sets", nargs="+")
    args = ap.parse_args(argv)
    if args.cmd == "run":
        run_set(args.workload, parse_seeds(args.seeds), args.out)
        return 0
    return 0 if report([load_set(p) for p in args.sets[:2]]) else 1


if __name__ == "__main__":
    sys.exit(main())
