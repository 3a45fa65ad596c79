"""Run-to-run spread of the end-to-end metrics, and the regression check.

    python3 perfbench/spread.py --runs 10 --seed-base 100
    python3 perfbench/spread.py --compare parent.jsonl change.jsonl

The first form runs every workload of ``BENCHMARK.json`` ``--runs`` times
with seeds ``seed-base, seed-base+1, ...``, writes each run's detail line
(with its exit code) to a fresh ``perfbench/.work/runs-<workload>-<seed-base>.jsonl``,
and prints for each end-to-end metric its median and quartile spread
((Q3 - Q1) / median) next to the metric's bound, over the runs that
succeeded, with the number of runs that failed. The second compares two
such files (same workload) metric by metric and says which metric got worse
than its bound allows.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.startswith("{")]


def _ok(d: dict) -> bool:
    """A run that exited 0 with no failed operation."""
    return d.get("exit", 0) == 0 and not d.get("failed_ratio")


def report(spec: dict, runs: list[dict]) -> list[str]:
    details = [d for d in runs if _ok(d)]
    lines = []
    for m in spec["end_to_end"]:
        if not details:
            break
        vals = [d[m["name"]] for d in details]
        spread = stats.quartile_spread(vals) if len(vals) > 1 else float("nan")
        flag = "ok" if spread <= m["bound"] / 3 else (
            "within bound" if spread <= m["bound"] else "TOO WIDE")
        lines.append(f"  {m['name']:<16} median {statistics.median(vals):12.4f} "
                     f"{m['unit']:<5} spread {spread:6.3f}  bound {m['bound']:.2f}  {flag}")
    lines.append(f"  runs {len(runs)}, runs with failures {len(runs) - len(details)}")
    return lines


def _run(spec: dict, runs: int, seed_base: int) -> None:
    work = os.path.join(ROOT, "perfbench", ".work")
    os.makedirs(work, exist_ok=True)
    for wl in spec["workloads"]:
        out = os.path.join(work, f"runs-{wl['name']}-{seed_base}.jsonl")
        with open(out, "w") as f:
            for i in range(runs):
                seed = seed_base + i
                cmd = [sys.executable, *spec["command"][1:], "--workload", wl["name"],
                       "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                       "--trace", "0"]
                res = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
                lines = [ln for ln in res.stdout.splitlines() if ln.startswith("{")]
                # the detail line, or a stub when the run printed none
                detail = json.loads(lines[-2]) if len(lines) >= 2 else {"seed": seed}
                detail["exit"] = res.returncode
                if res.returncode != 0:
                    print(f"{wl['name']} seed {seed}: exit {res.returncode}")
                f.write(json.dumps(detail) + "\n")
                f.flush()
        print(wl["name"])
        print("\n".join(report(spec, _load(out))))


def _compare(spec: dict, parent: str, change: str) -> int:
    p, c = [d for d in _load(parent) if _ok(d)], [d for d in _load(change) if _ok(d)]
    worse = 0
    for m in spec["end_to_end"]:
        regressed, share = stats.regression(
            [d[m["name"]] for d in p], [d[m["name"]] for d in c], m["better"], m["bound"])
        worse += regressed
        print(f"  {m['name']:<16} worse by {share:+.3f} (bound {m['bound']:.2f})"
              f"{'  REGRESSED' if regressed else ''}")
    return 1 if worse else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed-base", type=int, default=1)
    p.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"))
    args = p.parse_args(argv)
    spec = _spec()
    if args.compare:
        return _compare(spec, *args.compare)
    _run(spec, args.runs, args.seed_base)
    return 0


if __name__ == "__main__":
    sys.exit(main())
