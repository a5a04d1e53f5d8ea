#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 steadybench/compare.py BASE NEW

BASE and NEW are directories of run artifacts (the JSON files ``run.py``
writes to ``.steadybench_work/results/``), for example the runs of a
parent commit and of a change. For every workload and every end-to-end
metric of ``BENCHMARK.json`` it prints both sides' median and quartiles,
the change of the median as a share of the base median, and a verdict:

* ``regressed``  - NEW's median is worse than BASE's by more than the bound;
* ``improved``   - better by more than BASE's own quartile spread;
* ``unchanged``  - neither;
* ``unresolved`` - a side's spread (quartile distance over median) is wider
  than the bound, or the floor probes moved by more than the bound, so the
  host, not the code, may explain the difference. A metric on which every
  NEW run beats every BASE run is reported ``improved`` all the same.

Traced runs are summarised too: the per-layer medians of both sides, and
whether the job, stage and task counts repeat exactly. Exit status is 1
when any metric regressed, else 0.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

COUNTS = ("plans.jobs", "plans.stages", "plans.tasks", "pipelines.jobs",
          "streaming.curate_jobs")


def load(directory: str) -> dict[tuple[str, int], list[dict]]:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        if "args" not in r or "metrics" not in r:
            continue
        runs.setdefault((r["args"]["workload"], r["args"]["trace"]), []).append(r)
    return runs


def floor(runs: list[dict]) -> float:
    """Median over runs of the floor probes taken after the pass (the one
    at session start also times the session's own first compilation)."""
    per_run = []
    for r in runs:
        probes = [p for k, p in r["floor_probes"].items() if k != "start"]
        per_run.append(sum(p["spark_scan_s"] + p["python_loop_s"] for p in probes) / len(probes))
    return stats.median(per_run)


def foreign(runs: list[dict]) -> float:
    """Median share of host CPU that other processes used during the passes."""
    return stats.median([s for r in runs for s in r.get("foreign_cpu_share", [0.0])])


def verdict(base: list[float], new: list[float], bound: float, lower_better: bool,
            host_moved: bool) -> tuple[str, float]:
    b1, bm, b3 = stats.spread(base)
    n1, nm, n3 = stats.spread(new)
    sign = 1 if lower_better else -1
    worse = sign * (nm - bm) / bm
    all_better = (max(new) < min(base)) if lower_better else (min(new) > max(base))
    if all_better:
        return "improved", worse
    wide = (b3 - b1) / bm > bound or (n3 - n1) / nm > bound
    if wide or host_moved:
        return "unresolved", worse
    if worse > bound:
        return "regressed", worse
    if -worse * bm > (b3 - b1):
        return "improved", worse
    return "unchanged", worse


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as f:
        bench = json.load(f)
    base, new = load(args.base), load(args.new)
    regressed = False

    print(f"{'workload':<14} {'metric':<12} {'base q1/med/q3':>26} {'new q1/med/q3':>26} "
          f"{'worse':>7} {'bound':>6}  verdict")
    for w in bench["workloads"]:
        key = (w["name"], 0)
        if key not in base or key not in new:
            print(f"{w['name']:<14} (no untraced runs on both sides)")
            continue
        fb, fn = floor(base[key]), floor(new[key])
        drift = abs(fn - fb) / fb
        for m in bench["end_to_end"]:
            bv = [r["metrics"][m["name"]]["value"] for r in base[key]]
            nv = [r["metrics"][m["name"]]["value"] for r in new[key]]
            host_moved = drift > m["bound"]
            v, worse = verdict(bv, nv, m["bound"], m["better"] == "lower", host_moved)
            regressed |= v == "regressed"
            b, n = stats.spread(bv), stats.spread(nv)
            print(f"{w['name']:<14} {m['name']:<12} "
                  f"{'/'.join(f'{x:.3g}' for x in b):>26} {'/'.join(f'{x:.3g}' for x in n):>26} "
                  f"{worse:>+7.1%} {m['bound']:>6.2f}  {v}")
        print(f"{w['name']:<14} floor probe  base {fb:.4f}s  new {fn:.4f}s  drift {drift:+.1%}"
              f"  foreign CPU base {foreign(base[key]):.1%} new {foreign(new[key]):.1%}")

    for w in bench["workloads"]:
        key = (w["name"], 1)
        if key not in base or key not in new:
            continue
        print(f"\n{w['name']} traced: per-layer medians (base -> new)")
        for m in bench["per_layer"]:
            bv = [r["metrics"][m["name"]]["value"] for r in base[key]]
            nv = [r["metrics"][m["name"]]["value"] for r in new[key]]
            note = ""
            if m["name"] in COUNTS:
                if len(set(bv)) > 1 or len(set(nv)) > 1:
                    note = "  (varies between runs)"
                else:
                    note = "  (repeats exactly)" if bv == nv[:1] * len(bv) else "  (changed)"
            print(f"  {m['name']:<30} {stats.median(bv):>14.6g} -> {stats.median(nv):<14.6g}"
                  f" {m['unit']}{note}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
