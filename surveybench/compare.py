"""Collect sets of benchmark runs and compare two of them.

    python3 surveybench/compare.py collect SET_DIR [--seeds 1-10]
        [--workloads weights,variance] [--trace 0|1]
    python3 surveybench/compare.py compare BASE_DIR NEW_DIR

``collect`` runs ``run.py`` once per workload and seed, one after the
other, and keeps each run's stdout as ``SET_DIR/<workload>__<seed>.out``
(stderr beside it as ``.err``).

``compare`` reads the last line of every ``.out`` file of both sets and
prints, per workload and metric, each set's median and quartiles, the
share of seed-matched pairs the new set wins, and a verdict using the
bounds in BENCHMARK.json:

- ``worse``: the new median is worse than the base median by more than
  the bound;
- ``improved``: the new set wins at least 9 of 10 pairs and the medians
  differ by more than the base set's interquartile range;
- ``within``: neither, and both sets' spread (IQR / median) is within
  the bound;
- ``unresolved``: neither, and a spread exceeds the bound.

Per-layer metrics (traced runs) have no bound; they are printed with
the relative difference of the medians.  The exit code is 1 when any
verdict is ``worse`` or the share of failed operations differs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def collect(args) -> int:
    spec = _spec()
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    os.makedirs(args.set_dir, exist_ok=True)
    for seed in _seeds(args.seeds):
        for wl in workloads:
            cmd = [*spec["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            out = os.path.join(args.set_dir, f"{wl}__{seed}")
            with open(out + ".out", "w") as f, open(out + ".err", "w") as err:
                rc = subprocess.run(cmd, cwd=ROOT, stdout=f, stderr=err).returncode
            print(f"{wl} seed {seed}: exit {rc}", flush=True)
    return 0


def _load(set_dir: str) -> dict:
    """{workload: {seed: result}} from the last line of each run."""
    runs: dict = {}
    for name in sorted(os.listdir(set_dir)):
        if not name.endswith(".out") or "__" not in name:
            continue
        wl, seed = name[:-4].rsplit("__", 1)
        with open(os.path.join(set_dir, name)) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        try:
            runs.setdefault(wl, {})[seed] = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            runs.setdefault(wl, {})[seed] = None
    return runs


def _quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def verdict(base: list[float], new: list[float], pairs: list[tuple[float, float]],
            bound: float, lower_better: bool) -> tuple[str, float]:
    """Verdict for one metric and the share of pairs the new set wins."""
    sign = 1.0 if lower_better else -1.0
    b1, bm, b3 = _quartiles(base)
    n1, nm, n3 = _quartiles(new)
    wins = sum(1 for b, n in pairs if sign * (n - b) < 0)
    share = wins / len(pairs) if pairs else float("nan")
    if sign * (nm - bm) > bound * abs(bm):
        return "worse", share
    if share >= 0.9 and sign * (nm - bm) < 0 and abs(nm - bm) > (b3 - b1):
        return "improved", share
    if (b3 - b1) <= bound * abs(bm) and (n3 - n1) <= bound * abs(nm):
        return "within", share
    return "unresolved", share


def compare(args) -> int:
    spec = _spec()
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    base, new = _load(args.base), _load(args.new)
    status = 0
    for wl in [w["name"] for w in spec["workloads"]]:
        b_runs = {k: v for k, v in base.get(wl, {}).items() if v}
        n_runs = {k: v for k, v in new.get(wl, {}).items() if v}
        if not b_runs or not n_runs:
            print(f"{wl}: no runs in one of the sets")
            status = 1
            continue
        share = [sum(r["failed"] for r in runs.values())
                 / sum(r["attempted"] for r in runs.values())
                 for runs in (b_runs, n_runs)]
        correct = all(r["correct"] for r in (*b_runs.values(), *n_runs.values()))
        print(f"== {wl}: {len(b_runs)} base runs, {len(n_runs)} new runs, "
              f"failed share {share[0]:.4f} / {share[1]:.4f}, all correct: {correct}")
        if share[0] != share[1] or not correct:
            status = 1
        names = sorted(set().union(*[r["metrics"] for r in b_runs.values()]))
        seeds = sorted(set(b_runs) & set(n_runs))
        for name in names:
            bv = [r["metrics"][name]["value"] for r in b_runs.values()]
            nv = [r["metrics"][name]["value"] for r in n_runs.values()]
            if seeds:
                pairs = [(b_runs[s]["metrics"][name]["value"],
                          n_runs[s]["metrics"][name]["value"]) for s in seeds]
            else:
                pairs = list(zip(bv, nv))
            bq, nq = _quartiles(bv), _quartiles(nv)
            line = (f"  {name:32s} base {bq[1]:11.4f} [{bq[0]:.4f}, {bq[2]:.4f}]"
                    f"  new {nq[1]:11.4f} [{nq[0]:.4f}, {nq[2]:.4f}]")
            if name in bounds:
                v, won = verdict(bv, nv, pairs, bounds[name]["bound"],
                                 better[name] == "lower")
                spread = (bq[2] - bq[0]) / abs(bq[1]) if bq[1] else float("inf")
                line += f"  spread {spread:.3f}  won {won:.2f}  {v} (bound {bounds[name]['bound']})"
                if v == "worse":
                    status = 1
            else:
                rel = (nq[1] - bq[1]) / abs(bq[1]) if bq[1] else 0.0
                line += f"  diff {rel:+.3f}"
            print(line)
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("set_dir")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads", default="")
    c.add_argument("--trace", type=int, default=0)
    c.set_defaults(fn=collect)
    p = sub.add_parser("compare")
    p.add_argument("base")
    p.add_argument("new")
    p.set_defaults(fn=compare)
    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
