"""Reproduce the post-stratified Taylor-inference faults outside the
benchmark loop (see README.md, "Faults found").

    python3 surveybench/repro.py --method pst.kw --cohort 20000 --survey 10000
    python3 surveybench/repro.py --method pst.ipsw --cohort 5000 --survey 2500

Runs ``taylor_inference`` once with one post-stratified method on inputs
drawn as in the ``variance`` workload with seed 1 (cells: x1 terciles),
with a 4 GB driver heap and the JVM's default collector (G1), the
configuration the faults were reported under, and prints the wall time
of the call and of each layer span, or the error it raised.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections import defaultdict

import proctree
import run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--method", default="pst.kw", choices=("pst.kw", "pst.ipsw"))
    ap.add_argument("--cohort", type=int, default=20_000)
    ap.add_argument("--survey", type=int, default=10_000)
    args = ap.parse_args(argv)
    run._pin_environment()

    import numpy as np

    import tracer as tracing
    import workloads as wl

    tr = tracing.Tracer(run.PKG, tracing.LAYERS)
    tr.install()
    spark = run._spark(gc="")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        rng = np.random.default_rng([1, 2])
        pop = wl.population(rng, wl.V_POP)
        cpdf = wl.poisson_draw(rng, pop, wl.ODDS_C, args.cohort, weighted=False)
        spdf = wl.poisson_draw(rng, pop, wl.ODDS_S, args.survey, weighted=True)
        nh = {int(k): float(v) for k, v in pop.groupby("x1_c").size().items()}
        taylor = wl._mod("taylor")
        t0 = time.time()
        try:
            with tr.root():
                taylor.taylor_inference(
                    wl.load(spark, cpdf), wl.load(spark, spdf), wl.PS_FORMULA,
                    wl.X_COLS, wl.T_STAR, pop_size=float(wl.V_POP),
                    methods=(args.method,), post_cells=("x1_c", nh))
            outcome = "ok"
        except Exception as exc:  # the fault under study; report it
            outcome = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
        print(f"{args.method} cohort={len(cpdf)} survey={len(spdf)}: "
              f"{outcome} after {time.time() - t0:.1f} s")
        per_layer = defaultdict(float)
        for s in tr._spans:
            per_layer[s.layer] += (s.t1 - s.t0) - s.child_s
        for layer, secs in sorted(per_layer.items(), key=lambda kv: -kv[1]):
            print(f"  {layer:18s} self {secs:8.2f} s")
    finally:
        pids = [p for p in proctree.tree() if p != os.getpid()]
        jvm = spark.sparkContext._gateway.proc
        spark.stop()
        run._wait_ended(jvm, pids)
    return 0


if __name__ == "__main__":
    sys.exit(main())
