"""Cross-engine identity of the shared 2×2 chains in ``operators/closed_form.py``.

Each chain is one plain-arithmetic function that a Spark plan evaluates on
Columns, a streaming twin on NumPy arrays and a driver-side fit on Python
floats. The three must give the same IEEE bits, including at magnitudes from
1e-6 to 1e6 and for nearly singular ``a·b ≈ c²`` covariances."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from alibi_detect_spark.operators.closed_form import (
    lsdd2_hinv,
    lsdd2_stat,
    mahalanobis_2x2,
    online_mahalanobis_2x2,
    ridge_2x2,
    solve_2x2,
)

N = 400


def _mag(rng, n=N, lo=-6.0, hi=6.0):
    """Log-uniform magnitudes in [10^lo, 10^hi]."""
    return 10.0 ** rng.uniform(lo, hi, n)


def _signed(rng, n=N):
    return _mag(rng, n) * rng.choice([-1.0, 1.0], n)


def _near_singular_c(rng, a, b):
    """``c = ±sqrt(a·b)·(1 − δ)``, ``δ`` from 1e-12 to 1: nearly singular."""
    gap = 1.0 - 10.0 ** rng.uniform(-12.0, 0.0, len(a))
    return np.sqrt(a * b) * gap * rng.choice([-1.0, 1.0], len(a))


def _inputs(rng):
    """Operand columns per chain, as ``{chain: {arg: array}}``."""
    a, b = _mag(rng), _mag(rng)
    c11, c22, lam_r = _mag(rng), _mag(rng), _mag(rng)
    s11, s22 = _mag(rng), _mag(rng)
    return {
        "mahalanobis_2x2": {
            "dx": _signed(rng), "dy": _signed(rng),
            "a": a, "b": b, "c": _near_singular_c(rng, a, b),
        },
        "online_mahalanobis_2x2": {
            "n": np.floor(10.0 ** rng.uniform(0.3, 6.0, N)),
            "sv": _signed(rng), "svv": _mag(rng), "su": _signed(rng), "suu": _mag(rng),
            "svu": _signed(rng), "v": _signed(rng), "u": _signed(rng),
            "q": rng.choice([1.0, 1e4, 1e9], N), "var_eps": rng.choice([0.0, 1e-9], N),
        },
        "lsdd2_hinv": {"e": 10.0 ** rng.uniform(-6.0, 0.0, N), "lam": _mag(rng)},
        "lsdd2_stat": {k: _signed(rng) for k in ("m11", "m12", "h1", "h2")},
        "solve_2x2": {
            "c11": s11, "c22": s22, "c12": _near_singular_c(rng, s11, s22),
            "r1": _signed(rng), "r2": _signed(rng),
        },
        "ridge_2x2": {
            "m1": _signed(rng), "m2": _signed(rng), "my": _signed(rng),
            "c11": c11, "c22": c22, "c12": _near_singular_c(rng, c11 + lam_r, c22 + lam_r),
            "c1y": _signed(rng), "c2y": _signed(rng), "lam": lam_r,
        },
    }


_CHAINS = {
    f.__name__: f
    for f in (mahalanobis_2x2, online_mahalanobis_2x2, lsdd2_hinv, lsdd2_stat, solve_2x2, ridge_2x2)
}


def _outputs(chain, args):
    """The chain's results as a tuple (single-output chains wrapped)."""
    out = _CHAINS[chain](*args)
    return out if isinstance(out, tuple) else (out,)


def test_chains_bitmatch_on_floats_numpy_and_spark(spark):
    """Python floats, NumPy arrays and Spark Columns (one select over all
    chains) give bit-equal results for every input row."""
    inputs = _inputs(np.random.default_rng(2024))
    with np.errstate(all="ignore"):
        by_numpy = {ch: _outputs(ch, list(ops.values())) for ch, ops in inputs.items()}
    # a zero or overflowing divisor raises under ANSI in Spark: keep only rows
    # where every chain is finite in NumPy (the draws avoid exact zeros)
    keep = np.ones(N, dtype=bool)
    for outs in by_numpy.values():
        for o in outs:
            keep &= np.isfinite(o)
    assert keep.sum() > 0.9 * N

    pdf = pd.DataFrame({"i": np.arange(N)[keep]})
    for ch, ops in inputs.items():
        for arg, col in ops.items():
            pdf[f"{ch}__{arg}"] = col[keep]
    # the repartition keeps the select off the driver-side LocalRelation
    # fold, so the projection runs in generated code as the operators do
    df = spark.createDataFrame(pdf).repartition(2)
    exprs = [F.col("i")]
    for ch, ops in inputs.items():
        outs = _outputs(ch, [F.col(f"{ch}__{arg}") for arg in ops])
        exprs += [o.alias(f"{ch}__out{k}") for k, o in enumerate(outs)]
    by_spark = df.select(*exprs).toPandas().sort_values("i")

    rows = pdf.to_dict("records")
    for ch, ops in inputs.items():
        by_float = [_outputs(ch, [float(r[f"{ch}__{arg}"]) for arg in ops]) for r in rows]
        for k, o in enumerate(by_numpy[ch]):
            want = o[keep].view(np.int64)
            floats = np.array([t[k] for t in by_float], dtype=np.float64).view(np.int64)
            cols = by_spark[f"{ch}__out{k}"].to_numpy(dtype=np.float64).view(np.int64)
            assert np.array_equal(floats, want), f"{ch} output {k}: Python floats differ from NumPy"
            assert np.array_equal(cols, want), f"{ch} output {k}: Spark Columns differ from NumPy"
