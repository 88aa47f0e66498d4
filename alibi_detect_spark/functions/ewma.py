"""Exponentially-weighted moving average — the reference's threshold smoother.

Semantics match ``alibi_detect/cd/fet_online.py:225-233`` (``_exp_moving_avg``):
``out[0] = x[0]; out[i] = (1-lam)*out[i-1] + lam*x[i]`` over the final axis.
Non-associative recursion → in Spark this runs per-key inside a sorted
``applyInPandas`` group, with the carry (last ewma value) handed back in by
the caller (a carry dict, or a streaming twin's checkpointed state) so
page-chunked and resumed runs reproduce identical trajectories bit-for-bit.
"""

from __future__ import annotations

import numpy as np


def ewma(x: np.ndarray, lam: float, carry: float | None = None) -> np.ndarray:
    """EWMA over the final axis.

    ``carry`` is the ewma value of the point *preceding* ``x[...,0]`` (state
    restored from checkpoint); when ``None``, the recursion seeds with
    ``x[...,0]`` exactly like the reference.
    """
    x = np.asarray(x, dtype=np.float64)
    out = np.empty_like(x)
    if x.shape[-1] == 0:
        return out
    out[..., 0] = x[..., 0] if carry is None else (1 - lam) * carry + lam * x[..., 0]
    for i in range(1, x.shape[-1]):
        out[..., i] = (1 - lam) * out[..., i - 1] + lam * x[..., i]
    return out
