"""The single-node reference implementation (no Spark imports in the hot path)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..schemas import TIER_SECONDS


def rollup_pandas(raw: pd.DataFrame, tier: str = "1h") -> pd.DataFrame:
    secs = TIER_SECONDS[tier]
    epoch = raw["event_ts"].astype("int64") // 1_000_000_000
    bucket = (epoch // secs) * secs
    g = raw.assign(bucket_ts=bucket).groupby(["source", "bucket_ts"], sort=True)
    out = g["n_tok"].agg(
        n_docs="count", sum_n_tok="sum", min_n_tok="min", max_n_tok="max"
    ).reset_index()
    out["n_docs"] = out["n_docs"].astype(np.int64)
    out["sum_n_tok"] = out["sum_n_tok"].astype(np.int64)
    out["mean_n_tok"] = out["sum_n_tok"] / out["n_docs"]
    out["gapfilled"] = False
    return out


def gapfill_pandas(rollup: pd.DataFrame, tier: str = "1h") -> pd.DataFrame:
    secs = TIER_SECONDS[tier]
    frames = []
    for source, grp in rollup.groupby("source", sort=True):
        grid = np.arange(grp["bucket_ts"].min(), grp["bucket_ts"].max() + 1, secs)
        merged = (
            pd.DataFrame({"source": source, "bucket_ts": grid})
            .merge(grp.drop(columns=["gapfilled"]), on=["source", "bucket_ts"], how="left")
        )
        merged["gapfilled"] = merged["n_docs"].isna()
        merged["n_docs"] = merged["n_docs"].fillna(0).astype(np.int64)
        merged["sum_n_tok"] = merged["sum_n_tok"].fillna(0).astype(np.int64)
        frames.append(merged)
    return pd.concat(frames, ignore_index=True)


def downsample_pandas(rollup: pd.DataFrame, from_tier: str, to_tier: str) -> pd.DataFrame:
    secs = TIER_SECONDS[to_tier]
    assert secs % TIER_SECONDS[from_tier] == 0
    b = (rollup["bucket_ts"] // secs) * secs
    g = rollup.assign(bucket_ts=b).groupby(["source", "bucket_ts"], sort=True)
    out = g.agg(
        n_docs=("n_docs", "sum"),
        sum_n_tok=("sum_n_tok", "sum"),
        min_n_tok=("min_n_tok", "min"),
        max_n_tok=("max_n_tok", "max"),
    ).reset_index()
    out["n_docs"] = out["n_docs"].astype(np.int64)
    out["sum_n_tok"] = out["sum_n_tok"].astype(np.int64)
    out["mean_n_tok"] = np.where(
        out["n_docs"] > 0, out["sum_n_tok"] / out["n_docs"], np.nan
    )
    out["gapfilled"] = out["n_docs"] == 0
    return out


def encode_pages_pandas(rollup: pd.DataFrame, tier: str, page_size: int = 1024) -> pd.DataFrame:
    from ..operators.encode import encode_source_series

    frames = [
        encode_source_series(grp, tier=tier, page_size=page_size)
        for _, grp in rollup.groupby("source", sort=True)
    ]
    return pd.concat(frames, ignore_index=True)


def score_pandas(rollup: pd.DataFrame, **kwargs) -> pd.DataFrame:
    from ..operators.detect import score_series

    frames = [
        score_series(grp, **kwargs) for _, grp in rollup.groupby("source", sort=True)
    ]
    return pd.concat(frames, ignore_index=True)


def oracle_pipeline(
    raw: pd.DataFrame, page_size: int = 1024, detect_kwargs: dict | None = None
) -> dict:
    """Full single-node pipeline; returns every intermediate for bit-matching."""
    t1 = rollup_pandas(raw, "1h")
    t1f = gapfill_pandas(t1, "1h")
    t2 = downsample_pandas(t1f, "1h", "6h")
    t3 = downsample_pandas(t2, "6h", "1d")
    pages = {
        "1h": encode_pages_pandas(t1f, "1h", page_size),
        "6h": encode_pages_pandas(t2, "6h", page_size),
        "1d": encode_pages_pandas(t3, "1d", page_size),
    }
    scores = score_pandas(t1f, **(detect_kwargs or {}))
    return {"t1": t1, "t1_filled": t1f, "t2": t2, "t3": t3, "pages": pages, "scores": scores}
