"""Per-stage lineage + metrics table.

One row per (stage, partition key) records the job fingerprint the stage
was committed under, the rows it wrote (counted by the ``TierCatalog`` write
itself) and its metrics. Resume skips every stage whose latest row carries
this job's fingerprint and whose table exists; a stage that died mid-write
is redone, which is idempotent because every tier write is an overwrite.
Latest-timestamp-wins reads over an append-only parquet log emulate the
keyed MERGE (the Iceberg deployment uses a real ``MERGE INTO``). Detector
state is not kept here: a batch scores pass rescores each whole series, so
it has none, and the streaming twins keep theirs in their checkpoint
directories.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pandas as pd


class LineageLog:
    """Append-only lineage/metrics log with latest-wins reads (MERGE emulation)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def record(
        self,
        stage: str,
        partition_key: str,
        input_fingerprint: str,
        rows_out: int,
        metrics: dict | None = None,
    ) -> None:
        row = pd.DataFrame(
            [
                {
                    "stage": stage,
                    "partition_key": partition_key,
                    "input_fingerprint": input_fingerprint,
                    "rows_out": rows_out,
                    "metrics": json.dumps(metrics or {}),
                    "updated_at": time.time_ns(),
                }
            ]
        )
        row.to_parquet(os.path.join(self.root, f"{uuid.uuid4().hex}.parquet"))

    def _load(self) -> pd.DataFrame | None:
        files = [f for f in os.listdir(self.root) if f.endswith(".parquet")]
        if not files:
            return None
        df = pd.concat(
            [pd.read_parquet(os.path.join(self.root, f)) for f in files],
            ignore_index=True,
        )
        df = df.sort_values("updated_at").groupby(["stage", "partition_key"], as_index=False).last()
        return df

    def latest(self, stage: str) -> pd.DataFrame:
        df = self._load()
        if df is None:
            return pd.DataFrame(
                columns=["stage", "partition_key", "input_fingerprint", "rows_out", "metrics",
                         "updated_at"]
            )
        return df[df["stage"] == stage].reset_index(drop=True)

    def done_fingerprints(self, stage: str) -> set[str]:
        return set(self.latest(stage)["input_fingerprint"])
