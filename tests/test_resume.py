"""Kill-and-resume: a job stopped mid-pipeline resumes from lineage and
produces outputs identical to an uninterrupted run, without recomputing the
completed stages (BASELINE.json: "resumable from checkpoint with
per-partition lineage and metrics tables")."""

import io
import json
import re
from contextlib import redirect_stdout

import numpy as np
import pandas as pd
import pytest

from alibi_detect_spark.pipeline import run_pipeline
from alibi_detect_spark.plans.lineage import LineageLog
from alibi_detect_spark.sources.catalog import TierCatalog
from alibi_detect_spark.synth import SynthConfig, synth_dataframe

CFG = SynthConfig(n_rows=30_000, n_sources=4, rows_per_bucket=64)
DETECT = dict(mmd_params=dict(n_ref=32, ert=40.0, window_size=5, n_bootstraps=80))
# lineage stage -> the table it writes
STAGE_TABLES = {
    "rollup_1h": "rollup_1h", "rollup_6h": "rollup_6h", "rollup_1d": "rollup_1d",
    "encode": "pages", "detect": "scores_1h",
}


@pytest.fixture(scope="module")
def raw(spark):
    return synth_dataframe(spark, CFG, with_tokens=False, num_partitions=4).cache()


def _pages_bytes(df):
    pdf = df.toPandas().sort_values(["tier", "source", "page_start_ts"])
    return [bytes(b) for b in pdf["page"]]


def test_resume_after_kill(spark, raw, tmp_path):
    wh_int, wh_clean = str(tmp_path / "interrupted"), str(tmp_path / "clean")

    # uninterrupted reference run
    clean = run_pipeline(spark, raw, wh_clean, page_size=128, detect_kwargs=DETECT)

    # "killed" after tier-1: only rollup_1h exists + its lineage row
    partial = run_pipeline(
        spark, raw, wh_int, page_size=128, detect_kwargs=DETECT,
        job_fingerprint="jobA", stop_after="rollup_1h",
    )
    assert partial["pages"] is None and partial["scores"] is None
    assert not (tmp_path / "interrupted" / "pages").exists()

    # resume with the same fingerprint: completes, skipping tier-1
    resumed = run_pipeline(
        spark, raw, wh_int, page_size=128, detect_kwargs=DETECT,
        job_fingerprint="jobA", resume=True,
    )
    assert resumed["metrics"].get("rollup_1h_skipped") is True
    assert "tier_1h" not in {k: v for k, v in resumed["metrics"].items() if v and k == "tier_1h"}

    # outputs identical to the uninterrupted run
    assert _pages_bytes(resumed["pages"]) == _pages_bytes(clean["pages"])
    key = ["source", "bucket_ts"]
    a = resumed["scores"].toPandas().sort_values(key).reset_index(drop=True)
    b = clean["scores"].toPandas().sort_values(key).reset_index(drop=True)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            av, bv = np.nan_to_num(av, nan=-1.0), np.nan_to_num(bv, nan=-1.0)
            assert np.array_equal(av.view(np.uint64), bv.view(np.uint64)), c
        else:
            assert (av == bv).all(), c


def test_resume_ignores_other_fingerprint(spark, raw, tmp_path):
    wh = str(tmp_path / "wh")
    run_pipeline(spark, raw, wh, page_size=128, detect_kwargs=DETECT,
                 job_fingerprint="jobA", stop_after="rollup_1h")
    # a DIFFERENT job config must NOT reuse jobA's tier table
    out = run_pipeline(spark, raw, wh, page_size=64, detect_kwargs=DETECT,
                       job_fingerprint="jobB", resume=True)
    assert out["metrics"].get("rollup_1h_skipped") is None
    assert out["metrics"]["tier_1h"] > 0


@pytest.mark.parametrize("stop_after", [None, "downsample"])
def test_lineage_rows_out_equal_written_rows(spark, raw, tmp_path, stop_after):
    """Each stage's lineage ``rows_out`` is the row count of the table it
    wrote, on a straight run and on one stopped after ``downsample`` and
    resumed (the rollup rows then come from the stopped job)."""
    wh = str(tmp_path / "wh")
    if stop_after:
        run_pipeline(spark, raw, wh, page_size=128, detect_kwargs=DETECT, stop_after=stop_after)
    out = run_pipeline(spark, raw, wh, page_size=128, detect_kwargs=DETECT, resume=bool(stop_after))
    skipped = {k for k in out["metrics"] if k.endswith("_skipped")}
    assert skipped == ({"rollup_1h_skipped", "rollup_6h_skipped", "rollup_1d_skipped"}
                       if stop_after else set())
    log = LineageLog(f"{wh}/_lineage")
    for stage, table in STAGE_TABLES.items():
        rows_out = int(log.latest(stage)["rows_out"].iloc[0])
        assert rows_out == spark.read.parquet(f"{wh}/{table}").count(), stage


def test_encode_lineage_records_the_compression_ratio(spark, raw, tmp_path):
    """The ``encode`` lineage row carries the points the pages hold and
    their bits per point, observed by the pages write itself; both equal
    what the written ``pages`` table gives."""
    wh = str(tmp_path / "wh")
    run_pipeline(spark, raw, wh, page_size=128, detect_kwargs=DETECT)
    row = json.loads(LineageLog(f"{wh}/_lineage").latest("encode")["metrics"].iloc[0])
    pages = pd.read_parquet(f"{wh}/pages", columns=["n_points", "page"])
    points = int(pages["n_points"].sum())
    assert row["points"] == points
    assert row["bits_per_point"] == 8.0 * sum(len(bytes(p)) for p in pages["page"]) / points


def _plan(df) -> tuple[list[str], str]:
    """``df``'s formatted physical plan: its operator tree, one node a line
    with parents above their children, and the whole text."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().split("\n\n")[0].splitlines()[1:], buf.getvalue()


def test_write_plans_distribute_below_the_detectors(spark, raw, tmp_path, monkeypatch):
    """The scores frame the catalog writes has one exchange, a range
    partitioning on ``source`` below the per-source Arrow stage, so the
    range sampler never runs the detectors; the rollup tiers keep their
    ``(source, bucket_ts)`` range exchange."""
    plans = {}
    write = TierCatalog._write

    def capture(self, df, name, *args, **kwargs):
        plans[name] = _plan(df)
        return write(self, df, name, *args, **kwargs)

    monkeypatch.setattr(TierCatalog, "_write", capture)
    run_pipeline(spark, raw, str(tmp_path / "wh"), page_size=128, detect_kwargs=DETECT)

    tree, text = plans["scores_1h"]
    udf = [i for i, line in enumerate(tree) if "FlatMapGroupsInPandas" in line]
    exchanges = [i for i, line in enumerate(tree) if re.search(r"\bExchange \(", line)]
    assert len(udf) == 1 and len(exchanges) == 1, tree
    assert exchanges[0] > udf[0], tree
    assert re.search(r"Arguments: rangepartitioning\(source#\d+ ASC NULLS FIRST, \d+\)", text)
    for table in ("rollup_1h", "rollup_6h", "rollup_1d"):
        ranged = r"rangepartitioning\(source#\d+ ASC NULLS FIRST, bucket_ts#"
        assert re.search(ranged, plans[table][1]), table


def test_retention_expiry(spark, raw, tmp_path):
    """Retention: dropping a tier partition removes exactly that tier's pages
    (Iceberg analog: DELETE WHERE tier=... -> partition drop)."""
    wh = str(tmp_path / "wh_exp")
    out = run_pipeline(spark, raw, wh, page_size=128, detect_kwargs=DETECT)
    tiers_before = {r["tier"] for r in out["pages"].select("tier").distinct().collect()}
    assert {"1h", "6h", "1d"} <= tiers_before
    out["catalog"].expire("pages", "1h")
    remaining = spark.read.parquet(f"{wh}/pages")
    tiers_after = {r["tier"] for r in remaining.select("tier").distinct().collect()}
    assert tiers_after == tiers_before - {"1h"}


def test_catalog_read_schema_matches_inferred(spark, raw, tmp_path):
    """``TierCatalog.read`` reads each table with its fixed schema
    (``schemas.py``) instead of inferring one from the parquet footers; the
    columns, their types and order (``tier`` last in ``pages``, as a
    partition column) and the rows equal those of an inferring read."""
    wh = str(tmp_path / "wh")
    out = run_pipeline(spark, raw, wh, page_size=128, detect_kwargs=DETECT)
    for table in STAGE_TABLES.values():
        got = out["catalog"].read(spark, table)
        want = spark.read.parquet(f"{wh}/{table}")
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ], table
        key = [c for c in want.columns if c != "page"]
        pd.testing.assert_frame_equal(
            got.toPandas().sort_values(key).reset_index(drop=True),
            want.toPandas().sort_values(key).reset_index(drop=True),
        )
