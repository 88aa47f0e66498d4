"""Config-driven API: save → load → identical results (the reference's
``save_detector``/``load_detector`` round-trip contract, ``saving/tests/``),
plus schema validation failures for bad specs."""

import pytest

from alibi_detect_spark import config as C


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return df.withColumn(
        "sample", F.when(F.col("event_id") % 2 == 0, F.lit("ref")).otherwise(F.lit("test"))
    )


def test_config_roundtrip_equals_direct(spark, events, tmp_path):
    spec = {"kind": "ks_2samp", "params": {"key": "event_type", "value": "value"}}
    p = str(tmp_path / "det.json")
    C.save_config(p, spec)
    run = C.load_config(p)
    got = run(spark, events).toPandas().sort_values("event_type").reset_index(drop=True)

    from alibi_detect_spark.operators.drift import ks_2samp

    want = ks_2samp(events, "event_type", "value").toPandas().sort_values("event_type").reset_index(drop=True)
    assert got.equals(want)


def test_config_rollup_chain(spark, events, tmp_path):
    r = C.build({"kind": "metric_rollup", "params": {"key": "event_type", "ts_col": "ts", "value": "value", "tier": "1h"}})(spark, events)
    d = C.build({"kind": "metric_downsample", "params": {"key": "event_type", "from_tier": "1h", "to_tier": "1d"}})(spark, r)
    assert d.count() > 0


def test_config_ann_predicate(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    run = C.build({"kind": "knn_outlier_scores", "params": {"predicate": "vec_id % 5 = 0", "k": 3}})
    assert run(spark, emb).count() == emb.count()


def test_config_validation_errors():
    with pytest.raises(ValueError, match="unknown operator kind"):
        C.validate({"kind": "nope"})
    with pytest.raises(ValueError, match="unknown params"):
        C.validate({"kind": "ks_2samp", "params": {"key": "a", "value": "b", "bogus": 1}})
    with pytest.raises(ValueError, match="unknown params"):
        C.validate({"kind": "infer_threshold", "params": {"score_col": "s", "mode": "exact_2pass"}})
    with pytest.raises(ValueError, match="missing required"):
        C.validate({"kind": "ks_2samp", "params": {"key": "a"}})
    with pytest.raises(ValueError, match="predicate"):
        C.validate({"kind": "cosine_topk", "params": {}})


def test_config_toml_roundtrip_equals_json(spark, events, tmp_path):
    spec = {"kind": "ks_2samp", "params": {"key": "event_type", "value": "value"}}
    pj, pt = str(tmp_path / "det.json"), str(tmp_path / "det.toml")
    C.save_config(pj, spec)
    C.save_config(pt, spec)
    a = C.load_config(pj)(spark, events).toPandas().sort_values("event_type").reset_index(drop=True)
    b = C.load_config(pt)(spark, events).toPandas().sort_values("event_type").reset_index(drop=True)
    assert a.equals(b)


def test_config_reference_toml_migration(spark, events, tmp_path):
    # a reference-style saved detector (saving/loading.py:77-118 layout):
    # name = detector class, flat kwargs, reference-only keys dropped
    p = str(tmp_path / "config.toml")
    with open(p, "w") as f:
        f.write(
            'name = "KSDrift"\n'
            'x_ref = "x_ref.npy"\n'
            "p_val = 0.05\n"
            'key = "event_type"\n'
            'value = "value"\n'
        )
    run = C.load_config(p)
    out = run(spark, events).toPandas()
    assert set(out.columns) >= {"event_type", "ks_stat", "p_value"}
    assert len(out) > 0


def test_config_reference_toml_reports_dropped():
    spec, dropped = C.from_reference_toml(
        {"name": "MMDDrift", "x_ref": "a.npy", "backend": "pytorch", "value": "value"}
    )
    assert spec["kind"] == "mmd_perm_test_hash"
    assert set(dropped) == {"x_ref", "backend"}


def test_config_reference_toml_unknown_detector():
    with pytest.raises(ValueError, match="unknown reference detector"):
        C.from_reference_toml({"name": "OutlierVAE"})
