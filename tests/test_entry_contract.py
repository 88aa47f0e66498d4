"""Driver-contract smoke: entry() produces rows with a stable schema, every
query constructs a valid plan at sf0.001, and every oracle key has a query.
(The full value-level oracle comparison lives in tools/check_entry.py and the
driver's own gate; this protects against import/plan breaks in CI.)"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402


def test_entry_runs(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert "source" in df.columns and "bucket_ts" in df.columns


def test_queries_construct_and_oracles_align(spark, sf_dir):
    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs), "every oracle must have a query"
    assert len(qs) >= 35
    for name, fn in qs.items():
        df = fn(spark, sf_dir)  # plan construction + analysis only
        assert df.columns, name


def test_cheap_queries_execute(spark, sf_dir):
    qs = E.queries()
    for name in ["rollup_1h_events", "token_invariant", "lang_id", "tpch_q1"]:
        assert qs[name](spark, sf_dir).count() > 0, name


def test_reader_memo_holds_only_the_current_session(spark, sf_dir):
    """Each memoized reader holds its session alive, so the memo keeps the
    readers of one session: a second session's first read drops the first
    session's entries, and a repeated read reuses the memoized reader."""
    first = E._t(spark, sf_dir, "events")
    assert E._t(spark, sf_dir, "events") is first
    other = spark.newSession()
    E._t(other, sf_dir, "events")
    E._t(other, sf_dir, "documents")
    assert len(E._READERS) == 2
    assert all(df.sparkSession is other for df in E._READERS.values())


def test_recording_window_covers_unproven_queries():
    """The driver records only the first ~50 queries() entries per round.
    Guard the round-5 ordering invariant: every query that lacks a
    CORRECTNESS_r04 row must sit inside the first 50 — except the thirteen
    documented rows-only entries (r3 rows + bit-match pytests + hash-green
    siblings) that yielded their slots to the round-5 queries."""
    import json

    art = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "CORRECTNESS_r04.json")
    if not os.path.exists(art):
        return
    r4 = set(json.load(open(art)))
    names = list(E.queries())
    allowed_outside = {
        "quality_score", "token_counts", "fingerprint", "tpch_q1",
        "lsdd_perm_test", "classifier_drift_lr",
        "context_mmd_drift",
        "svm_outlier", "iforest_outlier", "pca_outlier", "gmm_outlier",
        "lsdd_online", "mahalanobis_online",
    }
    uncovered = [n for n in names if n not in set(names[:50]) and n not in r4]
    assert set(uncovered) <= allowed_outside, uncovered
