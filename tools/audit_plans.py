"""Physical-plan audit: assert the plans we want, write PLANS.md.

For each audited query this checks the properties that matter at 100 TB —
filter pushdown reaching the parquet scan, column pruning (the `tokens`
array never read by rollups), map-side partial aggregation, whole-stage
codegen on the hot path, broadcast joins for small sides — and records the
formatted plan with annotations so regressions are visible in review.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import contextmanager, redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


# ids Spark draws from session-wide counters: expression ids (``source#123``),
# exchange plan ids and RDD ids (``MapPartitionsRDD[32]`` of a checkpoint)
RUN_IDS = (re.compile(r"#(\d+)"), re.compile(r"\[plan_id=(\d+)\]"), re.compile(r"RDD\[(\d+)\]"))


def stable_ids(plan: str) -> str:
    """``plan`` with every run-dependent id renumbered 1, 2, … in order of
    first appearance, per kind: the same plan prints the same text on every
    run, so a PLANS.md diff shows only plan changes."""
    for pattern in RUN_IDS:
        seen: dict[str, str] = {}

        def renumber(m: re.Match) -> str:
            new = seen.setdefault(m.group(1), str(len(seen) + 1))
            return m.group(0).replace(m.group(1), new)

        plan = pattern.sub(renumber, plan)
    return plan


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return stable_ids(buf.getvalue())


@contextmanager
def checkpointed_plans(spark):
    """Collect the plan of every relation ``localCheckpoint``-ed on
    ``spark`` while the block runs: an eager checkpoint shows in the final
    plan only as ``Scan ExistingRDD``, so its sub-plan is captured here
    instead."""
    DataFrame = type(spark.range(0))  # the session's concrete DataFrame class
    plans: list[str] = []
    original = DataFrame.localCheckpoint

    def capture(self, *args, **kwargs):
        plans.append(plan_of(self))
        return original(self, *args, **kwargs)

    DataFrame.localCheckpoint = capture
    try:
        yield plans
    finally:
        DataFrame.localCheckpoint = original


def main() -> None:
    import __spark_entry__ as E
    from alibi_detect_spark.session import get_spark

    spark = get_spark("plan-audit", parallelism=8, shuffle_partitions=8)
    qs = E.queries()
    sections = []
    failures = []

    def audit(name, df, requires: list[str], forbids: list[str], note: str, checks=None):
        """``checks`` maps the label of a check the caller computed to its
        outcome."""
        p = plan_of(df)
        verdicts = []
        for label, ok in (checks or {}).items():
            verdicts.append(f"  - REQUIRE {label}: {'OK' if ok else 'FAIL'}")
            if not ok:
                failures.append(f"{name}: {label}")
        for s in requires:
            ok = s in p
            verdicts.append(f"  - REQUIRE `{s}`: {'OK' if ok else 'MISSING'}")
            if not ok:
                failures.append(f"{name}: missing {s}")
        for s in forbids:
            ok = s not in p
            verdicts.append(f"  - FORBID `{s}`: {'OK' if ok else 'PRESENT'}")
            if not ok:
                failures.append(f"{name}: forbidden {s}")
        head = "\n".join(l for l in p.splitlines() if l.strip())[:3000]
        sections.append(
            f"## {name}\n\n{note}\n\nChecks:\n" + "\n".join(verdicts) + f"\n\n```\n{head}\n```\n"
        )

    # 1. tier rollup: partial+final hash agg, codegen, NO tokens column read
    p = plan_of(qs["token_rollup_1h"](spark, SF))
    two_stage = p.count("HashAggregate") >= 2 and "Exchange" in p
    if not two_stage:
        failures.append("token_rollup_1h: no partial+final hash aggregation")
    sections.append(
        "## token_rollup_1h — partial+final aggregation\n\n"
        "Tumbling tier-1 rollup: map-side partial HashAggregate BEFORE the "
        "shuffle, final HashAggregate after — the shuffle carries one row per "
        "(source, bucket) per task, not the raw stream. (Codegen spans only "
        "render in post-execution AQE plans; the agg structure is the "
        f"load-bearing property.) Two-stage agg present: {'OK' if two_stage else 'FAIL'}\n\n"
        "```\n" + "\n".join(l for l in p.splitlines() if l.strip())[:1500] + "\n```\n"
    )

    # 2. events rollup: column pruning at the scan
    df = qs["rollup_1h_events"](spark, SF)
    p = plan_of(df)
    pruned = "props" not in p and "user_id" not in p
    if not pruned:
        failures.append("rollup_1h_events: scan reads unused columns")
    sections.append(
        "## rollup_1h_events — column pruning\n\n"
        f"Scan must read only (event_type, ts, value); props/user_id pruned: "
        f"{'OK' if pruned else 'FAIL'}\n\n```\n"
        + "\n".join(l for l in p.splitlines() if "ReadSchema" in l or "Scan parquet" in l)
        + "\n```\n"
    )

    # 3. tpch_q1: predicate pushdown to parquet
    audit(
        "tpch_q1",
        qs["tpch_q1"](spark, SF),
        requires=["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"],
        forbids=[],
        note="The shipdate filter must reach the parquet scan (PushedFilters), "
        "not run post-scan.",
    )

    # 4. chi2: broadcast the one-row totals, no shuffle join for it
    audit(
        "chi2_drift",
        qs["chi2_drift"](spark, SF),
        requires=["BroadcastExchange"],
        forbids=["SortMergeJoin"],
        note="Contingency-cell marginals and totals are tiny: every join must "
        "broadcast; a sort-merge join here would shuffle the full cell table.",
    )

    # 5. ks: single shuffle by (key,value) then windows — no extra exchange
    df = qs["ks_drift"](spark, SF)
    p = plan_of(df)
    n_ex = p.count("Exchange hashpartitioning")
    if n_ex > 3:
        failures.append(f"ks_drift: {n_ex} hash exchanges (expected <= 3)")
    sections.append(
        "## ks_drift — shuffle count\n\n"
        f"ECDF plan: groupBy(key,value) + two window passes + final max — "
        f"{n_ex} hash exchanges (<= 3 required: the window reuses the "
        f"group-by partitioning where possible).\n"
    )

    # 6. ANN top-k: corpus side is a pure scan + mapInPandas (no corpus shuffle
    #    before the python stage), final merge window over candidates only
    audit(
        "ann_cosine_topk",
        qs["ann_cosine_topk"](spark, SF),
        requires=["MapInPandas"],
        forbids=["CartesianProduct", "BroadcastNestedLoopJoin"],
        note="Brute-force cosine is a broadcast-matrix scan: the corpus is "
        "never joined or shuffled at full width — candidates (|Q|*k per "
        "partition) are the only shuffled rows.",
    )

    # 6b. IVF top-k: the queried cell set must prune the SCAN (PushedFilters),
    #     not mask rows after reading the full corpus
    audit(
        "ann_ivf_topk",
        qs["ann_ivf_topk"](spark, SF),
        requires=["MapInPandas", "PushedFilters: [In(label"],
        forbids=["CartesianProduct", "BroadcastNestedLoopJoin"],
        note="IVF prune is a pre-scan filter: the queried cells arrive as an "
        "`In(label, ...)` pushed into the parquet source, so on a corpus "
        "partitioned by cell each query batch reads 1/n_cells of the data; "
        "the in-batch mask only breaks per-query ties.",
    )

    # 6c. exact n-gram jaccard: hot-shingle guard is a BROADCAST anti-join
    #     (tiny hot set), candidate generation stays equi-join only
    audit(
        "dedup_ngram_jaccard",
        qs["dedup_ngram_jaccard"](spark, SF),
        requires=["BroadcastHashJoin", "LeftAnti"],
        forbids=["CartesianProduct", "BroadcastNestedLoopJoin"],
        note="The df-cap guard drops boilerplate shingles (df > cap) before "
        "the self-join via a broadcast LeftAnti join — the hot set is tiny by "
        "construction, so no extra shuffle; without it one hot shingle in 10^6 "
        "docs emits 10^12 candidate rows.",
    )

    # 6d. classifier drift (NB): per-fold moment table is a BROADCAST join
    #     onto the stream; no sort-merge join anywhere in the plan
    audit(
        "classifier_drift",
        qs["classifier_drift"](spark, SF),
        requires=["BroadcastHashJoin", "HashAggregate"],
        forbids=["SortMergeJoin", "CartesianProduct"],
        note="Gaussian-NB ClassifierDrift: leave-fold-out class moments come "
        "from one partial+final DECIMAL aggregate; the (n_folds)-row moment "
        "table broadcasts back onto the stream — the raw data shuffles only "
        "for the final KS ECDF groupBy.",
    )

    # 6e. deterministic online-MMD stats: one ordered python stage per key,
    #     no joins at all on the stream side
    audit(
        "mmd_online",
        qs["mmd_online"](spark, SF),
        requires=["FlatMapGroupsInPandas"],
        forbids=["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        note="Online-MMD stat trajectory: banded kernel sums inside one "
        "grouped Arrow stage per source — the series shuffles once on the "
        "key, never joins.",
    )

    # 6f. reservoir sample: global top-n must be TakeOrderedAndProject
    #     (per-partition top-n + tiny merge), never a full sort shuffle
    audit(
        "reservoir_sample",
        qs["reservoir_sample"](spark, SF),
        requires=["TakeOrderedAndProject"],
        forbids=["Exchange rangepartitioning"],
        note="Distributed reservoir = n smallest md5 priorities: Spark "
        "compiles orderBy+limit to TakeOrderedAndProject — each partition "
        "keeps n candidates and the driver merges n·p rows; a range-partition "
        "sort here would shuffle the full table.",
    )

    # 6f2. IVF index build: the returned assignment plan must be ONE corpus
    #      scan + one Arrow stage (init is one TakeOrdered sample scan + tiny
    #      driver work; Lloyd iterations are one scan + tiny agg each — the
    #      old farthest-first init was n_cells−1 sequential corpus scans)
    df = qs["ann_ivf_build"](spark, SF)
    p = plan_of(df)
    # formatted plans print each scan twice (tree line + detail header);
    # count the detail headers only
    n_scans = p.count(") Scan parquet")
    ok = n_scans == 1 and "MapInPandas" in p and "Join" not in p
    if not ok:
        failures.append(
            f"ann_ivf_build: final plan wants 1 scan + MapInPandas, no joins "
            f"(got {n_scans} scans)"
        )
    sections.append(
        "## ann_ivf_build — single-scan assignment, scan-bounded init\n\n"
        "k-means cell assignment: centroids travel by closure, so the final "
        "plan is exactly one corpus scan feeding one Arrow stage — no joins, "
        "no corpus shuffle. Init is one md5-priority TakeOrdered sample scan "
        "(k-means‖-style) + driver-side farthest-first on the 32 candidates; "
        f"each Lloyd iteration is one scan + one tiny aggregate. Check: "
        f"{'OK' if ok else 'FAIL'} ({n_scans} scan(s) in the assignment plan)\n\n"
        "```\n" + "\n".join(l for l in p.splitlines() if l.strip())[:1200] + "\n```\n"
    )

    # 6g. pca_outlier_2d top-k: distributed TakeOrderedAndProject, never a
    #     global single-partition window sort
    audit(
        "pca_outlier_2d",
        qs["pca_outlier_2d"](spark, SF),
        requires=["TakeOrderedAndProject"],
        forbids=["Exchange rangepartitioning"],
        note="Closed-form 2-feature PCA top-k: orderBy+limit compiles to "
        "TakeOrderedAndProject (per-partition top-k + tiny driver merge); the "
        "rank window runs on the k survivors only — a global row_number "
        "window here would sort every scored row on one partition.",
    )

    # 6h. contamination check: benchmark shingle universe is a BROADCAST
    #     semi-join — the corpus side never shuffles for the match
    audit(
        "contamination_check",
        qs["contamination_check"](spark, SF),
        requires=["BroadcastHashJoin"],
        forbids=["SortMergeJoin", "CartesianProduct"],
        note="Decontamination: candidate shingles semi-join the deduplicated "
        "benchmark universe via broadcast (a benchmark is small by contract); "
        "per-doc overlap is one hash-aggregate — the corpus shuffles only for "
        "the per-doc counts.",
    )

    # 6i. weighted sampling: TakeOrderedAndProject, never a full sort
    audit(
        "weighted_sample",
        qs["weighted_sample"](spark, SF),
        requires=["TakeOrderedAndProject"],
        forbids=["Exchange rangepartitioning"],
        note="Efraimidis-Spirakis weighted sample = n largest u^(1/w) keys: "
        "orderBy+limit compiles to per-partition top-n + tiny driver merge.",
    )

    # 6j. spot-the-diff / trend bands: tiny fitted relations broadcast back,
    #     no sort-merge join anywhere
    audit(
        "spot_the_diff",
        qs["spot_the_diff"](spark, SF),
        requires=["BroadcastHashJoin", "HashAggregate"],
        forbids=["SortMergeJoin", "CartesianProduct"],
        note="SpotTheDiff: global moments and the per-fold ridge coefficient "
        "table are 1-2-row relations broadcast onto the stream; the raw data "
        "shuffles only for the final KS ECDF groupBy.",
    )
    audit(
        "spot_the_diff_2d",
        qs["spot_the_diff_2d"](spark, SF),
        requires=["BroadcastHashJoin", "HashAggregate"],
        forbids=["SortMergeJoin", "CartesianProduct"],
        note="Two-feature SpotTheDiff: the same shared leave-fold-out ridge "
        "head as spot_the_diff over 2-d kernel features — 1-2-row moment "
        "and coefficient relations broadcast; only the KS ECDF shuffles the "
        "data.",
    )
    audit(
        "trend_bands",
        qs["trend_bands"](spark, SF),
        requires=["BroadcastHashJoin"],
        forbids=["SortMergeJoin", "CartesianProduct"],
        note="Trend bands: per-key counts and per-(key,segment) OLS "
        "coefficients are tiny aggregates broadcast back; the only data "
        "shuffles are the rank window and the per-(key,phase) percentile "
        "groupBy.",
    )

    # 6k. closed-form deep-family analogs: fitted 1-row relations broadcast,
    #     top-k via TakeOrderedAndProject, never a global sort
    audit(
        "llr_outlier",
        qs["llr_outlier"](spark, SF),
        requires=["TakeOrderedAndProject"],
        forbids=["Exchange rangepartitioning", "CartesianProduct", "SortMergeJoin"],
        note="LLR: range + moment relations are 1-row broadcasts; scoring is "
        "codegen column math; top-k is per-partition + tiny merge.",
    )
    audit(
        "vae_outlier_2d",
        qs["vae_outlier_2d"](spark, SF),
        requires=["TakeOrderedAndProject"],
        forbids=["Exchange rangepartitioning", "CartesianProduct", "SortMergeJoin"],
        note="pPCA/VAE: one moment aggregate broadcast back, analytic "
        "expected-reconstruction-error as column math, distributed top-k.",
    )
    audit(
        "adversarial_ae",
        qs["adversarial_ae"](spark, SF),
        requires=["TakeOrderedAndProject"],
        forbids=["Exchange rangepartitioning", "CartesianProduct", "SortMergeJoin"],
        note="AdversarialAE: NB moments + PCA recon params are 1-row "
        "broadcasts; KL scoring is codegen; top-k distributed.",
    )

    # 6l. declarative online trajectories: NO Python stage anywhere — the
    #     only shuffle is the per-key ordering the semantics require
    audit(
        "lsdd_online_hash",
        qs["lsdd_online_hash"](spark, SF),
        requires=["Window", "BroadcastHashJoin"],
        forbids=["MapInPandas", "ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
        note="Online LSDD: quantized kernel features, sliding-window integer "
        "sums, tiny per-key relations broadcast — whole-stage codegen end to "
        "end, zero Python stages.",
    )
    audit(
        "mahalanobis_online_hash",
        qs["mahalanobis_online_hash"](spark, SF),
        requires=["Window"],
        forbids=["MapInPandas", "ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
        note="Online Mahalanobis: the online state is exclusive cumulative "
        "sums — one per-key window pass, zero Python stages, no joins at all.",
    )

    audit(
        "model_distillation",
        qs["model_distillation"](spark, SF),
        requires=["TakeOrderedAndProject"],
        forbids=["Exchange rangepartitioning", "CartesianProduct", "SortMergeJoin"],
        note="ModelDistillation: teacher probs and the 2-coefficient ridge "
        "student are broadcast 1-row relations; KL scoring is codegen.",
    )
    audit(
        "kpca_outlier_2c",
        qs["kpca_outlier_2c"](spark, SF),
        requires=["TakeOrderedAndProject"],
        forbids=["Exchange rangepartitioning", "CartesianProduct", "SortMergeJoin"],
        note="Nyström kPCA: 2-row landmark + 1-row bandwidth relations "
        "broadcast, kernel features + eigen chain in codegen, top-k "
        "distributed.",
    )
    audit(
        "ocsvm_mean",
        qs["ocsvm_mean"](spark, SF),
        requires=["TakeOrderedAndProject"],
        forbids=["Exchange rangepartitioning", "CartesianProduct", "SortMergeJoin"],
        note="Kernel-mean OCSVM: 8-landmark relation broadcast, codegen "
        "kernel sum, distributed top-k.",
    )
    audit(
        "ssa_outlier_hash",
        qs["ssa_outlier_hash"](spark, SF),
        requires=["Window"],
        forbids=["MapInPandas", "ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
        note="Window-2 SSA: per-key lead/lag windows + broadcast per-key "
        "eigen parameters — zero Python stages; the only shuffle is the "
        "per-key ordering the semantics require.",
    )

    audit(
        "iforest_hash",
        qs["iforest_hash"](spark, SF),
        requires=["TakeOrderedAndProject"],
        # r6: the (leaf → h) maps are literal map lookups collected in one
        # bounded grouping-sets job — the scoring plan has NO joins at all
        # (previously depth−1 broadcast joins per tree)
        forbids=["CartesianProduct", "SortMergeJoin", "MapInPandas", "BroadcastHashJoin"],
        note="Deterministic isolation forest: leaf bit-strings in codegen, "
        "all trees' leaf counts from ONE bounded grouping-sets aggregate, "
        "the (leaf → h) maps re-enter as literal map lookups — the scoring "
        "plan is a single scan with zero joins; the corpus never shuffles.",
    )
    audit(
        "context_mmd_hash",
        qs["context_mmd_hash"](spark, SF),
        requires=["HashAggregate"],
        forbids=["MapInPandas", "ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
        note="ContextMMD closed form: bounded head subsamples, one P×n "
        "explode, one groupBy(perm) moment aggregate, then pure scalar "
        "layers — zero Python stages.",
    )

    # 6k. round-4 decision paths: threshold array is a literal, the per-key
    #     counts relation is tiny and broadcast-joined to the key universe;
    #     lsdd_decisions stays fully declarative (zero Python stages)
    audit(
        "lsdd_decisions",
        qs["lsdd_decisions"](spark, SF),
        requires=["BroadcastHashJoin"],
        forbids=["MapInPandas", "ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
        note="Online-LSDD decision path: window sums of quantized kernel "
        "features (codegen), literal threshold array lookup, per-key counts "
        "(<= #keys rows) broadcast-joined to the distinct-key universe — "
        "zero Python stages end to end.",
    )
    audit(
        "mmd_decisions",
        qs["mmd_decisions"](spark, SF),
        requires=["BroadcastHashJoin"],
        forbids=["CartesianProduct", "SortMergeJoin"],
        note="Online-MMD decision path: the stat stage is the per-key Arrow "
        "pass, everything after (threshold lookup + counts + key-universe "
        "join) is tiny and broadcast.",
    )

    # 6l. gmm_outlier_4d: the d-dim quantized-EM final plan is ONE corpus scan
    #     of scalar column math (params travel by closure after the driver-side
    #     M-steps) — no joins, no Python
    df = qs["gmm_outlier_4d"](spark, SF)
    p = plan_of(df)
    n_scans = p.count(") Scan parquet")
    ok = n_scans == 1 and "Join" not in p and "MapInPandas" not in p
    if not ok:
        failures.append(
            f"gmm_outlier_4d: final plan wants 1 scan, no joins/Python (got {n_scans} scans)"
        )
    sections.append(
        "## gmm_outlier_4d — single-scan closed-form scoring\n\n"
        "Parameterized-d quantized-EM GMM: each EM iteration is one scan + one "
        "tiny moment aggregate at build time; the returned scoring plan is "
        f"exactly one corpus scan of codegen column math. Check: "
        f"{'OK' if ok else 'FAIL'} ({n_scans} scan(s))\n\n"
        "```\n" + "\n".join(l for l in p.splitlines() if l.strip())[:1200] + "\n```\n"
    )

    # 6l2. pca_outlier_4d: same single-scan closed-form shape (one moment
    #      aggregate at build, power iteration driver-side, literal (mu, v)
    #      in the scoring scan)
    df = qs["pca_outlier_4d"](spark, SF)
    p = plan_of(df)
    n_scans = p.count(") Scan parquet")
    ok = n_scans == 1 and "Join" not in p and "MapInPandas" not in p
    if not ok:
        failures.append(
            f"pca_outlier_4d: final plan wants 1 scan, no joins/Python (got {n_scans} scans)"
        )
    sections.append(
        "## pca_outlier_4d — single-scan closed-form scoring\n\n"
        "Parameterized-d PCA: one exact-moment aggregate at build time, the "
        "fixed-iteration power method on the driver, and a scoring plan of "
        f"exactly one codegen corpus scan. Check: {'OK' if ok else 'FAIL'} "
        f"({n_scans} scan(s))\n"
    )

    # 6m. knn_ensemble: the p-values are counted in the distance scan against
    #     the driver-fitted reference scores; the final plan reads the
    #     checkpointed scan and joins only the broadcast moment aggregate
    with checkpointed_plans(spark) as knn_parts:
        df = qs["knn_ensemble"](spark, SF)
    audit(
        "knn_ensemble",
        df,
        requires=["Scan ExistingRDD"],
        forbids=["Window", "SortMergeJoin", "CartesianProduct"],
        checks={
            "the checkpointed scan is a `MapInPandas` with no `Exchange`": len(knn_parts) == 1
            and "MapInPandas" in knn_parts[0]
            and "Exchange" not in knn_parts[0]
        },
        note="KNN ensemble: one Arrow scan computes each row's k-th distances "
        "and its PValNormalizer p-values against the reference scores fitted "
        "on the driver (checkpointed, so the final plan scans it as "
        "ExistingRDD and the check reads the captured sub-plan); the "
        "ShiftAndScale moments are one aggregate broadcast back — no window, "
        "no shuffle join, and the corpus never shuffles.",
    )

    # 6n. round-4 second half: multivariate MMD pair relation must broadcast
    #     the exploded dim side (never a shuffle join on the 64 dim keys —
    #     that would single-task per key), no cartesian anywhere
    audit(
        "mmd_drift",
        qs["mmd_drift"](spark, SF),
        requires=["BroadcastNestedLoopJoin"],
        forbids=["CartesianProduct", "SortMergeJoin"],
        note="Scalar MMD: two bounded head subsamples, the pair relation a "
        "broadcast nested-loop join of at most (2n)^2 rows feeding the same "
        "unbiased-MMD^2 block-sum aggregate as mmd_drift_vec — never a "
        "shuffle join or a cartesian product of the data.",
    )
    audit(
        "mmd_drift_vec",
        qs["mmd_drift_vec"](spark, SF),
        requires=["BroadcastHashJoin"],
        forbids=["CartesianProduct", "SortMergeJoin", "MapInPandas"],
        note="Embedding MMD: quantized (row, dim, value) explode, broadcast "
        "dim-join, exact integer pair distances with map-side partial "
        "aggregation — the pair relation is bounded by (2n)^2 d regardless "
        "of corpus size.",
    )

    # 6o. embedding-width closed forms: the SCORING plan is one corpus scan
    #     of the shared fold / centred-projection expressions (fit artifacts
    #     travel by closure)
    for qname in (
        "gmm_outlier_emb", "ocsvm_emb", "pca_outlier_emb", "pca_outlier_sub", "mahalanobis_emb",
    ):
        df = qs[qname](spark, SF)
        p = plan_of(df)
        n_scans = p.count(") Scan parquet")
        ok = n_scans == 1 and "Join" not in p and "MapInPandas" not in p
        if not ok:
            failures.append(
                f"{qname}: scoring plan wants 1 scan, no joins/Python (got {n_scans} scans)"
            )
        sections.append(
            f"## {qname} — single-scan closed-form scoring (d=64)\n\n"
            "Fit moments are tiny aggregates at build time; the returned "
            "scoring plan is one corpus scan of sequential-fold expressions "
            f"with the parameter literals in the closure. Check: "
            f"{'OK' if ok else 'FAIL'} ({n_scans} scan(s))\n"
        )

    # 7. dedup minhash: signature agg is partial+final (no raw-shingle shuffle
    #    of text), candidate join is an equi-join. The signatures are
    #    checkpointed, so their aggregate shows only in the captured sub-plans
    with checkpointed_plans(spark) as minhash_parts:
        minhash = qs["dedup_minhash_lsh"](spark, SF)
    audit(
        "dedup_minhash_lsh",
        minhash,
        requires=["HashAggregate"],
        forbids=["CartesianProduct"],
        checks={
            "a checkpointed sub-plan holds the signature aggregate's `partial_min`": any(
                "partial_min(" in part for part in minhash_parts
            )
        },
        note="MinHash signatures come from a hash-aggregate over the exploded "
        "shingle relation (partial min map-side; the signatures are "
        "checkpointed, so the final plan scans them as ExistingRDD and the "
        "check reads the captured sub-plan); LSH candidates join on "
        "(band_id, band_key) — equi-join only, never a cross join.",
    )

    # 7b. dedup embedding cosine (the detector_suite dedup query): the
    #     sketch is one Arrow pass and each LSH bucket is verified in one
    #     grouped Arrow pass, so there is no candidate-pair relation to join
    df = qs["dedup_embedding_cosine"](spark, SF)
    p = plan_of(df)
    grouped = re.search(
        r"\) FlatMapGroupsInPandas\nInput \[\d+\]: [^\n]*\nArguments: \[band_id#\d+, band_key#\d+L\]", p
    )
    audit(
        "dedup_embedding_cosine",
        df,
        requires=[],
        forbids=["SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"],
        checks={
            "one `MapInPandas` (the sketch pass)": p.count(") MapInPandas") == 1,
            "one `FlatMapGroupsInPandas`, grouped on `band_id, band_key`": p.count(
                ") FlatMapGroupsInPandas"
            ) == 1
            and grouped is not None,
        },
        note="Random-hyperplane LSH: one Arrow pass computes the 24-bit "
        "sketch per vector and emits it once per band with the vector, one "
        "hash exchange on (band_id, band_key) gathers each LSH bucket, and "
        "one grouped Arrow pass scores the exact cosine of each pair in the "
        "lowest band it shares; Spark rounds and filters. A candidate pair "
        "never exists as a relation, so the plan has no join of any kind.",
    )

    # round-5 operators: categorical Mahalanobis must stay zero-Python
    # (driver MDS chain + codegen scoring, contingency via one distributed
    # groupBy); the flagship per-dim KS must never cartesian and keeps the
    # ECDF shuffle keyed by (dim, value)
    audit(
        "mahalanobis_cat",
        qs["mahalanobis_cat"](spark, SF),
        requires=["HashAggregate", "BroadcastNestedLoopJoin"],
        forbids=["MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "CartesianProduct", "SortMergeJoin"],
        note="cat_vars Mahalanobis: quartile borders + contingency are "
        "aggregates, the ABDM/MDS chain is driver scalar math on the k-row "
        "relation, scoring is one exact-moment aggregate broadcast back "
        "(1-row stats relation -> BroadcastNestedLoopJoin) into a codegen "
        "scan — zero Python stages, no shuffle joins.",
    )
    audit(
        "ks_drift_emb",
        qs["ks_drift_emb"](spark, SF),
        requires=["HashAggregate"],
        forbids=["MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "CartesianProduct"],
        note="Feature-wise KS across 64 embedding dims + BH/Bonferroni: one "
        "posexplode, one ECDF aggregate keyed by (dim, value) — the only "
        "data-proportional shuffle — then window math on the 64-row "
        "p-value relation. Zero Python stages.",
    )

    # 8. LSH band-key skew defense: the hot-boilerplate-bucket mitigation
    #    of the band join (dedup._band_pairs) is AQE skew-join splitting —
    #    assert the engine session actually arms it (at sf0.01 the band join compiles to
    #    a broadcast, the correct small-side shape; at 100 TB it becomes a
    #    sort-merge join that AQE splits on skewed band keys, which only
    #    happens if these flags are on in the load-bearing session config)
    skew_checks = []
    for conf_key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
    ):
        val = spark.conf.get(conf_key, "false")
        ok = str(val).lower() == "true"
        skew_checks.append(f"  - REQUIRE session `{conf_key}=true`: {'OK' if ok else 'MISSING'}")
        if not ok:
            failures.append(f"minhash skew defense: {conf_key} != true")
    p = plan_of(minhash)
    bcast_ok = "BroadcastHashJoin" in p and "CartesianProduct" not in p
    skew_checks.append(
        "  - REQUIRE band-candidate join is broadcast at this SF (small side "
        f"fits) and never cartesian: {'OK' if bcast_ok else 'FAIL'}"
    )
    if not bcast_ok:
        failures.append("minhash skew defense: unexpected join shape at sf0.01")
    sections.append(
        "## LSH band-key skew defense (dedup_minhash_lsh)\n\n"
        "Hot boilerplate text concentrates candidate pairs on a few band "
        "keys of the band join (dedup._band_pairs). The named mitigation is "
        "AQE skew-join splitting on the band-key shuffle: these checks pin the session "
        "flags that arm it, plus the small-SF join shape.\n\nChecks:\n"
        + "\n".join(skew_checks) + "\n"
    )

    out = (
        "# PLANS — physical-plan audit (generated by tools/audit_plans.py)\n\n"
        "Run: `python tools/audit_plans.py` (re-generates this file; exits "
        "non-zero on any MISSING/PRESENT check).\n\n" + "\n".join(sections)
    )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(out)
    if failures:
        print("PLAN AUDIT FAILURES:")
        for x in failures:
            print(" -", x)
        sys.exit(1)
    print("plan audit OK — PLANS.md written")


if __name__ == "__main__":
    main()
