"""``detector_suite``: the read path.

Each set-up (see ``run.py``) writes the ``events`` / ``documents`` /
``embeddings`` tables (``data.py``) and opens the engine's parquet readers on
the new session.

The timed region runs the suite's ``queries()`` entries closed loop with one
client: each query is built (``queries()[name](spark, dir)``, which includes
the driver-side collects some operators do) and then fully materialized with
``toPandas()``. A pass is every query once, in an order the seed permutes;
passes repeat while the next one is predicted to end within ``--seconds``.
Before them, one untimed pass in a fixed order (``session.warmup_s``) spawns
the Python workers, imports the engine in them and compiles every query's
plans, so no timed query is the JVM's first run of its plan.

Correctness, outside the timed region: each output's (the warm-up's too)
order-insensitive digest (``tools/check_entry.py``'s ``canon``) equals the
digest stored in ``reference.json``, which ``make_reference.py`` recorded only
after the same output matched DuckDB's ``oracle_sql()`` twin (or, for the
rows-only entries, was recorded from the engine alone).

The engine memoizes parquet readers per (session, path) in
``__spark_entry__._READERS``. Every set-up opens each table once on its
session, so the memo is warm when timing starts and its listing cost is
counted in ``setup_s`` (as ``entry.readers_s``).
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import statistics
import time

import numpy as np

import data
from spans import per_span_mean, spark_layers

# one entry per operator family; membership follows the disposition table of
# OPTIMIZATION_r06.md
FAMILIES = {
    "rollup": ["gapfill_1h_events"],
    "drift.ecdf": ["ks_drift"],
    "drift.kernel": ["mmd_drift"],
    "classifier": ["uncertainty_drift"],
    "outlier": ["gmm_outlier_2c"],
    "detect.online": ["mmd_online"],
    "dedup": ["dedup_embedding_cosine"],
    "ann": ["ann_cosine_topk"],
    "textstats": ["doc_repetition"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}
REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference.json")


def load_canon(root: str):
    """``canon`` from ``tools/check_entry.py``: the repository's own
    order-insensitive (rows, columns, sha256) digest of a query output."""
    spec = importlib.util.spec_from_file_location(
        "check_entry", os.path.join(root, "tools", "check_entry.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def setup(ctx, parts: dict[str, float]) -> None:
    import __spark_entry__ as E

    data_dir = ctx.path("data")
    with ctx.span("synth.stage"):
        t0 = time.perf_counter()
        data.write_tables(data_dir)
        parts["synth.stage_s"] = time.perf_counter() - t0
    with ctx.span("entry.readers"):
        t0 = time.perf_counter()
        for table in data.TABLES:
            E._t(ctx.spark, data_dir, table)
        parts["entry.readers_s"] = time.perf_counter() - t0


def one_pass(ctx, qs, order: list[str], data_dir: str, span: str, outputs: list):
    """Build and materialize each query of ``order`` in turn; append each
    output to ``outputs``. Returns (wall s, {query: s} of the queries that ran)."""
    lat = {}
    with ctx.span(span):
        t_pass = time.perf_counter()
        for name in order:
            with ctx.span("query", query=name, family=FAMILY_OF[name]):
                t0 = time.perf_counter()
                pdf = ctx.attempt(name, lambda: run_query(ctx, qs[name], data_dir))
                if pdf is not None:
                    lat[name] = time.perf_counter() - t0
                    outputs.append((name, pdf))
        return time.perf_counter() - t_pass, lat


def run(ctx) -> None:
    import __spark_entry__ as E

    data_dir = ctx.path("data")
    qs = E.queries()
    rng = np.random.default_rng(ctx.seed)
    outputs = []  # (name, pandas output) — digested after the timed region
    # one untimed pass first: it spawns the Python workers, imports the
    # engine in them and compiles every query's plans; its outputs are checked
    ctx.layers["session.warmup_s"], _ = one_pass(
        ctx, qs, QUERIES, data_dir, "session.warmup", outputs)

    ctx.quiesce()

    lat: dict[str, list[float]] = {q: [] for q in QUERIES}
    walls = []
    begin = time.perf_counter()
    while not walls or (time.perf_counter() - begin) * (len(walls) + 1) / len(walls) <= ctx.seconds:
        order = [QUERIES[i] for i in rng.permutation(len(QUERIES))]
        wall, times = one_pass(ctx, qs, order, data_dir, "suite.pass", outputs)
        walls.append(wall)
        for name, t in times.items():
            lat[name].append(t)

    canon = load_canon(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(REFERENCE) as fh:
        ref = json.load(fh)["queries"]
    for name, pdf in outputs:
        rows, cols, digest = canon(pdf)
        want = ref[name]
        ctx.check((rows, cols, digest) == (want["rows"], want["cols"], want["digest"]),
                  f"{name}: got {rows} rows {digest}, reference {want['rows']} rows {want['digest']}")

    per_query = [statistics.median(v) for v in lat.values() if v]
    if per_query:
        ctx.e2e["pass_s"] = statistics.median(walls)
        ctx.summary.update(
            query_p50_s=(np.percentile(per_query, 50), "s"),
            query_p90_s=(np.percentile(per_query, 90), "s"),
            query_samples=(len(per_query), "count"),
            suite_s=(ctx.e2e["pass_s"], "s"),
        )


def run_query(ctx, fn, data_dir: str):
    """Build, (traced runs only) plan, and execute one query."""
    with ctx.span("build"):
        df = fn(ctx.spark, data_dir)
    if ctx.traced:
        with ctx.span("plan"), contextlib.redirect_stdout(io.StringIO()):
            df.explain("formatted")
    with ctx.span("exec"):
        return df.toPandas()


def traced_layers(ctx, by_span: dict) -> None:
    tracer = ctx.tracer
    layers: dict[str, float] = {}
    timed = {s["id"] for s in tracer.spans if s["name"] == "suite.pass"}
    for s in tracer.spans:
        if s["name"] != "query" or s["parent"] not in timed:
            continue
        fam = s["family"]
        kids = {c["name"]: c for c in tracer.spans if c["parent"] == s["id"]}
        totals = by_span.get(s["id"], {})
        for key, value in (
            (f"{fam}.build_s", tracer.seconds(kids["build"]) if "build" in kids else 0.0),
            (f"{fam}.exec_s", tracer.seconds(kids["exec"]) if "exec" in kids else 0.0),
            (f"{fam}.jobs", totals.get("jobs", 0.0)),
            (f"{fam}.python_s", totals.get("python_s", 0.0)),
            (f"{fam}.shuffle_bytes", totals.get("shuffle_bytes", 0.0)),
            ("entry.build_s", tracer.seconds(kids["build"]) if "build" in kids else 0.0),
            ("entry.plan_s", tracer.seconds(kids["plan"]) if "plan" in kids else 0.0),
            ("entry.exec_s", tracer.seconds(kids["exec"]) if "exec" in kids else 0.0),
            ("entry.jobs", totals.get("jobs", 0.0)),
        ):
            layers[key] = layers.get(key, 0.0) + value / len(timed)
    ctx.layers.update(layers)
    ctx.layers.update(spark_layers(per_span_mean(tracer, by_span, "suite.pass")))
