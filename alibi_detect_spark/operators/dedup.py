"""Deduplication operators for training-data pipelines.

Not part of the reference (alibi-detect has no dedup); these are the standard
web-scale dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard)
expressed as declarative DataFrame plans so Catalyst owns the physical
strategy.

Plan shape (the 100 TB posture): the text operators are
``explode → map-side hash → hash-aggregate / equi-join`` — no giant nested
array expressions, no cross joins, nothing driver-side. Candidate generation
is always bounded by an LSH bucket or an inverted index; verification joins
touch candidate pairs only. The embedding path verifies inside the bucket
itself: one Arrow pass bands the vectors, one exchange gathers each LSH
bucket and one grouped Arrow pass scores its pairs, with no pair relation
and no join.

Shared blocks: the MinHash and SimHash paths generate candidates through one
banded self-equi-join, :func:`_band_pairs` (SimHash's bands come from
:func:`_bit_bands`); the exact and MinHash shingle paths verify through one
Jaccard tail, :func:`_jaccard_pairs`.

Portability contract: per-shingle/word hashing is md5-based (identical in
Spark and DuckDB: ``conv(md5[:k],16,10)``), and the k MinHash permutations
are affine integer mixes ``(a_j·h + b_j) mod P`` with a_j < 2²⁰, h < 2³²,
P prime > 2³² — products stay < 2⁵², safe under ANSI overflow checking in
both engines, so every operator has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .partitioning import spread

MINHASH_K = 8  # signature length
LSH_BANDS = 4  # bands of MINHASH_K / LSH_BANDS rows each
SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 4 bands × 8 bits: hamming ≤ 3 ⇒ ≥1 identical band
MINHASH_P = 4_294_967_311  # smallest prime > 2^32
# affine permutation constants (a_j, b_j), a_j odd, < 2^20
MINHASH_AB = [
    (745_291, 911), (993_319, 8_191), (614_657, 127), (826_663, 524_287),
    (336_671, 2_047), (481_231, 31), (705_187, 65_535), (199_933, 4_095),
]


def words_col(text: str = "text"):
    return F.split(F.col(text), " ")


def shingles_col(text: str = "text", n: int = 3):
    """Distinct word n-gram shingles as an array column. Documents shorter
    than ``n`` words yield an EMPTY array (matching the SQL oracle's
    ``generate_series(1, len-n+1)`` which is empty when len < n) — the
    ``F.when`` guard is load-bearing: ``sequence(0, size-n)`` with
    ``size-n < 0`` would produce a descending sequence whose 0 index makes
    ``element_at`` throw INVALID_INDEX_OF_ZERO."""
    w = words_col(text)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(n)]),
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(F.size(w) >= n, grams).otherwise(empty))


def _h32(col):
    """32-bit md5-derived hash — small enough for ANSI-safe affine mixing."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exploded_shingles(docs: DataFrame, text: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, h60, h32) per distinct shingle — the shared inverted-index
    relation behind jaccard and minhash. One md5 per distinct shingle,
    computed map-side; everything downstream is integer.

    Implemented as an Arrow-batched ``mapInPandas`` pass rather than the
    equivalent ``transform(sequence, …)`` column expression: Spark evaluates
    higher-order-function lambdas in the interpreter (no whole-stage
    codegen), which measured ~7× slower than the batched Python shingler on
    the same input. Output is bit-identical (hashlib md5 == Spark/DuckDB
    md5); the declarative twin :func:`shingles_col` remains the
    column-expression spec (and the SQL oracle's definition)."""

    def fn(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids_out, h60s, h32s = [], [], []
            for doc_id, txt in zip(pdf["doc_id"].to_numpy(), pdf[text]):
                if txt is None:  # NULL text → no shingles (matches the SQL twin)
                    continue
                ws = txt.split(" ")
                if len(ws) < n:
                    continue
                for sgl in dict.fromkeys(" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)):
                    h = hashlib.md5(sgl.encode()).hexdigest()
                    ids_out.append(doc_id)
                    h60s.append(int(h[:15], 16))
                    h32s.append(int(h[:8], 16))
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids_out, dtype=np.int64),
                    "h60": np.asarray(h60s, dtype=np.int64),
                    "h32": np.asarray(h32s, dtype=np.int64),
                }
            )

    # spread the doc batches BEFORE the python stage: a single-file scan is
    # one partition, which would run the whole md5 shingling on one worker
    return spread(docs.select("doc_id", text), "doc_id").mapInPandas(
        fn, schema="doc_id long, h60 long, h32 long"
    )


def exact_dup_groups(
    docs: DataFrame, text: str = "text", prefix_words: int | None = None
) -> DataFrame:
    """Exact dedup: content-hash groupBy. One shuffle on the hash; at 100 TB
    the md5 is computed map-side and only (hash, id) pairs shuffle — the text
    column itself never moves. keep = min(doc_id) is the canonical survivor.
    ``prefix_words`` hashes only the first k words (prefix-normalized dedup,
    the usual trick for boilerplate-leading crawl pages)."""
    if prefix_words is None:
        key = F.md5(F.col(text))
    else:
        key = F.md5(F.concat_ws(" ", F.slice(words_col(text), 1, prefix_words)))
    return (
        docs.select(key.alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_dups") > 1)
    )


def _jaccard_pairs(common: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """The verify tail of both shingle-Jaccard paths: ``common`` holds
    ``(doc_a, doc_b, common)`` shared-shingle counts and ``sizes`` holds
    ``(doc_id, n_sh)``; a pair is kept when ``round(common / (n_a + n_b −
    common), 6) ≥ threshold`` (the 6dp rounding is the oracle's)."""
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _band_pairs(
    df: DataFrame, id_col: str, a: str, b: str, bands: list, carry: tuple[str, ...] = ()
) -> DataFrame:
    """LSH candidate pairs, shared by the MinHash and SimHash paths: one
    ``(band_id, band_key)`` struct per column of ``bands``, exploded to one
    row per (id, band), then a self-equi-join on
    ``(band_id, band_key)`` keeping ``a < b`` — shuffle on the band key
    only, never a cross join. Each ``carry`` column of ``df`` comes through
    as ``<name>_a`` / ``<name>_b``. A pair that shares several bands appears
    once per shared band; the caller dedups it."""
    arr = F.array(
        *[F.struct(F.lit(i).alias("band_id"), key.alias("band_key")) for i, key in enumerate(bands)]
    )
    banded = df.select(id_col, *carry, F.explode(arr).alias("bk")).select(
        id_col, *carry, F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key")
    )

    def side(suffix: str, name: str) -> DataFrame:
        return banded.select(
            F.col(id_col).alias(name),
            *[F.col(c).alias(f"{c}_{suffix}") for c in carry],
            "band_id",
            "band_key",
        )

    return side("a", a).join(side("b", b), ["band_id", "band_key"]).where(F.col(a) < F.col(b))


def _bit_bands(col: str, bits: int, bands: int) -> list:
    """``bands`` equal-width bit slices of the ``bits``-bit integer sketch
    ``col``, lowest bits first — the band columns of :func:`_band_pairs`."""
    width = bits // bands
    return [
        F.shiftright(F.col(col), i * width).bitwiseAND(F.lit((1 << width) - 1)) for i in range(bands)
    ]


def ngram_jaccard_pairs(
    docs: DataFrame, text: str = "text", n: int = 3, threshold: float = 0.05,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle index:
    explode distinct shingles → self-join on the 60-bit shingle key →
    |A∩B| by count → J = common / (|A| + |B| − common).

    ``max_df`` is an OPT-IN hot-shingle guard (default None = exact over the
    full shingle universe): shingles appearing in more than ``max_df``
    documents (boilerplate) are dropped from the shingle universe BEFORE the
    self-join — a shingle shared by 10⁶ docs would otherwise emit 10¹²
    candidate rows. The hot set is tiny by construction (df > cap), so it
    ships as a broadcast anti-join: no extra shuffle. CAVEAT (the reason this
    is opt-in): a duplicate cluster larger than ``max_df`` docs loses ALL the
    shingles it shares cluster-wide, so its pairs can silently vanish — the
    heaviest duplicates are exactly what a dedup pass must find. Callers that
    enable the cap should size it ≫ the largest expected duplicate-cluster
    (and treat docs whose shingle set the cap empties — exposed as n_sh
    dropping to 0 in the size relation — as "needs the MinHash path").
    Jaccard is then exact over the capped universe (sizes counted after the
    cap, both here and in the SQL oracle).

    This remains the exact (quadratic-in-collisions) baseline; the scale path
    is :func:`minhash_lsh_pairs`, which bounds candidate generation by LSH
    bucket instead of raw shingle collision.
    """
    # materialize the integer inverted index ONCE: without this, every branch
    # of the self-join + size joins re-explodes and re-hashes the text column
    # (16 scans in the unaided plan). localCheckpoint(eager) rather than
    # persist(): the blocks are owned by the returned plan and the
    # ContextCleaner frees them when the result is dropped — no cache leak in
    # a long-lived session (a bare persist() is never unpersisted here).
    # The production analog at warehouse scale is writing the (doc_id, h60)
    # index table and joining against it.
    sh = spread(
        exploded_shingles(docs, text, n).select("doc_id", "h60"), "h60"
    ).localCheckpoint()
    if max_df is not None:
        hot = (
            sh.groupBy("h60")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("h60")
        )
        sh = sh.join(F.broadcast(hot), "h60", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")).localCheckpoint()
    a = sh.select(F.col("doc_id").alias("doc_a"), "h60")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h60")
    common = (
        a.join(b, "h60")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_pairs(common, sizes, threshold)


def minhash_signatures(
    docs: DataFrame | None, text: str = "text", n: int = 3, k: int = MINHASH_K,
    index: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature as k integer columns ``sig0..sig{k-1}``:
    sig_j = min over shingles of ``(a_j·h32 + b_j) mod P``. One hash-aggregate
    over the exploded shingle relation — partial min map-side, so the shuffle
    carries one row per (doc, partition). ``index`` lets callers pass a
    pre-materialized :func:`exploded_shingles` relation (the single source of
    the signature spec — minhash_lsh_pairs reuses it)."""
    sh = index if index is not None else exploded_shingles(docs, text, n)
    aggs = [F.count(F.lit(1)).alias("n_sh")] + [
        F.min((F.col("h32") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"sig{j}")
        for j, (a, b) in enumerate(MINHASH_AB[:k])
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    text: str = "text",
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    threshold: float = 0.05,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs — the 100 TB dedup path.

    signatures → ``bands`` (band_id, band keys) rows per doc → shuffle ONLY on
    the band key → candidate id-pairs → verify candidates with exact Jaccard
    via the inverted shingle index (a broadcast-able join of candidates
    against the exploded relation). Candidate volume is governed by the
    banding S-curve; hot boilerplate buckets are the skew risk and get AQE
    skew-join handling at scale.
    """
    rows = k // bands
    # one materialized pass over the text for the index; signatures, banding,
    # and candidate verification all reuse it (cf. ngram_jaccard_pairs note)
    # localCheckpoint(eager) not persist(): blocks are freed by the
    # ContextCleaner when the result is dropped (no unpersist obligation)
    shidx = spread(exploded_shingles(docs, text, n), "doc_id").localCheckpoint()
    sigs = minhash_signatures(None, text, n, k, index=shidx).localCheckpoint()
    band_keys = [
        F.concat_ws(",", *[F.col(f"sig{b * rows + r}") for r in range(rows)]) for b in range(bands)
    ]
    cand = _band_pairs(sigs, "doc_id", "doc_a", "doc_b", band_keys).select("doc_a", "doc_b").distinct()
    # verify: count common shingles of candidate pairs via the inverted index;
    # sizes come straight from the signatures (n_sh already aggregated there)
    sh = shidx.select("doc_id", "h60")
    sizes = sigs.select("doc_id", "n_sh")
    common = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "h60"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("h60").alias("h60_b")), "doc_b")
        .where(F.col("h60") == F.col("h60_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_pairs(common, sizes, threshold)


def contamination_check(
    docs: DataFrame,
    bench_pred,
    text: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination scan: for every candidate (non-benchmark)
    document, the fraction of its distinct word n-gram shingles that appear
    ANYWHERE in the benchmark set — the standard train/test decontamination
    recipe (GPT-3 App. C / PaLM use 8-13-grams; ``n`` is a knob, 3 here for
    the short test corpus).

    Plan shape (100 TB posture): one exploded-shingle pass over the corpus;
    the benchmark shingle UNIVERSE is deduplicated and — a benchmark being
    small by contract — broadcast into a LEFT SEMI join, so the corpus side
    never shuffles for the match; per-doc overlap is one hash-aggregate.
    Docs shorter than ``n`` words have no shingles and are not scored
    (matching the SQL twin). Emits ``(doc_id, n_shingles, n_matched,
    overlap, is_contaminated)``."""
    sh = exploded_shingles(docs, text, n).select("doc_id", "h60")
    bench_ids = docs.where(bench_pred).select("doc_id")
    bench_sh = (
        sh.join(F.broadcast(bench_ids), "doc_id", "left_semi").select("h60").distinct()
    )
    cand = sh.join(F.broadcast(bench_ids), "doc_id", "left_anti")
    sizes = cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    matched = (
        cand.join(F.broadcast(bench_sh), "h60", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    overlap = F.coalesce(F.col("n_matched"), F.lit(0)) / F.col("n_shingles")
    return (
        sizes.join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_matched"), F.lit(0).cast("long")).alias("n_matched"),
            F.round(overlap, 6).alias("overlap"),
            (overlap >= threshold).cast("int").alias("is_contaminated"),
        )
    )


def dedup_clusters(
    pairs: DataFrame, n_iter: int = 3, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Near-dup CLUSTERS from a pair relation (the step after
    :func:`minhash_lsh_pairs`): connected components by min-label
    propagation, emitting ``(doc_id, cluster_id, is_survivor)`` where
    ``cluster_id`` is the smallest doc id in the component and the survivor
    is the canonical doc a dedup pass keeps.

    ``n_iter`` rounds of "take the min label among yourself and your
    neighbours" spread the min id ONE hop per round, so the result is exact
    for components whose min-id node has eccentricity ≤ n_iter (a chain needs
    as many rounds as its diameter; a node more than n_iter hops from the
    min-id node keeps a stale label and shows up as a spurious survivor).
    Near-dup clusters are dense (quasi-cliques from LSH banding, eccentricity
    1-2), so the default 3 converges for any realistic near-dup cluster; the
    fixed count is part of the spec, making the result deterministic and
    hash-checkable against the unrolled SQL twin. Each round is one
    equi-join + one min-aggregate over the (tiny) pair relation — the
    standard distributed-CC shape; at web scale (or for long-chain graphs)
    swap in large-star/small-star rounds — or iterate to fixpoint — with the
    same join skeleton."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint()  # freed on GC of the result; also truncates the
        # per-round join lineage so label plans stay flat at real iteration depth
    )
    labels = edges.select(F.col("src").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    for i in range(n_iter):
        nbr = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr, labels["doc_id"] == nbr["src"], "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
            )
        )
        # at real iteration depth the per-round join lineage compounds; cut it
        # periodically so deep runs don't re-plan an O(n_iter)-deep DAG
        if (i + 1) % 5 == 0 and i + 1 < n_iter:
            labels = labels.localCheckpoint()
    return labels.select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_survivor")
    )


HP_BITS = 24
HP_BANDS = 6  # 6 bands × 4 bits


def _hyperplanes(dim: int, bits: int = HP_BITS) -> "np.ndarray":
    """Deterministic random hyperplanes shared with the SQL oracle: component
    (j, d) = md5-derived 32-bit int mapped to [-1, 1]. hashlib and DuckDB md5
    agree byte-for-byte, so both engines build the same planes."""
    import hashlib

    import numpy as np

    g = np.empty((bits, dim))
    for j in range(bits):
        for d in range(dim):
            h = int(hashlib.md5(f"hp{j}:{d + 1}".encode()).hexdigest()[:8], 16)
            g[j, d] = (h % 2_000_001 - 1_000_000) / 1_000_000.0
    return g


def _pair_blocks(n: int, block: int):
    """Index arrays ``(ia, ib)`` of every pair ``ia < ib`` of ``range(n)``,
    row-major, in blocks of fewer than ``2 * block`` pairs: a large bucket
    never holds all of its pairs at once."""
    import numpy as np

    ia, ib, size = [], [], 0
    for i in range(n - 1):
        for j0 in range(i + 1, n, block):
            j = np.arange(j0, min(n, j0 + block))
            ia.append(np.full(j.size, i))
            ib.append(j)
            size += j.size
            if size >= block:
                yield np.concatenate(ia), np.concatenate(ib)
                ia, ib, size = [], [], 0
    if size:
        yield np.concatenate(ia), np.concatenate(ib)


def embedding_near_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs — the random-hyperplane LSH path
    (SimHash for vectors): 24 sign bits → 6 bands of 4 bits → candidates
    share ≥1 band → verify exact cosine ≥ threshold.

    A candidate pair is by definition two vectors in one ``(band_id,
    band_key)`` bucket, so the candidates are verified inside their bucket
    and no pair relation is ever built: one Arrow pass emits each vector
    once per band with its sketch and components, one hash exchange groups
    the buckets, and one grouped Arrow pass scores each bucket's pairs. A
    pair sharing several bands is scored only in the lowest of them (its
    lower band keys differ), so it comes out once without a ``distinct``.

    The cosine is the oracle's fold, ``dot / (|a|·|b|)`` with every sum
    left-associated from ``0.0`` (``((0 + a₁b₁) + a₂b₂) + …``, DuckDB's
    ``list_reduce``): IEEE doubles with no fused multiply-add, so NumPy gives
    the same bits. The 6dp round stays a Spark ``round`` (HALF_UP on the
    decimal form; NumPy rounds half to even); the grouped pass drops only
    pairs below ``threshold − 1e-6``, which the round cannot lift to the
    threshold, and keeps NaN cosines, which Spark orders above every double.
    A NULL component makes every cosine of its vector NULL, which the filter
    drops, so such a vector emits no band rows.

    At 10^12 vectors the corpus shuffles each vector once per band and
    verification touches the LSH buckets only; recall follows the banding
    S-curve (approximate by design — the candidate set is part of the spec
    and is deterministic, so the oracle matches it exactly)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    g = _hyperplanes(dim)
    width = HP_BITS // HP_BANDS
    mask = (1 << width) - 1
    block = 1 << 14  # pairs per NumPy column step
    cutoff = threshold - 1e-6

    def sketch(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf[emb_col].to_numpy()
            lens = np.fromiter((0 if v is None else len(v) for v in vecs), np.int64, len(vecs))
            bad = np.flatnonzero(lens != dim)
            if bad.size:
                i = bad[0]
                raise ValueError(
                    f"embedding_near_pairs: every {emb_col} vector must have dim={dim} "
                    f"components, but {id_col} {pdf[id_col].iloc[i]} has {lens[i]}"
                )
            keep = ~pdf["has_null"].to_numpy(bool)
            x = np.stack(vecs[keep]).astype(np.float64) if keep.any() else np.empty((0, dim))
            bits = (x @ g.T) >= 0.0  # [n, bits]
            sk = (bits.astype(np.int64) << np.arange(HP_BITS, dtype=np.int64)[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "band_id": np.repeat(np.arange(HP_BANDS, dtype=np.int32), len(sk)),
                    "band_key": np.concatenate([(sk >> (width * b)) & mask for b in range(HP_BANDS)]),
                    "vec_id": np.tile(pdf[id_col].to_numpy()[keep], HP_BANDS),
                    "sketch": np.tile(sk, HP_BANDS),
                    "v": list(x) * HP_BANDS,
                }
            )

    def fold(cols, ia, ib):
        acc = 0.0
        for c in cols:
            acc = acc + c[ia] * c[ib]
        return acc

    def verify(pdf):
        pdf = pdf.sort_values("vec_id")
        ids, sk = pdf["vec_id"].to_numpy(), pdf["sketch"].to_numpy()
        lower = width * int(pdf["band_id"].iloc[0])
        cols = np.ascontiguousarray(np.stack(pdf["v"].to_numpy()).T)  # [dim, n]
        every = np.arange(len(ids))
        nrm = np.sqrt(fold(cols, every, every))
        out = []
        for ia, ib in _pair_blocks(len(ids), block):
            diff = sk[ia] ^ sk[ib]
            first = np.ones(len(ia), bool)
            for sh in range(0, lower, width):
                first &= ((diff >> sh) & mask) != 0
            ia, ib = ia[first], ib[first]
            den = nrm[ia] * nrm[ib]
            zero = np.flatnonzero(den == 0.0)
            if zero.size:
                a, b = ia[zero[0]], ib[zero[0]]
                z, o = (a, b) if nrm[a] <= nrm[b] else (b, a)
                raise ValueError(
                    f"embedding_near_pairs: the cosine is undefined for a zero-norm vector, "
                    f"but {id_col} {ids[z]} (in a pair with {id_col} {ids[o]}) has norm {nrm[z]}"
                )
            c = fold(cols, ia, ib) / den
            hit = ~(c < cutoff)  # NaN is kept, as Spark orders it above every double
            # Arrow-backed, as a float64 column would reach Spark with NaN as NULL
            cos = pd.arrays.ArrowExtensionArray(pa.array(c[hit]))
            out.append(pd.DataFrame({"vec_a": ids[ia[hit]], "vec_b": ids[ib[hit]], "cosine": cos}))
        if not out:
            return pd.DataFrame({"vec_a": ids[:0], "vec_b": ids[:0], "cosine": np.empty(0)})
        return pd.concat(out)

    has_null = F.size(F.array_compact(emb_col)) < F.size(emb_col)
    return (
        spread(emb.select(id_col, emb_col, has_null.alias("has_null")), id_col)
        .mapInPandas(
            sketch, schema="band_id int, band_key long, vec_id long, sketch long, v array<double>"
        )
        .groupBy("band_id", "band_key")
        .applyInPandas(verify, schema="vec_a long, vec_b long, cosine double")
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def simhash32(docs: DataFrame, text: str = "text") -> DataFrame:
    """32-bit SimHash over word occurrences: explode words → one 32-bit
    md5-derived hash per word → hash-aggregate with 32 conditional ±1 sums
    (whole-stage codegen, partial agg map-side) → fingerprint from the vote
    signs. bit b is set iff Σ_words(±1 on bit b) > 0."""
    # spread doc rows before the explode: a 1-partition scan would otherwise
    # md5-hash every word occurrence in a single task
    w = spread(docs.select("doc_id", text), "doc_id").select(
        "doc_id", F.explode(words_col(text)).alias("word")
    )
    w = w.select("doc_id", _h32(F.col("word")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = w.groupBy("doc_id").agg(*votes)
    sim = sum(
        [
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
            for b in range(SIMHASH_BITS)
        ],
        F.lit(0).cast("long"),
    )
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, text: str = "text", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs, scalably: split the 32-bit fingerprint into 4
    bands of 8 bits; hamming ≤ 3 guarantees ≥1 identical band (pigeonhole),
    so the join key is (band_id, band_value) — never a cross join. Verify
    with ``bit_count(xor)``."""
    # one materialized pass for the 32-bit fingerprints; both band sides
    # reuse it instead of re-exploding the word stream (localCheckpoint:
    # blocks freed on GC of the result, no unpersist debt)
    s = spread(simhash32(docs, text), "doc_id").localCheckpoint()
    xor = F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    return (
        _band_pairs(
            s, "doc_id", "doc_a", "doc_b", _bit_bands("simhash", SIMHASH_BITS, SIMHASH_BANDS),
            carry=("simhash",),
        )
        .select("doc_a", "doc_b", F.bit_count(xor).alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= max_hamming)
    )
