"""Text-analysis operators for training-data pipelines: language-ID heuristic,
quality scoring, tokenizer-style counting, and document fingerprinting.

All pure column expressions (whole-stage codegen, zero shuffles until the
final aggregate) — at 100 TB these are scan-bound map passes whose cost is
the parquet read itself. Each has an exact DuckDB SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .partitioning import spread

# tiny function-word inventory: presence/ratio of these is the classic
# n-gram-free language-ID heuristic for English
EN_STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "on", "for", "with")

# word-ish / number / single punctuation — a BPE-ish pre-tokenizer split
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"

FP_MULT = 1_000_003
FP_MOD = 2_147_483_647  # 2^31 − 1; acc*mult + term < 2^52 — ANSI-safe


def _words(text: str = "text"):
    return F.split(F.col(text), " ")


def lang_id(docs: DataFrame, text: str = "text", threshold: float = 0.05) -> DataFrame:
    """Stopword-ratio language ID: fraction of words in the EN function-word
    set; ``lang_pred = 'en'`` above the threshold."""
    w = _words(text)
    stop_cnt = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS)))
    ratio = F.round(stop_cnt / F.size(w), 6)
    return docs.select(
        "doc_id",
        ratio.alias("stop_ratio"),
        F.when(ratio > threshold, F.lit("en")).otherwise(F.lit("other")).alias("lang_pred"),
    )


def quality_score(docs: DataFrame, text: str = "text") -> DataFrame:
    """Heuristic document quality: word count, mean word length, stopword
    ratio, repetition (1 − distinct/total words), punctuation density.
    ``quality = stop_ratio·2 + uniq_ratio − punct_ratio`` (weights are
    config, the point is the measurable features)."""
    w = _words(text)
    n_words = F.size(w)
    n_chars = F.length(F.col(text))
    stop_ratio = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS))) / n_words
    uniq_ratio = F.size(F.array_distinct(w)) / n_words
    punct = F.length(F.regexp_replace(F.col(text), "[a-z0-9 ]", ""))
    punct_ratio = punct / n_chars
    mean_wlen = (n_chars - (n_words - 1)) / n_words  # chars excl. separators
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio * 2 + uniq_ratio - punct_ratio, 6).alias("quality"),
    )


def token_counts(docs: DataFrame, text: str = "text") -> DataFrame:
    """Tokenizer-style counting per source: whitespace tokens and BPE-ish
    regex tokens, aggregated per source (exact integers)."""
    n_ws = F.size(_words(text))
    n_re = F.size(F.regexp_extract_all(F.col(text), F.lit(TOKEN_REGEX), 0))
    per_doc = docs.select("source", n_ws.alias("ws"), n_re.alias("re"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("re").alias("regex_tokens"),
    )


def fingerprint(docs: DataFrame, text: str = "text") -> DataFrame:
    """Rolling polynomial content fingerprint over words (Karp–Rabin style):
    ``h ← (h·1000003 + (len(w)·131 + ascii(w[0]))) mod (2³¹−1)``.
    A left-fold ``aggregate`` — order-dependent by design (it's a sequence
    fingerprint, not a bag hash), identical in SQL via ``list_reduce``
    (which seeds with the first element, so the fold here runs over
    ``terms[2:]`` seeded with ``terms[1]``)."""
    w = _words(text)
    terms = F.transform(w, lambda x: (F.length(x) * 131 + F.ascii(x)).cast("long"))
    h = F.aggregate(
        F.slice(terms, 2, F.greatest(F.size(terms) - 1, F.lit(0))),
        F.element_at(terms, 1),
        lambda acc, t: (acc * FP_MULT + t) % FP_MOD,
    )
    return docs.select("doc_id", h.alias("fingerprint"))


def tokens_from_text(docs: DataFrame, text: str = "text", vocab: int = 50_257, extra_cols: tuple[str, ...] = ()):
    """Derive the input_hint token-table shape from a text corpus: tokens =
    per-word 32-bit md5-derived ids, n_tok = len. Used to exercise the engine
    end-to-end on driver test data (documents.parquet)."""
    w = _words(text)
    tok = F.transform(
        w, lambda s: (F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long") % vocab).cast("int")
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tok.alias("tokens"),
        F.size(w).cast("int").alias("n_tok"),
        "source",
        *extra_cols,
    )


def lm_unigram_score(docs: DataFrame, text: str = "text") -> DataFrame:
    """Per-document perplexity-style quality score under the CORPUS unigram
    MLE — the classic LM quality filter of large-scale training-data
    pipelines (CCNet / Gopher style: keep documents whose tokens the corpus
    language model finds probable).

    ``score = −mean_w ln P(w)`` with ``P(w) = count(w) / total`` over the
    whole corpus. Exactness: log-probabilities are QUANTIZED to 1e-6 at the
    vocabulary relation (one row per word — tiny vs the corpus), so the
    per-doc aggregation is an exact integer sum (order-free under any
    partitioning); the 1-ulp libm `ln` divergence between engines is
    absorbed by the quantization.

    Scale shape: one exploded-word shuffle for vocabulary counts (map-side
    partial agg), one broadcast of the 1-row total, one equi-join of words
    to the vocabulary (both sides shuffle on the word key — at 100 TB the
    vocabulary relation is Zipf-small and broadcastable, but the equi-join
    is correct at any vocabulary size), one per-doc aggregate."""
    w = _words(text)
    words = docs.select("doc_id", F.explode(w).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("double").alias("total"))
    vq = vocab.crossJoin(F.broadcast(tot)).select(
        "w",
        F.round(F.log(F.col("cnt") / F.col("total")) * 1000000).cast("long").alias("lq"),
    )
    per_doc = (
        words.join(vq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_w"),
            F.sum(F.col("lq").cast("decimal(38,0)")).cast("double").alias("s_lq"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_w").cast("long").alias("n_words"),
        (F.round(-(F.col("s_lq") / F.lit(1000000.0)) / F.col("n_w"), 6) + F.lit(0.0)).alias(
            "lm_score"
        ),
    )


def doc_repetition(docs: DataFrame, text: str = "text", n: int = 3) -> DataFrame:
    """Within-document repetition ratio — the Gopher repetition quality rule:
    fraction of the document's word n-grams that are duplicates of an
    earlier occurrence, ``1 − distinct_ngrams / total_ngrams``. Documents
    shorter than ``n`` words are excluded (no n-grams to judge).

    The per-doc (total, uniq) gram counts are EXACT INTEGERS computed in one
    Arrow-batched pass (a python dict per document — bounded by document
    length); the ratio and rounding stay in-engine, so the output is
    bit-identical to the former explode → (doc, gram) → per-doc aggregate
    plan. That plan's gram strings came from a higher-order ``transform``
    whose lambda re-split the text PER ELEMENT in the interpreter (~10⁶
    splits at sf0.1 — the measured 2.4 s was almost entirely that); the
    n-gram definition (split on single spaces, space-joined grams) is
    unchanged. The relational twin remains the SQL oracle's definition. At
    warehouse scale the pass is scan-bound map work with no gram shuffle at
    all — strictly better than shuffling the exploded gram relation."""
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            ids, totals, uniqs = [], [], []
            for doc_id, txt in zip(pdf["doc_id"].to_numpy(), pdf[text]):
                if txt is None:
                    continue
                ws = txt.split(" ")
                total = len(ws) - n + 1
                if total < 1:
                    continue
                uniq = len({tuple(ws[i : i + n]) for i in range(total)})
                ids.append(doc_id)
                totals.append(total)
                uniqs.append(uniq)
            yield pd.DataFrame({"doc_id": ids, "total": totals, "uniq": uniqs})

    per_doc = spread(docs.select("doc_id", text), "doc_id").mapInPandas(
        fn, schema="doc_id long, total long, uniq long"
    )
    return per_doc.select(
        "doc_id",
        F.col("total").alias("n_grams"),
        (
            F.round(
                F.lit(1.0) - F.col("uniq").cast("double") / F.col("total").cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("rep_ratio"),
    )
