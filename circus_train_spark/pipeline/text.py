"""Text analysis operators for large-scale training-data pipelines.

All operators are pure ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage-codegen) over the ``documents`` table
``(doc_id, text, lang, source, n_chars)`` — no Python in the hot path.

- token counting: whitespace tokens + a BPE-ish word/punct regex count
- quality scoring: length / punctuation / stopword / uppercase ratios
- language id: n-gram (stopword-list) heuristic scoring
- fingerprinting: rolling content hash per document
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A small function-word list per language for the n-gram heuristic.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "den", "von"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "las", "que", "de", "en", "una", "por", "con"],
}

_EN_STOPWORDS = _LANG_MARKERS["en"] + ["a", "an", "with", "as", "on", "at", "by"]

# BPE-ish tokenizer regex: words, numbers, or single non-space symbols
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_token_count(text: Column) -> Column:
    """Whitespace token count (empty string -> 0)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish lexemes (regexp_count is JVM-side, vectorized)."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^\p{Punct}]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def upper_ratio(text: Column) -> Column:
    n = F.length(text)
    upper = F.length(F.regexp_replace(text, r"[^A-Z]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(upper / n)


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are English stopwords."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    stop = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in _EN_STOPWORDS]))
    )
    total = ws_token_count(text)
    return F.when(total == 0, F.lit(0.0)).otherwise(stop / total)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, not punctuation soup,
    not shouting, has function words."""
    len_term = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    upper_term = F.lit(1.0) - F.least(upper_ratio(text) * 5, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 3, F.lit(1.0))
    return (len_term + punct_term + upper_term + stop_term) / 4


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit ratios (shares one tokenization)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    total = F.greatest(F.size(toks), F.lit(1))
    out = {}
    for lang, markers in _LANG_MARKERS.items():
        hits = F.size(F.filter(toks, lambda t: t.isin(*[F.lit(m) for m in markers])))
        out[lang] = hits / total
    return out


def lang_id(text: Column) -> Column:
    """argmax over the marker ratios; 'und' when nothing matches."""
    scores = lang_scores(text)
    pairs = F.array(
        *[F.struct(c.alias("score"), F.lit(l).alias("lang")) for l, c in scores.items()]
    )
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column, width: int = 64) -> Column:
    """Deterministic document fingerprint: xxhash64 of the normalized text
    (lowercased, whitespace collapsed) — a rolling-hash-style content id."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(norm)


# ------------------------------------------------------------------ PII scrub
# Patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB oracle): no backrefs, no lookaround. Order matters: SSN before
# phone (both are digit-dash shapes).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def scrub_pii(text: Column) -> Column:
    """Redact emails / SSNs / phone numbers / IPv4s with typed placeholders.

    Pure chained ``regexp_replace`` — JVM-side, whole-stage-codegen, no
    Python in the hot path. A standard pre-training hygiene pass (the
    reference has no row-level transforms; this is part of the engine's
    LLM-pipeline surface).
    """
    out = text
    for _name, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category match counts (audit metric for the scrub pass)."""
    return {name: F.regexp_count(text, F.lit(pat)) for name, pat, _ in PII_PATTERNS}


def analyze(documents: DataFrame) -> DataFrame:
    """One-pass text-analysis projection over the documents table."""
    t = F.col("text")
    return documents.select(
        "doc_id",
        "source",
        ws_token_count(t).alias("ws_tokens"),
        bpe_ish_token_count(t).alias("bpe_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(quality_score(t), 6).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


# ------------------------------------------------------------- repetition
#
# Gopher-style (Rae et al. 2021, "Scaling Language Models", table A1)
# intra-document repetition signals: heavily repetitive documents (SEO
# spam, boilerplate, degenerate generations) are filtered by the fraction
# of content covered by their most frequent word / duplicate n-grams.
# All counters are exact integers so an independent SQL engine reproduces
# them bit-for-bit (no float-rounding drift in the verification gate).


def _norm_words(text: Column) -> Column:
    return F.split(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), " ")


def _index_terms(text: Column) -> Column:
    """Indexing tokenization: lowercase, non-alphanumeric runs collapse to a
    single space, split on spaces. Matches ``string_split(regexp_replace(
    lower(text), '[^a-z0-9]+', ' ', 'g'), ' ')`` in ANSI engines so the
    verification oracle replays it; callers filter the empty term produced
    by leading/trailing separators."""
    return F.split(F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " "), " ")


def repetition_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition counters.

    Output: ``doc_id, n_words, n_distinct_words, top_word, top_word_n,
    n_2grams, n_distinct_2grams`` — ratios (top-word fraction, duplicate
    2-gram fraction) are left to the caller as exact ``a/b`` divisions.

    Shape at scale: the word branch explodes to (doc_id, word) rows and
    reduces twice — both shuffles carry 8-byte ids + short tokens, with
    map-side partial aggregation on (doc_id, word). The 2-gram branch is
    scan-local array arithmetic (no shuffle). The final join is
    doc_id-keyed on two already-doc_id-partitioned sides. Ties for the top
    word break deterministically: max (count, word) pair — highest count,
    then lexicographically largest word. The word array is projected once
    as a column: the 2-gram lambda reads that column, where reading the
    ``split`` expression would re-split the text for every 2-gram (a
    lambda gets no subexpression elimination).
    """
    base = documents.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        "doc_id", _norm_words(F.col(text_col)).alias("_w")
    )
    words = F.col("_w")

    word_rows = base.select("doc_id", F.explode(words).alias("w"))
    word_stats = (
        word_rows.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max(F.struct(F.col("cnt"), F.col("w"))).alias("_top"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_distinct_words",
            F.col("_top.w").alias("top_word"),
            F.col("_top.cnt").alias("top_word_n"),
        )
    )

    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - 1),
        lambda i: F.concat_ws(" ", F.element_at(words, i), F.element_at(words, i + 1)),
    )
    gram_stats = base.select(
        "doc_id",
        F.when(F.size(words) < 2, F.lit(0))
        .otherwise(F.size(words) - 1)
        .cast("long")
        .alias("n_2grams"),
        F.when(F.size(words) < 2, F.lit(0))
        .otherwise(F.size(F.array_distinct(grams)))
        .cast("long")
        .alias("n_distinct_2grams"),
    )
    return word_stats.join(gram_stats, "doc_id")


# ------------------------------------------------------------ retrieval ops
#
# BM25 relevance scoring and inverted-index construction over the corpus —
# the retrieval half of a training-data pipeline (query-targeted corpus
# slicing, decontamination probes, boilerplate hunting). Everything is
# built-in-function DataFrame algebra: one explode over the token stream,
# early term filtering so only query-term rows ever shuffle, broadcast of
# the (tiny) per-term document-frequency side.


def doc_term_rows(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, term) token stream under the indexing tokenization.
    Empty terms (leading/trailing separators) are dropped."""
    return (
        documents.select(
            "doc_id", F.explode(_index_terms(F.col(text_col))).alias("term")
        )
        .filter(F.col("term") != "")
    )


def bm25_score(
    documents: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 (Lucene's +1 idf variant) of every document that matches
    at least one query term.

    Output: ``doc_id, n_hit_terms, bm25`` (score rounded to 4 decimals).

    Scale shape: the full (doc, term) explode is reduced scan-side — the
    only rows that survive to a shuffle are (a) per-doc token counts
    (8-byte pairs, map-side combined) and (b) query-term hits (``isin``
    filter directly over the explode, so the tf shuffle carries a few rows
    per matching doc, not the token stream). Document frequencies and the
    corpus aggregates (N, avgdl) reduce to one row / |query| rows and come
    back as broadcasts; no side scales with anything but hit count.
    """
    toks = doc_term_rows(documents, text_col)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    # corpus stats over docs with >=1 token (exact integers -> stable avg)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    hits = toks.filter(F.col("term").isin(query_terms))
    tf = hits.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = hits.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = F.col("n_docs").cast("double")
    avgdl = F.col("total_len").cast("double") / n_docs
    idf = F.log((n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    term_score = idf * (F.col("tf") * (k1 + 1.0)) / denom
    return (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.round(F.sum(term_score), 4).alias("bm25"),
        )
    )


def inverted_index(
    documents: DataFrame,
    min_df: int = 1,
    max_df: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Posting lists: ``term, df, postings`` where ``postings`` is the
    sorted distinct doc_ids joined with ','.

    ``max_df`` drops stop-terms BEFORE their posting list is assembled (a
    cheap pre-aggregated count), bounding the widest row the collect sees —
    at web scale an uncapped 'the' posting is a single multi-GB row, so the
    cap is load-bearing, not cosmetic. The shuffle carries (term, doc_id)
    pairs only; text never moves.
    """
    pairs = doc_term_rows(documents, text_col).distinct()
    counts = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    keep = counts.filter(F.col("df") >= min_df)
    if max_df is not None:
        keep = keep.filter(F.col("df") <= max_df)
    return (
        pairs.join(F.broadcast(keep.select("term")), "term")
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "postings"
            ),
        )
    )


def filter_corpus(
    documents: DataFrame,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    max_top_word_frac: tuple[int, int] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """The standard pre-training corpus gate as ONE composed operator:
    keep documents with ``quality >= min_quality``, predicted language in
    ``langs``, and (optionally) top-word coverage at most
    ``max_top_word_frac`` (a rational ``(num, den)`` so the comparison is
    exact integer cross-multiplication, never float drift).

    Output: the kept documents plus ``quality`` (rounded to 6 decimals —
    the threshold compares the ROUNDED value so an independent engine
    reproduces the cut) and ``lang_pred``.

    Scale shape: quality and language are scan-local expressions (no
    shuffle); only when the repetition gate is on does the doc-keyed join
    against ``repetition_stats`` run — and that side shuffles counters,
    not text.
    """
    t = F.col(text_col)
    base = documents.withColumn(
        "quality", F.round(quality_score(t), 6)
    ).withColumn("lang_pred", lang_id(t))
    kept = base.filter(
        (F.col("quality") >= min_quality) & F.col("lang_pred").isin(list(langs))
    )
    if max_top_word_frac is not None:
        num, den = max_top_word_frac
        rep = repetition_stats(documents, text_col=text_col).select(
            "doc_id", "top_word_n", "n_words"
        )
        kept = kept.join(rep, "doc_id").filter(
            F.col("top_word_n") * den <= F.col("n_words") * num
        )
        kept = kept.drop("top_word_n", "n_words")
    return kept


def chunk_text(
    documents: DataFrame,
    window: int,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking: split each document into fixed-size
    (optionally overlapping) character windows — the standard preprocessing
    step that turns long documents into model-context-sized training
    examples. Chunk ``i`` covers characters ``[i*stride, i*stride+window)``;
    the count is ``ceil((len - window) / stride) + 1`` (always >= 1, so
    short and empty documents emit exactly one chunk and nothing is
    silently dropped; the final chunk may be shorter than ``window``).

    Output: (id, chunk_idx, chunk) — one row per window.

    Scale: pure scan-local column algebra (``sequence`` + ``explode`` +
    ``substring``, all JVM-side); no shuffle, no Python. Output rows
    explode ~len/stride per document, the same amplification any chunker
    pays; a downstream writer re-bins by size as usual.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    stride = window if stride is None else stride
    if stride < 1:
        raise ValueError("stride must be >= 1")
    t = F.col(text_col)
    n = F.length(t)
    n_chunks = F.when(
        n <= window, F.lit(1)
    ).otherwise(F.ceil((n - F.lit(window)) / F.lit(stride)) + 1).cast("int")
    return (
        documents.select(
            F.col(id_col),
            t.alias("_ct_text"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.substring(
                F.col("_ct_text"),
                (F.col("chunk_idx") * stride + 1).cast("int"),
                window,
            ).alias("chunk"),
        )
    )
