"""Text-analysis operators for LLM-training-data pipelines (BASELINE.json:6
extension surface): token counting, quality scoring, language-ID heuristic,
document fingerprinting.

Everything is built from JVM-side `pyspark.sql.functions` (no Python UDFs):
at 100 TB these run inside whole-stage codegen as map-only stages — the only
shuffles in this module's callers are the aggregations they choose to add.

Determinism contract (shared with the DuckDB oracles in queries/ext_queries):
every derived metric uses only regexes valid in both Java regex and RE2, and
md5 (identical across engines) for fingerprints.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Shared spec constants (referenced by oracle SQL builders).
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on"]
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"
FINGERPRINT_CHUNK = 64


def normalize_text(col: Column) -> Column:
    """lower + trim + collapse runs of whitespace to single spaces."""
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def ws_tokens(col: Column) -> Column:
    """Whitespace tokenization of already-normalized text."""
    return F.split(col, r" ")


def word_grams(toks: Column, k: int, gram=lambda g: g) -> Column:
    """Every word k-gram of a token array in order, each passed through
    ``gram`` (e.g. ``F.md5``); an array shorter than k yields its one
    partial gram. The one gram expression of the shingle, span and
    repetition operators. ``toks`` is referenced per element inside the
    lambda, so a caller over raw text projects the tokens to a column
    first when the gram array is expensive to recompute."""
    n = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: gram(
            F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)])
        ),
    )


def text_metrics(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token/char/punctuation/stopword metrics + quality score.

    quality_score = 0.5 * min(n_tokens/200, 1)        (length credit)
                  + 0.3 * min(stopword_ratio * 5, 1)  (natural-language-ness)
                  + 0.2 * (1 - punct_ratio)           (noise penalty)
    rounded to 6 decimals (oracle hash stability).
    """
    norm = normalize_text(F.col(text_col))
    toks = ws_tokens(norm)
    n_tokens = F.size(toks)
    n_chars = F.length(norm)
    n_alnum_ws = F.length(F.regexp_replace(norm, r"[^a-z0-9 ]", ""))
    punct_ratio = (n_chars - n_alnum_ws) / F.greatest(n_chars, F.lit(1))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    bpe_count = F.size(F.regexp_extract_all(norm, F.lit(BPE_ISH_PATTERN), 0))
    quality = (
        F.lit(0.5) * F.least(n_tokens / F.lit(200.0), F.lit(1.0))
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - punct_ratio)
    )
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        bpe_count.alias("n_bpe_tokens"),
        n_chars.alias("n_chars_norm"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        n_stop.alias("n_stopwords"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


# Marker words per language for the n-gram/stopword language-ID heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "a"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "les", "des", "est", "et"],
    "de": ["der", "die", "das", "und", "ist"],
}


def lang_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: count per-language marker tokens, predict the
    argmax (ties broken by fixed language order), 'und' when no marker hits.
    """
    norm = normalize_text(F.col(text_col))
    toks = ws_tokens(norm)
    def _marker_count(markers: list[str]):
        def pred(tok):
            return tok.isin(*markers)

        return F.size(F.filter(toks, pred))

    counts = {lang: _marker_count(markers) for lang, markers in LANG_MARKERS.items()}
    out = documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[counts[lang].alias(f"n_{lang}") for lang in LANG_MARKERS],
    )
    return out.withColumns(
        {
            "predicted_lang": _argmax_expr([(l, F.col(f"n_{l}")) for l in LANG_MARKERS]),
        }
    ).withColumn("agree", F.col("predicted_lang") == F.col("labeled_lang"))


def _argmax_expr(pairs: list[tuple[str, Column]]) -> Column:
    best = F.lit("und")
    best_n = F.lit(0)
    for lang, cnt in pairs:
        take = cnt > best_n
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_n = F.when(take, cnt).otherwise(best_n)
    return best


def fingerprints(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprinting: md5 of normalized text, plus fixed-width
    chunk fingerprints (a deterministic rolling-hash analog for shift-robust
    near-dup blocking).
    """
    norm = normalize_text(F.col(text_col))
    n_chunks = F.ceil(F.length(norm) / F.lit(FINGERPRINT_CHUNK)).cast("int")
    chunk_fps = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.md5(F.substring(norm, (i * FINGERPRINT_CHUNK + 1).cast("int"), FINGERPRINT_CHUNK)),
    )
    return documents.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        F.md5(F.substring(norm, 1, 100)).alias("fp_prefix"),
        n_chunks.alias("n_chunks"),
        F.element_at(chunk_fps, 1).alias("fp_chunk0"),
    )


def bm25_topk(
    documents: DataFrame,
    query_terms: list[str],
    k: int = 15,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 retrieval: score every document against a bag of query
    terms, return the top-k (the ranking half of a retrieval pipeline; the
    embedding half lives in operators/similarity.py).

      idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
      score   = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Scale shape: term explode -> per-doc length agg (one shuffle, shared by
    any query), then everything query-specific filters to the query's terms
    BEFORE aggregating — tf/df are tiny and broadcast; the final top-k is
    orderBy+limit (TakeOrderedAndProject: per-partition heaps, no global
    sort). Scores are rounded to 6dp BEFORE ranking so the cross-engine
    tie-break (score desc, doc_id asc) is bit-stable.
    """
    d = documents.select(
        "doc_id", normalize_text(F.col(text_col)).alias("t")
    )
    toks = d.select("doc_id", F.explode(ws_tokens(F.col("t"))).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs")
    )
    tf = (
        toks.filter(F.col("term").isin(*query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * F.col("tf") * F.lit(k1 + 1.0) / denom).alias("contrib"),
        )
    )
    ranked = (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )
    return ranked


# PII patterns shared (verbatim) with the DuckDB oracles — both engines run
# RE2-compatible subsets so the same string means the same automaton.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{1,2}-\d{3}-\d{4}"


def scrub_pii(col: Column) -> Column:
    """Mask emails / IPv4s / phone numbers — the redaction pass every
    training-data pipeline runs before text leaves the trust boundary.
    Order matters: emails first (an address can contain digits that the
    phone pattern would otherwise clip), then phones, then IPs."""
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    return F.regexp_replace(out, PII_IPV4, "<IP>")


def pii_counts(col: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_phones, n_ips) found in ``col`` — audit counts that
    accompany the scrub (what was removed, not just that something was)."""
    return (
        F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL), 0)),
        F.size(F.regexp_extract_all(col, F.lit(PII_PHONE), 0)),
        F.size(F.regexp_extract_all(col, F.lit(PII_IPV4), 0)),
    )


def repetition_metrics(
    documents: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Intra-document repetition metrics (the Gopher/RefinedWeb repetition
    rule): fraction of duplicated word k-grams per document and the count
    of the single most-repeated k-gram. Highly repetitive documents
    (boilerplate, keyword stuffing, degenerate generations) are flagged for
    removal before training. Map-only except one doc_id-keyed aggregation
    for the top-gram count.

    Expressions referenced inside a higher-order-function lambda re-evaluate
    PER ELEMENT, so the normalize+split is projected to a column first and
    the gram array is materialized once (persist) for its two consumers —
    the same two rules ``dedup.shingle_docs`` follows (measured: skipping
    them cost 32 s vs 2 s at sf0.1)."""
    tokd = documents.select(
        "doc_id", ws_tokens(normalize_text(F.col(text_col))).alias("toks")
    )
    gramd = tokd.select("doc_id", word_grams(F.col("toks"), k).alias("_grams"))
    base = gramd.select(
        "doc_id",
        F.size("_grams").alias("n_grams"),
        F.size(F.array_distinct("_grams")).alias("n_distinct"),
        "_grams",
    ).persist()
    top = (
        base.select("doc_id", F.explode("_grams").alias("g"))
        .groupBy("doc_id", "g")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_gram_count"))
    )
    return (
        base.drop("_grams")
        .join(top, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_grams"), 6
            ).alias("dup_gram_fraction"),
            "top_gram_count",
        )
    )


def canonical_url(url: Column) -> Column:
    """Canonicalize a URL the way a web-corpus dedup first pass does
    (CCNet/RefinedWeb-style): lowercase scheme+host, strip a leading
    ``www.``, drop default ports (``:443`` for https, ``:80`` for http),
    strip the trailing path slash, drop ``utm_*`` tracking params, sort
    the surviving query params, drop the fragment. Every step is a
    JVM-side string/regex/array expression — map-only at any corpus
    size — and each is mirrored verbatim in the DuckDB oracle
    (queries/ext_queries.py:ext_url_canonical_dedup).

    Complementary to operators/curation.py:canonicalize_url, the coarser
    DOMAIN-key canonicalizer (drops ALL params/ports for per-domain
    caps): this one preserves resource identity — two URLs canonicalize
    equal iff they name the same document."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]*)", 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = F.when(
        scheme == "https", F.regexp_replace(host, r":443$", "")
    ).otherwise(F.regexp_replace(host, r":80$", ""))
    path = F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r"/$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (F.substring(p, 1, 4) != "utm_")
                & (p != ""),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(params == "", F.lit("")).otherwise(F.concat(F.lit("?"), params)),
    )
