"""Text-analysis operators for training-data pipelines, DataFrame-first:
token counting, quality signals, language ID heuristic, fingerprinting.
Everything except lang-ID scoring stays in JVM whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# per-language function-word lists (common public stopword seeds) for the
# Latin-script languages; non-Latin scripts are detected by Unicode range
# below (space-split stopwords never fire on unsegmented CJK text)
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "for", "with", "on",
           "that", "this", "was", "are", "be", "as", "at", "by", "from",
           "not", "have", "has", "but", "they", "you"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por",
           "las", "del", "se", "con", "para", "es", "al", "lo", "como",
           "más", "pero", "sus", "le", "ya", "este"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu",
           "den", "nicht", "sich", "auf", "für", "auch", "es", "eine",
           "als", "an", "werden", "aus", "er", "hat", "dass", "sie"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "pour",
           "dans", "qui", "que", "pas", "sur", "au", "plus", "par", "il",
           "ne", "se", "ce", "son", "avec", "sont"],
    "it": ["il", "di", "che", "la", "e", "per", "un", "una", "del", "non",
           "in", "sono", "con", "si", "da", "come", "le", "dei", "al",
           "della", "più", "anche", "questo", "ma", "gli"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em", "um", "uma",
           "para", "com", "não", "os", "as", "dos", "como", "mas", "ao",
           "se", "por", "mais", "foi", "são", "tem"],
    "nl": ["de", "het", "een", "van", "en", "in", "is", "dat", "op", "te",
           "zijn", "voor", "met", "die", "niet", "aan", "er", "om", "ook",
           "als", "maar", "bij", "dan", "uit", "naar"],
}

# Unicode-script ranges → language (dominant-script override; a doc whose
# chars are mostly one non-Latin script is that script's language regardless
# of space-tokenized stopword hits)
_SCRIPTS = [
    ("ja", r"[぀-ヿ]", 0.05),   # kana — checked BEFORE han (ja uses both)
    ("zh", r"[一-鿿]", 0.20),   # han
    ("ko", r"[가-힯]", 0.20),   # hangul
    ("ru", r"[Ѐ-ӿ]", 0.20),   # cyrillic
    ("ar", r"[؀-ۿ]", 0.20),   # arabic
    ("el", r"[Ͱ-Ͽ]", 0.20),   # greek
]


def ws_token_count(col: str = "text") -> Column:
    """Whitespace token count (single-space split, empty fields counted —
    matches DuckDB len(string_split(x, ' ')))."""
    return F.size(F.split(F.col(col), " ")).alias("n_ws_tokens")


# BPE-ish pre-tokenizer: letter runs, digit runs, or single symbols — the
# shape GPT-style byte-pair pre-tokenization produces, kept to ASCII classes
# so Java (Spark) and RE2 (DuckDB) regex engines agree byte-for-byte
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(col: str = "text") -> Column:
    """Count of BPE-ish pre-tokens (letter runs / digit runs / single
    symbols) — the brief's 'BPE-ish regex' counter, JVM-side
    (`regexp_count`, no UDF)."""
    return F.regexp_count(F.col(col), F.lit(BPE_ISH_PATTERN)) \
        .cast("int").alias("n_bpe_tokens")


def stopword_stats(df: DataFrame, col: str = "text",
                   lang: str = "en") -> DataFrame:
    """Stopword statistics for quality filtering: total space-split words
    and how many are in the language's function-word list.  Downstream
    quality rules use the ratio; both counts stay integers so any SQL
    engine reproduces them exactly."""
    sw = _STOPWORDS[lang]
    words = F.split(F.lower(F.col(col)), " ")
    return df.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.filter(words, lambda w: w.isin(*sw))).cast("int")
        .alias("n_stop"))


def quality_signals(df: DataFrame, col: str = "text") -> DataFrame:
    """Integer-valued quality features (lengths/counts — no float ratios so
    results are exactly reproducible in any SQL engine)."""
    t = F.col(col)
    return df.select(
        "doc_id",
        F.length(t).alias("n_chars_q"),
        F.size(F.split(t, " ")).alias("n_words"),
        (F.length(t) - F.length(F.regexp_replace(t, r"[.,!?;:]", "")))
        .cast("int").alias("n_punct"),
        (F.length(t) - F.length(F.regexp_replace(t, "[A-Z]", "")))
        .cast("int").alias("n_upper"),
    )


def lang_id(df: DataFrame, col: str = "text") -> DataFrame:
    """Language-ID heuristic, pure JVM (whole-stage codegen, no UDF):

    1. dominant-script detection by Unicode range (ja/zh/ko/ru/ar/el) —
       space tokenization is meaningless for unsegmented scripts, so
       character evidence decides first;
    2. otherwise occurrence-WEIGHTED function-word voting over the
       Latin-script languages (every token in a language's stopword list
       counts, so long documents aren't flattened to a distinct-set vote);
       deterministic tie-break on language code.
    Returns (doc_id, lang_pred); 'und' when no evidence fires."""
    t = F.col(col)
    n_chars = F.greatest(F.length(t), F.lit(1))
    words = F.split(F.lower(t), " ")
    scores = F.array(*[
        F.struct(
            F.size(F.filter(words, lambda w: w.isin(*sw))).alias("score"),
            F.lit(lang).alias("lang"))
        for lang, sw in sorted(_STOPWORDS.items(), reverse=True)])
    best = F.array_max(scores)  # max score, then max lang — ties go to the
    # lexicographically LAST code; reverse-sorted build keeps it stable
    stopword_pred = F.when(best.score > 0, best.lang).otherwise(F.lit("und"))

    pred = stopword_pred
    for lang, pattern, frac in reversed(_SCRIPTS):
        hits = F.length(t) - F.length(F.regexp_replace(t, pattern, ""))
        pred = F.when(hits > n_chars * F.lit(frac), F.lit(lang)) \
            .otherwise(pred)
    return df.select("doc_id", pred.alias("lang_pred"))


def fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Order-sensitive document fingerprint: xxhash64 of each word combined
    positionally (rolling-hash analog), fully JVM-side."""
    words = F.split(F.col(col), " ")
    rolled = F.aggregate(
        F.transform(words, lambda w: F.xxhash64(w)),
        F.lit(0).cast("long"),
        lambda acc, h: F.xxhash64(acc, h))  # overflow-free rolling combine
    return df.select("doc_id", rolled.alias("fingerprint"))


def vocab_topk(df: DataFrame, col: str = "text", k: int = 100
               ) -> DataFrame:
    """EXACT corpus-level vocabulary frequency top-k (the training-data
    'what does the corpus say' primitive: vocab stats, stopword
    discovery, boilerplate detection).  Single-space tokenization with
    empty fields kept — byte-parity with ``len(string_split(...))`` in
    the token-count oracles.  One map-side-combinable shuffle keyed by
    token (partial counts combine before the exchange), then a
    ``TakeOrderedAndProject`` of k rows; ties broken by token so the
    result is deterministic.  At 100 TB the shuffle volume is the
    DISTINCT vocabulary per partition, not the corpus — for natural-
    language vocabularies that is millions of rows."""
    toks = df.select(F.explode(
        F.split(F.lower(F.col(col)), " ")).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    return counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)


# ASCII-class patterns only: Java (Spark) and RE2 (DuckDB) regex engines
# agree byte-for-byte on these, so the scrub is oracle-reproducible
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_DIGITS_PATTERN = r"[0-9]{9,}"


def pii_scrub(df: DataFrame, col: str = "text") -> DataFrame:
    """PII redaction (the privacy-scrub stage of corpus cleaning):
    emails → ``<EMAIL>``, 9+-digit runs (ids, SSNs, phone-ish numbers)
    → ``<NUM>``.  Pure JVM `regexp_replace` rowwise — no shuffle, no
    UDF; patterns are ASCII-class so any engine replays them exactly."""
    out = F.regexp_replace(F.col(col), EMAIL_PATTERN, "<EMAIL>")
    out = F.regexp_replace(out, LONG_DIGITS_PATTERN, "<NUM>")
    return df.select("doc_id", out.alias(col))


def repetition_stats(df: DataFrame, col: str = "text", k: int = 3
                     ) -> DataFrame:
    """Within-document repetition signal (the Gopher repetition filters'
    measurement): total and DISTINCT word k-grams per doc, as integers
    (quality rules threshold the ratio; integers keep any SQL engine
    bit-identical).  Short docs (< k words) count their whole text as
    one gram — same convention as the dedup shingles."""
    words = F.split(F.col(col), " ")
    n = F.size(words)
    grams = F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, k)),
    )).otherwise(F.array(F.concat_ws(" ", words)))
    return df.select(
        "doc_id",
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct_grams"))
