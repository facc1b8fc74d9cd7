"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

Reference analogs: ``LanguageAnalyser.java:65`` (language detection),
``SentimentJTextAnalyser.java:63-86`` (score bucketing), text-field
sanitization in ``SolrRecordFactory.java:51-130``.  All four are expressed as
pure JVM column expressions (no UDFs) so they codegen and their semantics can
be mirrored exactly by a SQL oracle.  The one exception is ``lang_id``'s
optional ``model=`` path, which routes a registered real model (see
``functions/langmodel.py``) through a single Arrow-batched UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import column_memo

# Expression-tree memoization (r6): building a big Column ladder costs one
# py4j round trip (~0.2 ms) per functions.* call — profiled at 0.3-0.6 s of
# DRIVER time per composition for the larger operators here, paid again on
# every query build.  Unresolved Column objects are immutable and bind to
# attributes by NAME at analysis, so trees keyed by (column names, rule
# parameters) are safely reusable across DataFrames and queries within one
# JVM gateway — ``session.column_memo`` keys each cache by the live gateway,
# so a restarted one rebuilds; the caches hold a handful of tiny JVM refs.

__all__ = [
    "lang_id",
    "register_lang_id_model",
    "LANG_ID_MODELS",
    "quality_score",
    "gopher_quality_filter",
    "repetition_stats",
    "c4_line_filter",
    "redact_pii",
    "PII_PATTERNS",
    "token_stats",
    "fingerprint",
    "sentiment_bucket",
    "postcode_extract",
    "load_postcode_gazetteer",
    "postcode_locations",
    "LANG_MARKERS",
    "NO_BOUNDARY_LANGS",
    "SENTIMENTS",
    "SENTIMENT_LEXICON",
    "POSTCODE_REGEX",
]

# occurrence-count language heuristics: per language, a set of frequent
# function words; score = total occurrences of " word " patterns (for
# scripts written without word spaces — NO_BOUNDARY_LANGS — raw substring
# occurrences of the markers instead).  Semantically a heuristic (a
# production pipeline would plug a fastText-class model into the same
# operator shape via the UDF registry); coverage spans the ~56
# highest-volume web languages.  Ties resolve to the earlier dict entry, so
# high-volume languages are listed first.  Reference analog:
# ``LanguageAnalyser.java:65`` (langdetect n-gram profiles).
LANG_MARKERS = {
    "en": ["the", "and", "a", "of"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "los", "que", "y"],
    "it": ["il", "che", "di", "per"],
    "pt": ["não", "uma", "os", "em"],
    "nl": ["het", "een", "niet", "op"],
    "sv": ["och", "att", "det", "som"],
    "da": ["og", "jeg", "ikke", "til"],
    "pl": ["nie", "się", "jest", "w"],
    "ru": ["и", "не", "на", "что"],
    "id": ["yang", "dan", "di", "untuk"],
    "tr": ["bir", "ve", "bu", "için"],
    "fi": ["ja", "on", "ei", "että"],
    "cs": ["je", "se", "že", "to"],
    "ro": ["și", "să", "nu", "cu"],
    "zh": ["的", "是", "了", "在"],
    "ja": ["の", "に", "は", "を"],
    "ko": ["습니다", "있는", "하는", "이다"],
    "ar": ["في", "من", "على", "هذا"],
    "hi": ["है", "के", "में", "की"],
    "bn": ["এবং", "করে", "না", "থেকে"],
    "ur": ["کے", "میں", "ہے", "اور"],
    "fa": ["در", "از", "که", "است"],
    "he": ["של", "את", "על", "לא"],
    "th": ["ที่", "และ", "ไม่", "ของ"],
    "vi": ["và", "của", "là", "không"],
    "el": ["και", "το", "της", "που"],
    "uk": ["і", "не", "що", "це"],
    "hu": ["és", "hogy", "nem", "egy"],
    "no": ["å", "og", "er", "på"],
    "bg": ["и", "на", "да", "се"],
    "sr": ["је", "и", "да", "се"],
    "hr": ["je", "i", "u", "da"],
    "sk": ["sa", "že", "aj", "som"],
    "sl": ["je", "in", "se", "da"],
    "et": ["ning", "oma", "kuid", "või"],
    "lv": ["un", "ir", "ka", "par"],
    "lt": ["ir", "yra", "kad", "su"],
    "ta": ["மற்றும்", "இந்த", "என்று", "உள்ள"],
    "te": ["మరియు", "ఈ", "అని", "ఇది"],
    "ms": ["kerana", "boleh", "ialah", "anda"],
    "tl": ["ang", "ng", "mga", "sa"],
    "sw": ["ya", "na", "kwa", "katika"],
    "az": ["və", "bir", "bu", "ilə"],
    "kk": ["және", "бұл", "бар", "үшін"],
    "uz": ["uchun", "bilan", "ham", "va"],
    "ca": ["és", "els", "amb", "dels"],
    "is": ["og", "að", "er", "við"],
    "sq": ["dhe", "një", "të", "për"],
    "ka": ["და", "რომ", "არის", "ეს"],
    "hy": ["և", "որ", "է", "այս"],
    "ne": ["र", "छ", "को", "मा"],
    "si": ["සහ", "ඇති", "මෙම", "වේ"],
    "mn": ["нь", "юм", "энэ", "байна"],
    "af": ["ek", "nie", "vir", "die"],
}
# scripts written without spaces between words: markers are counted as raw
# substrings, not " word " boundary patterns
NO_BOUNDARY_LANGS = {"zh", "ja", "th", "ko"}
_LANG_MARKERS = LANG_MARKERS  # backwards-compat alias


def _occurrences(text: Column, needle: str) -> Column:
    """Count non-overlapping occurrences of ``needle`` via length differencing
    (identical semantics in any SQL engine: (len(s) - len(replace(s, n, ''))) / len(n)).
    LITERAL ``replace``, not ``regexp_replace`` — needles are plain words, and
    the literal scan skips the regex engine entirely (matching the DuckDB
    oracles, which already use literal ``replace``)."""
    return (
        F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))
    ) / len(needle)


#: language-ID model registry: name → object with
#: ``predict_batch(texts) -> list[str|None]``.  This is the documented slot
#: a production fastText-class model plugs into; ``functions/langmodel.py``
#: ships a real trainable char-trigram Naive Bayes proving the path.
LANG_ID_MODELS: dict[str, object] = {}


def register_lang_id_model(name: str, model) -> None:
    """Register a language-ID model for :func:`lang_id`'s ``model=`` path.
    The model must expose ``predict_batch(texts) -> list[str|None]`` and be
    picklable (it ships to executors by closure capture)."""
    if not hasattr(model, "predict_batch"):
        raise TypeError("model must expose predict_batch(texts)")
    LANG_ID_MODELS[name] = model


def lang_id(
    df: DataFrame,
    text_col: str,
    langs: dict[str, list[str]] | None = None,
    model: str | None = None,
) -> DataFrame:
    """N-gram/function-word language heuristic: argmax over per-language
    marker-word occurrence counts; 'und' (undetermined) when all zero.

    ``model=<registered name>`` swaps the codegen heuristic for a REAL
    model from :data:`LANG_ID_MODELS`, run as one Arrow-batched pandas UDF
    (same output column ``lang_pred``, same operator shape downstream) —
    the deployment path for fastText-class weights.  ``model="default"``
    resolves to the committed 24-language char-trigram NB
    (``functions.langmodel.default_model``, trained lazily once per
    process); the heuristic remains the ``model=None`` tier — it is the
    SQL-restatable codegen path the arithmetic oracles gate."""
    if model is not None:
        if model == "default" and model not in LANG_ID_MODELS:
            from ..functions.langmodel import default_model

            register_lang_id_model("default", default_model())
        m = LANG_ID_MODELS[model]

        @F.pandas_udf("string")
        def _predict(texts: pd.Series) -> pd.Series:
            return pd.Series(m.predict_batch(list(texts)), dtype=object)

        return df.withColumn("lang_pred", _predict(F.col(text_col)))
    langs = langs or _LANG_MARKERS
    # Projection barrier (always-true nondeterministic filter): the ladder
    # below references the text column ~700 times; when that column is
    # itself a computed expression (the c4-cleaning output in the training
    # pipeline), CollapseProject would inline its whole tree into every
    # reference — a ~100k-node plan whose Catalyst ANALYSIS alone measured
    # 0.8 s per composition at sf0.1.  The barrier keeps the upstream
    # projection separate, so the ladder sees a plain attribute.
    df = df.filter(F.spark_partition_id() >= 0)
    # r6: the whole ladder is built as SQL text, parsed once per
    # (text_col, marker set) and MEMOIZED (see the module note) — the
    # Column-object construction had cost ~1,300 py4j round trips per build,
    # and even the one-shot SQL parse measured ~0.3 s per composition.
    # Arithmetic is bit-identical: same replace/length occurrence counts,
    # same int/int double division, same first-language-wins tie order;
    # ``_best`` is materialized once as a column instead of re-deriving
    # greatest() per branch (same value, same codegen).
    key = tuple((k, tuple(v)) for k, v in langs.items())
    score_cols, best_col, case_col = _langid_exprs(text_col, key)
    return (
        df.select("*", *score_cols)
        .select("*", best_col)
        .select("*", case_col)
        .drop("_best")
    )


@column_memo(maxsize=8)
def _langid_exprs(text_col: str, langs_key):
    def lit_sql(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    p = f"concat(' ', lower(`{text_col}`), ' ')"
    score_cols = []
    for lang, words in langs_key:
        terms = []
        for wd in words:
            needle = wd if lang in NO_BOUNDARY_LANGS else f" {wd} "
            terms.append(
                f"(length({p}) - length(replace({p}, {lit_sql(needle)}, ''))) "
                f"/ {len(needle)}"
            )
        score_cols.append(F.expr(
            "CAST(" + " + ".join(terms) + f" AS DOUBLE) AS score_{lang}"
        ))
    best = "greatest(" + ", ".join(f"score_{lang}" for lang, _ in langs_key) + ")"
    # earlier languages win ties (stable argmax order: first WHEN that hits)
    cases = " ".join(
        f"WHEN score_{lang} = _best AND _best > 0 THEN {lit_sql(lang)}"
        for lang, _ in langs_key
    )
    return (
        tuple(score_cols),
        F.expr(f"{best} AS _best"),
        F.expr(f"CASE {cases} ELSE 'und' END AS lang_pred"),
    )


def quality_score(df: DataFrame, text_col: str) -> DataFrame:
    """Document quality heuristics: length, mean word length, stopword ratio,
    punctuation ratio, and a composite [0,1] score (simple linear mix)."""
    text = F.col(text_col)
    toks = F.split(F.trim(text), r"\s+")
    n_tok = F.size(toks)
    n_char = F.length(text)
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    stop = None
    for wd in ["the", "a", "and", "of", "to", "in"]:
        occ = _occurrences(padded, f" {wd} ")
        stop = occ if stop is None else stop + occ
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    return df.select(
        "*",
        n_char.alias("q_chars"),
        n_tok.alias("q_tokens"),
        (n_char.cast("double") / n_tok).alias("q_mean_tok_len"),
        (stop.cast("double") / n_tok).alias("q_stopword_ratio"),
        (punct.cast("double") / n_char).alias("q_punct_ratio"),
    ).withColumn(
        "q_score",
        F.least(
            F.lit(1.0),
            (F.col("q_tokens") / 100.0) * 0.5
            + F.least(F.col("q_stopword_ratio") * 2.0, F.lit(1.0)) * 0.5,
        ),
    )


def token_stats(df: DataFrame, text_col: str, id_col: str,
                with_bpe: bool = False) -> DataFrame:
    """Token counting: whitespace tokens, a cheap codegen subword estimate
    (ceil(chars/4) — the common ~4-chars-per-token heuristic, kept because
    it is free and SQL-mirrorable), and — with ``with_bpe=True`` — REAL
    byte-pair-encoding counts (``bpe_tokens``) from the learned merge table
    in :mod:`..functions.bpe`, run as one Arrow-batched UDF with a per-word
    memo (each executor trains the embedded table once, then every repeated
    word is a dict hit)."""
    text = F.col(text_col)
    ws = F.size(F.split(F.trim(text), r"\s+"))
    cols = [
        F.col(id_col),
        ws.alias("ws_tokens"),
        F.ceil(F.length(text) / 4.0).cast("long").alias("approx_bpe_tokens"),
        F.size(F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+"))).alias("distinct_tokens"),
    ]
    if with_bpe:
        @F.pandas_udf("long")
        def _bpe_count(texts: pd.Series) -> pd.Series:
            from ..functions.bpe import default_tokenizer

            tok = default_tokenizer()  # executor-side singleton
            return pd.Series(
                [tok.count_tokens(t) if t is not None else None for t in texts],
                dtype=object,
            )

        cols.append(_bpe_count(text).alias("bpe_tokens"))
    return df.select(*cols)


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic document fingerprint: md5 of the case/whitespace
    normalized text (the exact-dedup key), plus a coarser sorted-distinct-token
    fingerprint that survives token reordering."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    sorted_toks = F.array_join(F.array_sort(F.array_distinct(F.split(norm, " "))), " ")
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp_exact"),
        F.md5(sorted_toks).alias("fp_bag"),
    )


# Compact AFINN-style valence lexicon (public word-valence heuristics, -5..5)
# — stands in for the reference's SentiJ lexicon (SentimentJTextAnalyser).
SENTIMENT_LEXICON = {
    "outstanding": 5, "superb": 5, "breathtaking": 5,
    "excellent": 4, "wonderful": 4, "amazing": 4, "fantastic": 4,
    "great": 3, "love": 3, "happy": 3, "beautiful": 3,
    "good": 2, "nice": 2, "useful": 2, "helpful": 2,
    "fine": 1, "ok": 1,
    "bad": -2, "poor": -2, "ugly": -2, "boring": -2,
    "awful": -3, "hate": -3, "sad": -3, "broken": -3,
    "terrible": -4, "horrible": -4, "disgusting": -4,
    "catastrophic": -5, "abysmal": -5,
}

#: the reference's 7 bucket labels (``SolrFields.SENTIMENTS``)
SENTIMENTS = [
    "Very Negative", "Negative", "Mildly Negative", "Neutral",
    "Mildly Positive", "Positive", "Very Positive",
]


def sentiment_bucket(df: DataFrame, text_col: str, head_chars: int = 10000) -> DataFrame:
    """Sentiment score + 7-way bucket, exactly the reference's mapping
    (``SentimentJTextAnalyser.java:63-86``): comparative = Σ valence / #tokens
    over the first 10 000 chars; ``sentilog = sign(c)·ln(1+|c|)/40``;
    bucket index = ``int(7·(0.5+sentilog))`` clamped to [0,6].  Pure codegen
    when-ladder + occurrence counts — the oracle can mirror it exactly."""
    # materialize the padded/lowered head ONCE behind a projection barrier:
    # the 30-word lexicon references it 60 times (length+replace pairs), and
    # CollapseProject would inline the full lower(substring(...)) tree — of
    # an often-synthesized text column — into every reference (r6; measured
    # 1.32 → 1.17 s on the sentiment gate at sf0.1, same values)
    head = F.substring(F.col(text_col), 1, head_chars)
    padded = F.concat(F.lit(" "), F.lower(head), F.lit(" "))
    df = df.select(
        "*", head.alias("_sent_head"), padded.alias("_sent_padded")
    ).filter(F.spark_partition_id() >= 0)
    total = None
    for word, valence in SENTIMENT_LEXICON.items():
        term = _occurrences(F.col("_sent_padded"), f" {word} ") * valence
        total = term if total is None else total + term
    n_tok = F.size(F.split(F.trim(F.col("_sent_head")), r"\s+"))
    comparative = total.cast("double") / n_tok
    sentilog = F.signum(comparative) * F.log(1.0 + F.abs(comparative)) / 40.0
    idx = F.floor(len(SENTIMENTS) * (0.5 + sentilog)).cast("int")
    idx = F.greatest(F.lit(0), F.least(F.lit(len(SENTIMENTS) - 1), idx))
    bucket = F.lit(SENTIMENTS[-1])
    for i in range(len(SENTIMENTS) - 1):
        bucket = F.when(idx == i, F.lit(SENTIMENTS[i])).otherwise(bucket)
    return (
        df.withColumn("sentiment_score", comparative.cast("float"))
        .withColumn("sentiment", bucket)
        .drop("_sent_head", "_sent_padded")
    )


#: ``PostcodeAnalyser.java:46`` — UK postcode with space separator
POSTCODE_REGEX = r"[A-Z]{1,2}[0-9R][0-9A-Z]? [0-9][ABD-HJLNP-UW-Z]{2}"


def postcode_extract(df: DataFrame, text_col: str) -> DataFrame:
    """UK postcode + district extraction (``PostcodeAnalyser.java:67-77``):
    distinct matches of the postcode pattern; district = the outward code
    (text before the space).  Sorted arrays for determinism."""
    pcs = F.array_sort(F.array_distinct(
        F.regexp_extract_all(F.col(text_col), F.lit(POSTCODE_REGEX), 0)
    ))
    districts = F.array_sort(F.array_distinct(
        F.transform(pcs, lambda pc: F.substring_index(pc, " ", 1))
    ))
    return df.withColumn("postcode", pcs).withColumn("postcode_district", districts)


# postcode district → "lat,lng" geomapping (PostcodeGeomapper.java:45-66):
# the reference loads an open-data UK outcode gazetteer CSV
# (id,outcode,lat,lng) into a HashMap; Spark-first shape = a broadcast dim
# join against the exploded district array, not a driver-side dict.
def load_postcode_gazetteer(spark, path: str) -> DataFrame:
    """Read an ``id,outcode,lat,lng`` CSV (the PostcodeGeomapper resource
    format) into ``(outcode, location)`` rows with ``location = 'lat,lng'``
    — the Solr ``location`` (lat,lon) string type."""
    raw = spark.read.option("header", "true").csv(path)
    return raw.select(
        F.col("outcode"),
        F.concat_ws(",", F.col("lat"), F.col("lng")).alias("location"),
    )


def postcode_locations(
    df: DataFrame,
    gazetteer: DataFrame,
    district_col: str = "postcode_district",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Attach ``locations`` (array of ``'lat,lng'`` strings, sorted) by
    joining each extracted district against the broadcast gazetteer —
    ``PostcodeAnalyser.java:78-81``.  Districts without a gazetteer entry
    contribute nothing (the reference's null check).  One broadcast hash
    join, regrouped on ``id_cols`` — a REQUIRED unique, non-null row key
    (grouping on every column would both collide with a pre-existing
    ``locations`` column and silently drop rows with nulls in the
    null-unsafe regroup join)."""
    if not id_cols:
        raise ValueError("postcode_locations needs id_cols: a unique non-null row key")
    keys = list(id_cols)
    if "locations" in df.columns:
        df = df.drop("locations")
    exploded = df.select(*keys, F.explode_outer(F.col(district_col)).alias("_pcd"))
    joined = exploded.join(
        F.broadcast(gazetteer), exploded["_pcd"] == gazetteer["outcode"], "left"
    )
    locs = (
        joined.groupBy(*keys)
        .agg(
            F.array_sort(
                F.array_distinct(F.collect_list("location"))
            ).alias("locations")
        )
    )
    return df.join(locs, keys, "left")


def gopher_quality_filter(
    df: DataFrame,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    required_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style document quality gating (the published rule family from
    the Gopher dataset paper — word-count bounds, mean-word-length window,
    hash/ellipsis symbol ratio, bullet/ellipsis line ratios, alphabetic-word
    ratio, required-stopword floor), expressed entirely as codegen column
    expressions so a SQL oracle can mirror every rule.

    Adds one boolean per rule plus ``gopher_pass`` (the conjunction) — keep
    the flags rather than filtering so downstream can audit WHY a document
    dropped (the standard training-pipeline practice)."""
    # projection barrier: the rule flags reference the text column ~25×;
    # when it is a computed expression (e.g. the c4 clean_text), collapse
    # would inline its tree into every reference (same rationale as lang_id)
    df = df.filter(F.spark_partition_id() >= 0)
    flag_cols, gate = _gopher_exprs(
        text_col, min_words, max_words, min_mean_word_len, max_mean_word_len,
        max_symbol_word_ratio, max_ellipsis_line_ratio, min_alpha_word_ratio,
        required_stopwords,
    )
    return df.select("*", *flag_cols).withColumn("gopher_pass", gate)


@column_memo(maxsize=64)
def _gopher_exprs(
    text_col: str,
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_word_ratio: float,
    max_ellipsis_line_ratio: float,
    min_alpha_word_ratio: float,
    required_stopwords: int,
):
    text = F.col(text_col)
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(words)
    mean_len = (F.length(F.regexp_replace(text, r"\s+", "")).cast("double")
                / n_words)
    hash_count = F.length(F.regexp_replace(text, r"[^#]", ""))
    ellipsis_count = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    lines = F.split(text, r"\n")
    n_lines = F.size(lines)
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.startswith("-") | l.startswith("*")
                 | l.startswith("•"))
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    stop_hits = None
    # the Gopher stopword list (public paper §A1.1)
    for wd in ["the", "be", "to", "of", "and", "that", "have", "with"]:
        hit = (_occurrences(padded, f" {wd} ") > 0).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    flag_cols = (
        (n_words >= min_words).alias("gq_min_words"),
        (n_words <= max_words).alias("gq_max_words"),
        ((mean_len >= min_mean_word_len)
         & (mean_len <= max_mean_word_len)).alias("gq_mean_word_len"),
        (((hash_count + ellipsis_count) / n_words)
         <= max_symbol_word_ratio).alias("gq_symbol_ratio"),
        ((ellipsis_lines.cast("double") / n_lines)
         <= max_ellipsis_line_ratio).alias("gq_ellipsis_lines"),
        ((bullet_lines.cast("double") / n_lines) <= 0.9).alias("gq_bullet_lines"),
        ((alpha_words.cast("double") / n_words)
         >= min_alpha_word_ratio).alias("gq_alpha_words"),
        (stop_hits >= required_stopwords).alias("gq_stopwords"),
    )
    gate = F.lit(True)
    for c in ("gq_min_words", "gq_max_words", "gq_mean_word_len",
              "gq_symbol_ratio", "gq_ellipsis_lines", "gq_bullet_lines",
              "gq_alpha_words", "gq_stopwords"):
        gate = gate & F.col(c)
    return flag_cols, gate


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Repetition measures from the Gopher paper's rep-removal family, as
    oracle-mirrorable expressions:

    - ``dup_line_fraction``      — 1 − distinct/total over non-empty lines
      (array expressions, no shuffle)
    - ``dup_line_char_fraction`` — fraction of characters sitting in lines
      that are duplicates of an earlier identical line
    - ``top_word_char_fraction`` — characters of the single most frequent
      word over all word characters, ties to the lexicographically
      smallest word for determinism

    All three are PURE per-row array expressions — no shuffle, no join.
    The top-word argmax folds a run-length scan over the sorted word array
    (``array_sort`` + one ``aggregate``): identical counts to the previous
    explode → groupBy(id, w) → groupBy(id) → join-back shape, which cost
    three exchanges and re-executed the upstream pipeline on both join
    sides (r6, guide §2.4).  Ascending word order + strictly-greater run
    updates reproduce the old (count desc, word asc) tie rule exactly.
    Input columns are preserved, so callers no longer need an id join to
    recover carried fields."""
    # projection barrier — same rationale as gopher_quality_filter/lang_id
    df = df.filter(F.spark_partition_id() >= 0)
    dup_line, dup_char, scan, top_fraction = _repetition_exprs(text_col)
    return (
        df.withColumn("dup_line_fraction", dup_line)
        .withColumn("dup_line_char_fraction", dup_char)
        .withColumn("_rs", scan)
        .withColumn("top_word_char_fraction", top_fraction)
        .drop("_rs")
    )


@column_memo(maxsize=64)
def _repetition_exprs(text_col: str):
    text = F.col(text_col)
    lines = F.filter(F.split(text, r"\n"), lambda l: F.trim(l) != "")
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    line_chars = F.aggregate(
        F.transform(lines, lambda l: F.length(l)), F.lit(0), lambda s, v: s + v
    )
    distinct_chars = F.aggregate(
        F.transform(F.array_distinct(lines), lambda l: F.length(l)),
        F.lit(0), lambda s, v: s + v,
    )
    ws = F.array_sort(
        F.filter(F.split(F.trim(F.lower(text)), r"\s+"), lambda w: w != "")
    )
    all_chars = F.aggregate(
        F.transform(ws, lambda w: F.length(w)), F.lit(0), lambda s, v: s + v
    )
    # run-length argmax over the sorted words: acc carries (previous word,
    # current run length, best count, best word); equal runs do NOT replace
    # the best, so the first (lexicographically smallest) max-count word wins
    scan = F.aggregate(
        ws,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best_c"),
            F.lit(None).cast("string").alias("best_w"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best_c"],
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best_c"),
            F.when(
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                > acc["best_c"],
                w,
            ).otherwise(acc["best_w"]).alias("best_w"),
        ),
    )
    top_fraction = F.when(
        (all_chars > 0) & (F.col("_rs.best_c") > 0),
        F.round(
            F.col("_rs.best_c") * F.length(F.col("_rs.best_w")) / all_chars, 6
        ),
    ).otherwise(F.lit(0.0))
    dup_line = F.when(n_lines > 0, (n_lines - n_distinct) / n_lines).otherwise(
        F.lit(0.0)
    )
    dup_char = F.when(
        line_chars > 0, (line_chars - distinct_chars) / line_chars
    ).otherwise(F.lit(0.0))
    return dup_line, dup_char, scan, top_fraction


def c4_line_filter(
    df: DataFrame,
    text_col: str,
    min_words_per_line: int = 3,
    out_col: str = "clean_text",
) -> DataFrame:
    """C4-style line-level cleaning (the public C4 paper's rules) as pure
    array expressions: keep only lines that end in terminal punctuation
    (. ! ? or closing quote) and have at least ``min_words_per_line`` words;
    drop any line containing curly braces (code), 'lorem ipsum', or
    'javascript' boilerplate; drop the whole document when the word
    'javascript'-cookie wall pattern leaves nothing.  Adds ``out_col``
    (kept lines re-joined), ``c4_lines_kept``/``c4_lines_total`` counters
    for auditability."""
    return df.select(
        "*", *_c4_exprs(text_col, min_words_per_line, out_col)
    )


@column_memo(maxsize=64)
def _c4_exprs(text_col: str, min_words_per_line: int, out_col: str):
    text = F.col(text_col)
    lines = F.filter(F.split(text, r"\n"), lambda l: F.trim(l) != "")
    trimmed = F.transform(lines, lambda l: F.trim(l))

    def keep(l):
        ends_ok = l.rlike("""[.!?]["']?$""")
        enough_words = F.size(F.split(l, r"\s+")) >= min_words_per_line
        lower = F.lower(l)
        return (
            ends_ok & enough_words
            & ~l.contains("{") & ~l.contains("}")
            & ~lower.contains("lorem ipsum")
            & ~lower.contains("javascript")
        )

    kept = F.filter(trimmed, keep)
    return (
        F.array_join(kept, "\n").alias(out_col),
        F.size(kept).alias("c4_lines_kept"),
        F.size(trimmed).alias("c4_lines_total"),
    )


#: PII patterns (the standard training-pipeline scrub set): emails, IPv4
#: addresses, and international-ish phone numbers.  Conservative by design —
#: favors precision (substitution tokens in running text are costly).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+\d{1,3}[ -]?\(?\d{1,4}\)?(?:[ -]?\d{2,4}){2,3}",
}


def redact_pii(
    df: DataFrame,
    text_col: str,
    out_col: str = "redacted_text",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Redact PII spans with ``[TYPE]`` tokens and count each type —
    the standard pre-training scrub stage, as pure codegen
    ``regexp_replace``/``regexp_count`` (one projection, no UDF, no
    shuffle; an external SQL oracle mirrors the same regexes).  Patterns
    apply in dict order (email before ip/phone so ``user@host`` is never
    half-eaten by the broader patterns), and each type's count is taken on
    the PROGRESSIVELY-redacted text — immediately before its own replace —
    so overlapping spans never double-count (an IP inside an
    already-redacted email no longer increments ``pii_ip_count``) and every
    count equals the number of substitutions actually made."""
    pats = patterns or PII_PATTERNS
    cols = []
    red = F.col(text_col)
    for name, rx in pats.items():
        cols.append(F.regexp_count(red, F.lit(rx)).cast("int").alias(f"pii_{name}_count"))
        red = F.regexp_replace(red, rx, f"[{name.upper()}]")
    return df.select("*", *cols, red.alias(out_col))


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_dup: int = 2,
    keep_first: bool = False,
    normalize: bool = True,
    out_col: str = "line_dedup_text",
) -> DataFrame:
    """Corpus-level line deduplication (the CCNet/RefinedWeb pre-dedup
    stage: identical lines repeated across documents are site boilerplate —
    nav menus, cookie banners, footers — and are removed from EVERY document
    before document-level dedup ever runs).

    Matching key: the trimmed line, optionally normalized (lowercase +
    digits→0 + whitespace collapse, the CCNet hashing normalization) —
    removal always splices out the ORIGINAL line, normalization only decides
    equality.  Blank lines are never counted or removed (they'd be the
    hottest key in the corpus and carry no signal).  With
    ``keep_first=False`` every occurrence of a line seen ≥ ``min_dup``
    times is dropped; with ``keep_first=True`` the single first occurrence
    (by ``(id, line position)``) survives.

    Plan shape (scale path): explode lines → ONE hash aggregate keyed on
    ``xxhash64(normalized line)`` producing the duplicate-line table
    (count ≥ min_dup — a small fraction of distinct lines, so the join
    back is the small side) → join + filter → ONE doc-keyed aggregate
    rebuilding the text in line order.  Two key-parallel shuffles total;
    the line-count aggregate does map-side partial aggregation, so a
    hot line (the same cookie banner on 1e9 pages) arrives at its reducer
    as one partial row per upstream partition, not 1e9 rows.

    Adds ``out_col`` (surviving lines re-joined), ``lines_total``,
    ``lines_removed``.  Documents whose every line is removed keep an empty
    string (attribution stays with the caller, as in ``c4_line_filter``)."""
    idc = F.col(id_col)
    lines = df.select(
        idc.alias("_id"),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("_pos", "_line"),
    )
    key_src = F.trim(F.col("_line"))
    if normalize:
        key_src = F.regexp_replace(F.lower(key_src), r"\d", "0")
        key_src = F.regexp_replace(key_src, r"\s+", " ")
    lines = lines.withColumn("_key", F.xxhash64(key_src)).withColumn(
        "_blank", F.trim(F.col("_line")) == ""
    )
    counted = (
        lines.filter(~F.col("_blank"))
        .groupBy("_key")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct("_id", "_pos")).alias("_first"),
        )
        .filter(F.col("_n") >= min_dup)
    )
    joined = lines.join(counted, "_key", "left")
    if keep_first:
        drop = F.col("_n").isNotNull() & ~(
            (F.col("_first._id") == F.col("_id"))
            & (F.col("_first._pos") == F.col("_pos"))
        )
    else:
        drop = F.col("_n").isNotNull()
    drop = drop & ~F.col("_blank")
    survivors = joined.withColumn("_drop", drop)
    rebuilt = survivors.groupBy(F.col("_id")).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("_drop"), F.struct("_pos", "_line"))
                    )
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias(out_col),
        F.count(F.lit(1)).cast("int").alias("lines_total"),
        F.sum(F.col("_drop").cast("int")).cast("int").alias("lines_removed"),
    )
    return df.join(
        rebuilt.withColumnRenamed("_id", id_col), id_col, "inner"
    )
