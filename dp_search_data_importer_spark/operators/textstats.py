"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting — the per-doc curation stages of a training-data
pipeline. All pure Catalyst expressions (whole-stage codegen; zero Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dp_search_data_importer_spark.config import ENGLISH_STOPWORDS
from dp_search_data_importer_spark.functions.tokenize import tokenize_expr

# round-1 minimal marker profiles, kept as the cheap fallback profile
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "as"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es": ("el", "la", "los", "las", "es", "y", "en", "que", "por", "con"),
    "fr": ("le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"),
}

# full profiles: the top function words of each language (public linguistic
# knowledge — the same rank-order-statistics idea as Cavnar–Trenkle 1994,
# applied at word granularity) plus each language's characteristic
# diacritics. Words score double, diacritic characters single; argmax with
# declaration-order tie-break. Everything is a join-free Catalyst
# projection over a broadcast-literal dictionary and is expressible 1:1 in
# ANSI-ish SQL for the DuckDB oracle.
LANG_PROFILES: dict[str, tuple[tuple[str, ...], str]] = {
    "en": (("the", "and", "of", "to", "in", "is", "that", "for", "with",
            "as", "it", "on", "be", "are", "this", "was", "by", "at",
            "have", "from", "or", "an", "not", "but", "they", "which",
            "you", "we", "his", "her"), ""),
    "de": (("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
            "eine", "zu", "den", "von", "im", "für", "auf", "des", "dem",
            "sich", "auch", "werden", "aus", "bei", "nach", "wird", "sind",
            "oder", "wie", "über", "als", "er"), "äöüß"),
    "es": (("el", "la", "los", "las", "es", "y", "en", "que", "por", "con",
            "un", "una", "del", "se", "no", "para", "su", "al", "lo",
            "como", "más", "pero", "sus", "le", "ya", "está", "son",
            "entre", "cuando", "muy"), "ñ¿¡áéíóú"),
    "fr": (("le", "la", "les", "et", "est", "dans", "pour", "que", "une",
            "des", "un", "du", "de", "il", "elle", "au", "aux", "ce",
            "cette", "qui", "ne", "pas", "sur", "avec", "son", "plus",
            "se", "sont", "être", "par"), "éèêàçôû"),
    "it": (("il", "la", "le", "e", "è", "di", "che", "per", "con", "un",
            "una", "del", "della", "si", "non", "sono", "da", "come",
            "anche", "più", "nel", "alla", "gli", "lo", "ma", "se",
            "questo", "hanno", "essere", "al"), "àèìòù"),
    "pt": (("o", "a", "os", "as", "e", "é", "de", "do", "da", "que",
            "para", "com", "um", "uma", "não", "se", "por", "mais", "dos",
            "como", "mas", "foi", "ao", "ele", "das", "tem", "seu", "sua",
            "ou", "ser"), "ãõçâê"),
    "nl": (("de", "het", "een", "en", "van", "is", "dat", "op", "te",
            "zijn", "voor", "met", "als", "aan", "er", "maar", "om",
            "ook", "door", "naar", "bij", "uit", "dan", "over", "geen",
            "niet", "tot", "worden", "wordt", "deze"), ""),
    "sv": (("och", "att", "det", "som", "en", "på", "är", "av", "för",
            "med", "den", "till", "inte", "om", "har", "de", "ett", "han",
            "men", "var", "sig", "från", "vi", "så", "kan", "när",
            "efter", "eller", "nu", "under"), "åäö"),
}

# unicode-aware token split for langid (the index analyzer's [^a-z0-9]+
# would split accented words apart); identical RE2/Java semantics
LANGID_SPLIT_REGEX = r"[^\p{L}0-9]+"

# ---------------------------------------------------------------------------
# v3 profiles: 25 languages incl. non-Latin scripts (round-3 upgrade).
# Evidence model, all public linguistic knowledge (Cavnar–Trenkle-style
# rank evidence, simplified to three Catalyst-friendly signal classes):
#   score = 2·function-word hits + 1·diacritic chars
#         + Σ_script weight·script-block chars + 3·distinctive-letter chars
# argmax with declaration-order tie-break, 'und' on zero/negative evidence.
# Scripts are Unicode block ranges — countable by one regexp_count per
# class in BOTH Java regex (Spark) and RE2 (DuckDB), so the oracle twin is
# generated from these same tables.
# ---------------------------------------------------------------------------

SCRIPT_RANGES: dict[str, tuple[tuple[int, int], ...]] = {
    "han": ((0x4E00, 0x9FFF),),
    "kana": ((0x3040, 0x309F), (0x30A0, 0x30FF)),
    "hangul": ((0xAC00, 0xD7AF),),
    "arabic": ((0x0600, 0x06FF),),
    "hebrew": ((0x0590, 0x05FF),),
    "cyrillic": ((0x0400, 0x04FF),),
    "greek": ((0x0370, 0x03FF),),
    "devanagari": ((0x0900, 0x097F),),
    "thai": ((0x0E00, 0x0E7F),),
}

# lang → (function words ×2, diacritics ×1, {script: weight}, markers ×3)
LANG_PROFILES_V3: dict[str, tuple[tuple[str, ...], str, dict[str, int], str]] = {
    "en": (LANG_PROFILES["en"][0], "", {}, ""),
    "de": (LANG_PROFILES["de"][0], "äöüß", {}, ""),
    "es": (LANG_PROFILES["es"][0], "ñ¿¡áéíóú", {}, ""),
    "fr": (LANG_PROFILES["fr"][0], "éèêàçôû", {}, ""),
    "it": (LANG_PROFILES["it"][0], "àèìòù", {}, ""),
    "pt": (LANG_PROFILES["pt"][0], "ãõçâê", {}, ""),
    "nl": (LANG_PROFILES["nl"][0], "", {}, ""),
    "sv": (LANG_PROFILES["sv"][0], "åäö", {}, ""),
    "da": (("og", "i", "at", "det", "er", "en", "til", "på", "de", "af",
            "den", "for", "med", "som", "der", "ikke", "han", "hun", "var",
            "et", "om", "men", "sig", "har", "vi", "kan", "jeg", "du",
            "skal", "vil"), "æø", {}, ""),
    "fi": (("ja", "on", "ei", "se", "että", "hän", "oli", "mutta", "kun",
            "ovat", "olla", "myös", "niin", "kuin", "jos", "tämä", "mitä",
            "ole", "sen", "vain", "joka", "hyvin", "minä", "sinä", "me",
            "he", "nyt", "sitten", "vielä", "jo"), "äö", {}, ""),
    "pl": (("i", "w", "z", "na", "się", "jest", "nie", "do", "że", "to",
            "co", "jak", "po", "ale", "za", "od", "dla", "przez", "przy",
            "być", "są", "było", "tak", "ten", "ta", "już", "czy", "tylko",
            "może", "bardzo"), "ąćęłńśźż", {}, ""),
    "tr": (("ve", "bir", "bu", "da", "de", "için", "ile", "olarak", "çok",
            "daha", "gibi", "en", "ama", "veya", "sonra", "kadar", "her",
            "ne", "olan", "var", "yok", "ben", "sen", "biz", "onlar",
            "değil", "mi", "evet", "hayır", "ya"), "çğışöü", {}, ""),
    "ro": (("și", "în", "de", "la", "cu", "este", "pentru", "care", "pe",
            "nu", "se", "o", "un", "mai", "din", "sau", "dar", "ca", "să",
            "fi", "fost", "sunt", "am", "are", "el", "ea", "noi", "voi",
            "ei", "acest"), "ăâîșț", {}, ""),
    "cs": (("a", "v", "na", "je", "se", "že", "s", "z", "do", "o", "to",
            "jako", "ale", "i", "po", "od", "pro", "za", "při", "jsem",
            "byl", "být", "má", "co", "když", "tak", "ten", "už", "jen",
            "můžeme"), "ěščřžýáíéůú", {}, ""),
    # Cyrillic: shared-script base + language-specific letters + words
    "ru": (("и", "в", "не", "на", "я", "что", "он", "как", "это", "но",
            "ты", "мы", "его", "она", "так", "же", "был", "для", "с", "к",
            "у", "о", "из", "по", "а", "то", "все", "они", "есть", "быть"),
           "", {"cyrillic": 2}, "ыэъё"),
    "uk": (("і", "в", "не", "на", "що", "він", "як", "це", "але", "ти",
            "ми", "його", "вона", "так", "був", "для", "з", "у", "про",
            "та", "й", "до", "за", "або", "коли", "вже", "також", "може",
            "бути", "є"), "", {"cyrillic": 2}, "іїєґ"),
    "el": (("και", "το", "η", "ο", "του", "της", "να", "με", "για", "από",
            "στο", "είναι", "που", "τα", "δεν", "θα", "μια", "ένα", "αυτό",
            "τον"), "", {"greek": 2}, ""),
    "he": ((), "", {"hebrew": 2}, ""),
    "ar": ((), "", {"arabic": 2}, "ةيأإءؤ"),
    "fa": ((), "", {"arabic": 2}, "پچژگیک"),
    "hi": ((), "", {"devanagari": 2}, ""),
    "th": ((), "", {"thai": 2}, ""),
    "ko": ((), "", {"hangul": 2}, ""),
    "ja": ((), "", {"kana": 2, "han": 1}, ""),
    "zh": ((), "", {"han": 2, "kana": -3}, ""),
}


def _hits(toks: Column, words: tuple[str, ...]) -> Column:
    wl = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))


def langid_expr(text: Column) -> Column:
    """Round-1 fallback: best-scoring language by 10-marker hits over the
    ascii analyzer; 'und' when nothing matches."""
    toks = tokenize_expr(text)
    return _argmax_lang([(lang, _hits(toks, ws))
                         for lang, ws in LANG_MARKERS.items()])


def langid_expr_full(text: Column) -> Column:
    """Full-profile language ID: 2×function-word hits + diacritic hits,
    argmax over 8 languages, declaration-order tie-break, 'und' on zero
    evidence. Join-free Catalyst projection (broadcast-literal profiles)."""
    lowered = F.lower(text)
    toks = F.filter(F.split(lowered, LANGID_SPLIT_REGEX),
                    lambda t: t != F.lit(""))
    score_cols = []
    for lang, (words, chars) in LANG_PROFILES.items():
        s = _hits(toks, words) * 2
        if chars:
            s = s + F.regexp_count(lowered, F.lit(f"[{chars}]"))
        score_cols.append((lang, s))
    return _argmax_lang(score_cols)


def script_class_regex(ranges: tuple[tuple[int, int], ...]) -> str:
    """Java-regex character class for a set of code-point ranges (the
    DuckDB oracle emits the same ranges in RE2 ``\\x{...}`` syntax)."""
    return "[" + "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in ranges) + "]"


def _langid_v3_scores(text: Column) -> list[tuple[str, Column]]:
    """Per-language evidence scores for the v3 profile (see
    LANG_PROFILES_V3) as (lang, score Column) pairs, declaration order."""
    lowered = F.lower(text)
    toks = F.filter(F.split(lowered, LANGID_SPLIT_REGEX),
                    lambda t: t != F.lit(""))
    script_counts = {
        name: F.regexp_count(lowered, F.lit(script_class_regex(ranges)))
        for name, ranges in SCRIPT_RANGES.items()
    }
    score_cols = []
    for lang, (words, chars, scripts, markers) in LANG_PROFILES_V3.items():
        s = F.lit(0)
        if words:
            s = s + _hits(toks, words) * 2
        if chars:
            s = s + F.regexp_count(lowered, F.lit(f"[{chars}]"))
        for script, wgt in scripts.items():
            s = s + script_counts[script] * F.lit(wgt)
        if markers:
            s = s + F.regexp_count(lowered, F.lit(f"[{markers}]")) * 3
        score_cols.append((lang, s))
    return score_cols


def _argmax_lang(score_cols: list[tuple[str, Column]]) -> Column:
    """The first language, in declaration order, with the highest score;
    'und' unless that score is > 0 (a null score, from null text, is 0).
    A fold over (score, lang) pairs that takes only a strictly higher
    score, so each score subtree appears once. A when-chain against
    ``greatest`` repeats every score in every branch: for v3 inlined,
    ~27k nodes that the optimizer walks on each of its passes."""
    pairs = F.array(*[
        F.struct(F.coalesce(s, F.lit(0)).cast("long").alias("s"),
                 F.lit(lang).alias("lang"))
        for lang, s in score_cols])
    return F.aggregate(
        pairs,
        F.struct(F.lit(0).cast("long").alias("s"), F.lit("und").alias("lang")),
        lambda best, x: F.when(x["s"] > best["s"], x).otherwise(best),
        lambda best: best["lang"])


def langid_expr_v3(text: Column) -> Column:
    """25-language ID (round 3): function words + diacritics + Unicode
    script-block evidence + distinctive letters (see LANG_PROFILES_V3).
    Join-free Catalyst projection; argmax with declaration-order
    tie-break; 'und' on zero evidence. Handles CJK (zh/ja split on kana),
    Korean, Arabic vs Persian (distinctive letters), Hebrew, Cyrillic
    (ru/uk), Greek, Devanagari, Thai, and 14 Latin-script languages."""
    return _argmax_lang(_langid_v3_scores(text))


# Constructed langid Columns, keyed by (profile, text column name). The
# 25-language scorer is ~2,000 Column operations — each a py4j round trip —
# so CONSTRUCTION alone measured 1.5 s per call (the execution under a
# pruning action was 0.17 s). The expression is a pure function of
# (profile, column name); building it once per process removes that driver
# cost from every later call (guide §1.2 step 2: per-task — here per-call —
# work, after the plan shape is right). This memoizes an unresolved
# expression object, never data or results.
_LANGID_EXPR_CACHE: dict[tuple[str, str], Column] = {}


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                profile: str = "v3") -> DataFrame:
    """(doc_id, lang_guess). ``profile="v3"`` (default) scores 25 languages
    incl. CJK/Arabic/Hebrew/Cyrillic/Greek/Devanagari/Thai via script +
    marker + function-word evidence; ``"full"`` is the round-2 8-language
    Latin profile; ``"markers"`` the round-1 4×10-marker fallback."""
    key = (profile, text_col)
    if key not in _LANGID_EXPR_CACHE:
        expr = {"v3": langid_expr_v3, "full": langid_expr_full,
                "markers": langid_expr}[profile]
        _LANGID_EXPR_CACHE[key] = expr(F.col(text_col))
    return df.select(F.col(id_col).alias("doc_id"),
                     _LANGID_EXPR_CACHE[key].alias("lang_guess"))


def token_counts(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens, analyzer tokens, and BPE-ish subword count
    (alpha runs + digit runs + other marks, the classic pre-tokenizer
    regex) — all via regexp_count / split, JVM-side."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(F.split(t, r"\s+"), lambda x: x != F.lit("")))
        .cast("long").alias("ws_tokens"),
        F.size(tokenize_expr(t)).cast("long").alias("analyzer_tokens"),
        F.regexp_count(F.lower(t), F.lit("[a-z]+|[0-9]+"))
        .cast("long").alias("bpeish_tokens"),
    )


def quality_scores(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Heuristic doc-quality features + a composite score in [0, 1]:
    length band, stopword ratio band, mean token length band — the
    C4/Gopher-style rule family, expressed as one Catalyst projection."""
    toks = tokenize_expr(F.col(text_col))
    sw = F.array(*[F.lit(w) for w in sorted(ENGLISH_STOPWORDS)])
    n = F.size(toks)
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    mean_len = F.when(
        n > 0,
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / n,
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n > 0, n_sw.cast("double") / n).otherwise(F.lit(0.0))
    score = (
        F.when((n >= 20) & (n <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_len >= 2.0) & (mean_len <= 12.0), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when((stop_ratio >= 0.01) & (stop_ratio <= 0.6), F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n_tokens"),
        F.round(mean_len, 4).alias("mean_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 2).alias("quality_score"),
    )


def doc_fingerprints(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Content-defined fingerprint: md5 over the sorted distinct term set —
    invariant to token order/duplication (bag-of-words identity), plus the
    exact md5. Both engine- and SQL-expressible for the oracle."""
    toks = tokenize_expr(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("exact_md5"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
        .alias("termset_md5"),
    )


# pattern sources: RFC-5322-lite email, dotted-quad IPv4, E.164-ish phone —
# the C4/CCNet-style PII screens (counts, not extraction: the filter decision
# needs rates; redaction is a downstream regexp_replace with the same exprs)
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE_RE = r"\+?\d[\d\s().-]{7,}\d"


def pii_stats(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Per-doc PII signal counts (emails, IPv4s, phone-like runs) — the
    screening stage of a C4-style curation pipeline, pure Catalyst
    regexp_count (JVM regex, whole-stage codegen). The phone screen is an
    intentionally aggressive digit-run detector: long dotted/spaced digit
    sequences (incl. IPv4s) also trip it — for FILTERING that is the right
    bias; redaction pipelines should apply the specific patterns first."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("long").alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
    )


def pii_redact(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """PII anonymization keep-pass (the ROOTS / StarCoder-style redaction
    step pretraining corpora apply after the ``pii_stats`` screen):
    replace emails → IPv4s → phone-like digit runs with typed
    placeholders, in that FIXED order — emails first so the phone
    detector cannot eat an address's digit run, IPs before phones so a
    dotted quad redacts as ``<IP>`` not ``<PHONE>`` — which also makes
    the per-type counts well-defined (each counted on the text AFTER the
    preceding replacements). One Catalyst projection of chained
    regexp_replace/regexp_count: zero shuffle, zero Python, whole-stage
    codegen at any corpus size. Returns (doc_id, clean_text, n_emails,
    n_ipv4, n_phones)."""
    t0 = F.col(text_col)
    n_em = F.regexp_count(t0, F.lit(PII_EMAIL_RE))
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    n_ip = F.regexp_count(t1, F.lit(PII_IPV4_RE))
    t2 = F.regexp_replace(t1, PII_IPV4_RE, "<IP>")
    n_ph = F.regexp_count(t2, F.lit(PII_PHONE_RE))
    t3 = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col).alias("doc_id"),
        t3.alias("clean_text"),
        n_em.cast("long").alias("n_emails"),
        n_ip.cast("long").alias("n_ipv4"),
        n_ph.cast("long").alias("n_phones"),
    )


def strip_html_expr(text: Column) -> Column:
    """Boilerplate cleanup: drop script/style elements wholesale, strip
    remaining tags, decode the five core entities, collapse whitespace —
    a chain of regexp_replace (JVM-side), the C4 text-extraction stand-in."""
    # two passes instead of a backreference (</\1>): RE2-class engines
    # (the DuckDB oracle) have no backreferences; behavior is identical
    t = F.regexp_replace(text, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&amp;", "&")):
        t = F.regexp_replace(t, ent, ch)
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def strip_html(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    return df.select(F.col(id_col).alias("doc_id"),
                     strip_html_expr(F.col(text_col)).alias("clean_text"))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): duplicate-
    line fraction and the fraction of tokens covered by the most frequent
    word 2-gram / 3-gram. High values mark boilerplate/spam for filtering.
    Line stats are a pure projection; n-gram modes are explode + two-level
    aggs (map-side partials), joined back per doc."""
    t = F.col(text_col)
    lines = F.filter(F.split(t, "\n"), lambda x: x != F.lit(""))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.when(F.size(lines) > 0,
               F.round(F.lit(1.0) - F.size(F.array_distinct(lines))
                       / F.size(lines).cast("double"), 4))
        .otherwise(F.lit(0.0)).alias("dup_line_frac"),
        tokenize_expr(t).alias("toks"),
    )

    def top_gram_frac(n: int, out: str) -> DataFrame:
        m = F.size(F.col("toks")) - (n - 1)
        grams = F.when(
            m >= 1,
            F.transform(F.sequence(F.lit(1), m),
                        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n))),
        ).otherwise(F.array().cast("array<string>"))
        exploded = base.select("doc_id", F.explode(grams).alias("g"))
        per_gram = exploded.groupBy("doc_id", "g").agg(
            F.count(F.lit(1)).alias("c"))
        return per_gram.groupBy("doc_id").agg(
            F.round(F.max("c") / F.sum("c").cast("double"), 4).alias(out))

    out = (
        base.select("doc_id", "dup_line_frac")
        .join(top_gram_frac(2, "top_2gram_frac"), "doc_id", "left")
        .join(top_gram_frac(3, "top_3gram_frac"), "doc_id", "left")
    )
    return out.select(
        "doc_id", "dup_line_frac",
        F.coalesce("top_2gram_frac", F.lit(0.0)).alias("top_2gram_frac"),
        F.coalesce("top_3gram_frac", F.lit(0.0)).alias("top_3gram_frac"),
    )


def winnowing_py(text: str, k: int = 5, window: int = 4) -> list[int]:
    """Pure-numpy winnowing kernel (also the test reference): k-gram hashes
    (md5-derived, deterministic cross-platform), sliding-window min, distinct."""
    import hashlib

    import numpy as np

    from dp_search_data_importer_spark.functions.tokenize import _simple_tokens_py

    toks = _simple_tokens_py(text or "")
    if len(toks) < k:
        return []
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    h = np.array(
        [int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big") for g in grams],
        dtype=np.uint64,
    )
    if len(h) < window:
        mins = np.array([h.min()], dtype=np.uint64)
    else:
        sw = np.lib.stride_tricks.sliding_window_view(h, window)
        mins = sw.min(axis=1)
    return sorted({int(x.astype(np.int64)) for x in mins})


def hex16_to_long(hex_col: Column) -> Column:
    """16 hex chars → the same 64 bits as a SIGNED long, pure Catalyst:
    conv() each 8-hex half (fits in 32 bits, no unsigned overflow), then
    shiftleft|or reassembles the word — shiftleft is a bit op, so the sign
    bit lands naturally without ANSI overflow errors."""
    hi = F.conv(F.substring(hex_col, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hex_col, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def winnowing_fingerprints(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 5,
                           window: int = 4) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003): k-gram hashes,
    min per sliding window of w, distinct mins = the doc's fingerprint set.
    Returns exploded (doc_id, fp) rows for fingerprint-level joins.

    Zero Python and zero shuffle on the data path (a previous Arrow/numpy
    kernel hashed every k-gram with hashlib.md5 in a Python loop — per-token
    Python on the hot path). The whole computation is per-doc array algebra
    in one NARROW projection: k-gram hashes via ``transform`` over start
    offsets (built-in JVM ``md5``, first 16 hex chars — fixed-width lowercase
    hex order ≡ unsigned numeric order, so mins compare as strings), sliding
    min via ``array_min`` over window slices, then distinct + explode. Only
    the distinct winners convert to signed longs. No window functions, so no
    doc_id exchange — the operator pipelines inside the scan stage, which is
    the shape that survives 100 TB (shuffle volume: zero). Single-level
    higher-order functions only (nested HOFs fall back to interpreted eval —
    measured pathological in round 1; this formulation doesn't).
    ``winnowing_py`` remains as the independent test kernel."""
    toks = tokenize_expr(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("toks"),
        F.size(toks).alias("n"),
    ).filter(F.col("n") >= k)

    # element_at + concat/least instead of slice + concat_ws/array_min:
    # O(1) reads with no per-element array allocation — measured 1.9× faster
    # in interpreted HOF eval (tools/bench_kernels.py)
    def _gram_hx(i):
        parts = []
        for j in range(k):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at(F.col("toks"), i + j))
        return F.substring(F.md5(F.concat(*parts)), 1, 16)

    hx = F.transform(F.sequence(F.lit(1), F.col("n") - (k - 1)), _gram_hx)
    grams = base.select(
        "doc_id", hx.alias("hx"), (F.col("n") - (k - 1)).alias("ng")
    )
    # full windows when ng >= window; a single truncated window (= the global
    # min) when the doc has fewer grams than the window — kernel parity
    mins_full = F.transform(
        F.sequence(F.lit(1), F.col("ng") - (window - 1)),
        lambda i: F.least(*[F.element_at(F.col("hx"), i + j)
                            for j in range(window)]),
    )
    mins = F.when(F.col("ng") >= window, mins_full).otherwise(
        F.array(F.array_min(F.col("hx"))))
    out = grams.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("min_hx")
    )
    return out.select("doc_id", hex16_to_long(F.col("min_hx")).alias("fp"))


def curation_verdicts(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      keep_langs: tuple[str, ...] = ("en",),
                      min_quality: float = 0.7,
                      max_dup_line_frac: float = 0.3) -> DataFrame:
    """The composed curation PASS (round 3): language gate + quality bands
    + PII screen + repetition screen fused into ONE Catalyst projection —
    zero joins, zero shuffles, one scan over the corpus. Output per doc:
    (doc_id, lang_guess, quality_score, pii_total, dup_line_frac,
    keep 0/1, reasons) where ``reasons`` is the comma-joined subset of
    {lang, quality, pii, repetition} that failed. This is the operator a
    100 TB pre-training pipeline actually runs: individual signals exist
    as separate operators for analysis, but filtering must not pay one
    pass per rule."""
    t = F.col(text_col)
    toks = tokenize_expr(t)
    sw = F.array(*[F.lit(w) for w in sorted(ENGLISH_STOPWORDS)])
    n = F.size(toks)
    n_sw = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    mean_len = F.when(
        n > 0,
        F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)).cast("double") / n,
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n > 0, n_sw.cast("double") / n).otherwise(F.lit(0.0))
    quality = F.round(
        F.when((n >= 20) & (n <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_len >= 2.0) & (mean_len <= 12.0), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when((stop_ratio >= 0.01) & (stop_ratio <= 0.6), F.lit(0.3)).otherwise(F.lit(0.0)),
        2)
    lang = langid_expr_v3(t)
    pii_total = (
        F.regexp_count(t, F.lit(PII_EMAIL_RE))
        + F.regexp_count(t, F.lit(PII_IPV4_RE))
        + F.regexp_count(t, F.lit(PII_PHONE_RE))
    ).cast("long")
    lines = F.filter(F.split(t, "\n"), lambda x: x != F.lit(""))
    dup_line = F.when(
        F.size(lines) > 0,
        F.round(F.lit(1.0) - F.size(F.array_distinct(lines))
                / F.size(lines).cast("double"), 4),
    ).otherwise(F.lit(0.0))

    out = df.select(
        F.col(id_col).alias("doc_id"),
        lang.alias("lang_guess"),
        quality.alias("quality_score"),
        pii_total.alias("pii_total"),
        dup_line.alias("dup_line_frac"),
    )
    bad_lang = ~F.col("lang_guess").isin(list(keep_langs))
    bad_quality = F.col("quality_score") < F.lit(min_quality)
    bad_pii = F.col("pii_total") > 0
    bad_rep = F.col("dup_line_frac") > F.lit(max_dup_line_frac)
    # concat_ws skips NULLs in BOTH Spark and the DuckDB oracle, so the
    # reasons string composes without array machinery
    reasons = F.concat_ws(
        ",",
        F.when(bad_lang, F.lit("lang")),
        F.when(bad_quality, F.lit("quality")),
        F.when(bad_pii, F.lit("pii")),
        F.when(bad_rep, F.lit("repetition")),
    )
    return out.select(
        "*",
        (~(bad_lang | bad_quality | bad_pii | bad_rep)).cast("long").alias("keep"),
        reasons.alias("reasons"),
    )


def stratified_sample(df, rates: dict[str, float], key_col: str = "source",
                      id_col: str = "doc_id", salt: str = "mix1"):
    """Deterministic stratified sampling — the domain-mixing operator of a
    training-data pipeline (down/up-weight sources to target proportions):
    keep a row iff ``bucket(id) < rate(source)·10000`` where the bucket is
    an md5-derived uniform hash of (salt, id). Engine-replayable: md5 is
    identical everywhere, so the SAME rows are kept on any engine, any
    partitioning, any run (the oracle recomputes the identical buckets in
    SQL — same trick as the MinHash permutations). Changing ``salt``
    draws an independent sample. Pure Catalyst projection + filter; zero
    shuffle."""
    from pyspark.sql import functions as F

    bucket = (
        F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(salt),
                                             F.col(id_col).cast("string"))),
                           1, 8), 16, 10).cast("long") % 10000
    )
    rate_expr = None
    for key, rate in rates.items():
        this = F.when(F.col(key_col) == key, F.lit(int(round(rate * 10000))))
        rate_expr = this if rate_expr is None else rate_expr.when(
            F.col(key_col) == key, F.lit(int(round(rate * 10000))))
    rate_expr = rate_expr.otherwise(F.lit(0))
    return df.withColumn("_bucket", bucket).filter(
        F.col("_bucket") < rate_expr).drop("_bucket")


def train_bigram_lm(docs: DataFrame, text_col: str = "text",
                    top_bigrams: int | None = None):
    """Train the corpus LM for :func:`lm_perplexity` — the CCNet-style
    quality filter (Wenzek et al. 2020 train a KenLM and keep the
    middle perplexity band; Rae et al. 2021 use the same signal): here a
    bigram model with unigram backoff, fully distributed.

    Returns ``(unigrams, bigrams)``: (w, count) and (w1, w2, count)
    frames — each ONE hash aggregation over exploded token frames
    (map-side partials, uniform term keys; the same shuffle discipline
    as the postings build). ``top_bigrams`` caps the bigram table by
    count (ties broken by (w1, w2) for determinism) — the bounded-LM
    form for corpora whose bigram vocabulary would not fit a broadcast;
    pruned bigrams fall back to the unigram path at query time.
    """
    from dp_search_data_importer_spark.functions.tokenize import (
        tokenize_expr,
    )

    toks = docs.select(tokenize_expr(F.col(text_col)).alias("t"))
    unigrams = (toks.select(F.explode("t").alias("w"))
                .groupBy("w").agg(F.count(F.lit(1)).alias("count")))
    pairs = toks.select(F.explode(F.arrays_zip(
        F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0)))
        .alias("w1"),
        F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0)))
        .alias("w2"))).alias("p"))
    bigrams = (pairs.select(F.col("p.w1").alias("w1"),
                            F.col("p.w2").alias("w2"))
               .groupBy("w1", "w2")
               .agg(F.count(F.lit(1)).alias("count")))
    if top_bigrams is not None:
        bigrams = (bigrams.orderBy(F.col("count").desc(),
                                   F.col("w1").asc(), F.col("w2").asc())
                   .limit(int(top_bigrams)))
    return unigrams, bigrams


def lm_perplexity(docs: DataFrame, unigrams: DataFrame,
                  bigrams: DataFrame, *, text_col: str = "text",
                  id_col: str = "doc_id", alpha: float = 0.4,
                  broadcast_limit: int = 2_000_000) -> DataFrame:
    """Per-document bigram-LM perplexity — the CCNet/KenLM quality
    screen re-expressed on Spark: P(w2|w1) = count(w1,w2)/count(w1)
    when the bigram is in the LM, else stupid-backoff
    ``alpha · count(w2)/total`` (Brants et al. 2007). Returns
    (doc_id, n_bigrams, log10_prob, ppl) for docs with ≥1 bigram;
    ppl = 10^(−log10_prob / n_bigrams), rounded to 4 dp so an
    engine/oracle replay agrees under float-summation reordering.

    Scale shape: doc bigrams explode once; the LM attaches via two
    term-keyed joins (bigram then w1/w2 unigram) — broadcast when the
    LM row counts sit under ``broadcast_limit`` (the cheap count gate,
    the filtered_topk pattern), hash joins on uniform keys otherwise —
    then ONE hash agg back to doc grain. No driver-side loops; the LM
    never needs to fit anywhere but the join."""
    from dp_search_data_importer_spark.functions.tokenize import (
        tokenize_expr,
    )

    total = unigrams.agg(F.sum("count").alias("total"))
    uni = unigrams
    bi = bigrams
    if bi.count() <= broadcast_limit:
        bi = F.broadcast(bi)
    if uni.count() <= broadcast_limit:
        uni = F.broadcast(uni)

    t = tokenize_expr(F.col(text_col))
    pairs = (docs.select(F.col(id_col).alias("doc_id"), t.alias("t"))
             .filter(F.size("t") >= 2)
             .select("doc_id", F.explode(F.arrays_zip(
                 F.slice("t", 1, F.size("t") - 1).alias("w1"),
                 F.slice("t", 2, F.size("t") - 1).alias("w2")))
                 .alias("p"))
             .select("doc_id", F.col("p.w1").alias("w1"),
                     F.col("p.w2").alias("w2")))
    j = (pairs
         .join(bi.select("w1", "w2",
                         F.col("count").alias("c12")),
               ["w1", "w2"], "left")
         .join(uni.select(F.col("w").alias("w1"),
                          F.col("count").alias("c1")), "w1", "left")
         .join(uni.select(F.col("w").alias("w2"),
                          F.col("count").alias("c2")), "w2", "left")
         .join(F.broadcast(total)))
    logp = F.when(
        F.col("c12").isNotNull() & F.col("c1").isNotNull(),
        F.log10(F.col("c12").cast("double") / F.col("c1"))
    ).otherwise(
        # stupid backoff to the add-one-smoothed unigram: an unseen w2
        # (pruned or out-of-LM) still gets a finite penalty instead of
        # a null that would silently drop the bigram from the sum
        F.log10(F.lit(float(alpha))
                * (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1))
                .cast("double") / (F.col("total") + F.lit(1))))
    out = (j.select("doc_id", logp.alias("lp"))
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_bigrams"),
                F.sum("lp").alias("log10_prob")))
    return out.select(
        "doc_id", "n_bigrams",
        F.round("log10_prob", 4).alias("log10_prob"),
        F.round(F.pow(F.lit(10.0),
                      -F.col("log10_prob") / F.col("n_bigrams")),
                4).alias("ppl"))


def hashed_tfidf_sparse(docs: DataFrame, dim: int = 128,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Feature-hashed TF-IDF doc vectors, sparse form — the hashing
    trick (Weinberger et al. 2009; sklearn HashingVectorizer): bucket =
    md5-derived uniform hash of the term mod ``dim`` (md5 so ANY engine
    reproduces the same buckets — the stratified_sample trick), value =
    Σ tf · idf with the smooth idf ln((N+1)/(df+1))+1. Returns
    (doc_id, bucket, value) — value rounded to 6 dp for cross-engine
    replay.

    Scale shape: tf explodes once; df is the same two-phase hash agg the
    postings build uses; the 1-row stats frame broadcasts; bucketing is
    a projection; ONE (doc_id, bucket) hash agg ends the plan. No
    vocabulary table, no driver state — the whole point of the hashing
    trick at corpus scale."""
    from dp_search_data_importer_spark.operators.postings import (
        term_freqs_sql,
    )

    tf = term_freqs_sql(docs, id_col=id_col, text_col=text_col) \
        .select(F.col(id_col).alias("doc_id"), "term", "tf")
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    bucket = (F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10)
              .cast("long") % dim)
    idf = F.log((F.col("n_docs") + F.lit(1)).cast("double")
                / (F.col("df") + F.lit(1))) + F.lit(1.0)
    j = (tf.join(dfs, "term").join(F.broadcast(stats))
         .select("doc_id", bucket.alias("bucket"),
                 (F.col("tf").cast("double") * idf).alias("v")))
    return (j.groupBy("doc_id", "bucket")
            .agg(F.round(F.sum("v"), 6).alias("value")))


def hashed_tfidf(docs: DataFrame, dim: int = 128, *,
                 text_col: str = "text", id_col: str = "doc_id",
                 normalize: bool = True) -> DataFrame:
    """Dense form of :func:`hashed_tfidf_sparse` — (doc_id, vector
    array<double> of length ``dim``), L2-normalized by default so the
    vectors drop straight into the cosine/ANN machinery
    (``operators/similarity``: cosine_topk, write_ann_index,
    write_ivf_index, …). Assembly is one collect_list per doc (bounded
    by ``dim`` entries) + a JVM-side sequence/coalesce transform — no
    Python, no UDF."""
    sparse = hashed_tfidf_sparse(docs, dim, text_col=text_col,
                                 id_col=id_col)
    m = (sparse.groupBy("doc_id")
         .agg(F.map_from_entries(
             F.collect_list(F.struct("bucket", "value"))).alias("m")))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at("m", i.cast("long")),
                             F.lit(0.0)))
    out = m.select("doc_id", vec.alias("vector"))
    if not normalize:
        return out
    norm = F.sqrt(F.aggregate(
        "vector", F.lit(0.0), lambda acc, x: acc + x * x))
    return out.select(
        "doc_id",
        F.transform("vector",
                    lambda x: x / F.greatest(norm, F.lit(1e-12)))
        .alias("vector"))


def chunk_documents(docs: DataFrame, chunk_tokens: int = 128,
                    overlap: int = 16, *, text_col: str = "text",
                    id_col: str = "doc_id",
                    min_tokens: int = 1) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    context-length chunking pass of a pretraining/RAG data pipeline.
    Returns (doc_id, chunk_id, start_tok, n_tokens, chunk_text):
    chunk i covers tokens [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the final window is the shorter
    tail (kept when ≥ ``min_tokens``). Chunk text re-joins the analyzed
    tokens with single spaces — the downstream ops (dedup, LM,
    hashing, embedding) all consume the same analyzer output, so
    chunking composes with every existing screen.

    Pure Catalyst: tokenize → sequence of window starts → ONE explode →
    slice/concat_ws projections. Zero Python, zero joins, zero
    shuffles; output size is corpus tokens ÷ stride, linear and
    partition-local."""
    from dp_search_data_importer_spark.functions.tokenize import (
        tokenize_expr,
    )

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    t = docs.select(F.col(id_col).alias("doc_id"),
                    tokenize_expr(F.col(text_col)).alias("t"))
    n = F.size("t")
    # window starts: 0, stride, 2·stride, …, last start < n (so a doc
    # shorter than chunk_tokens still yields its single tail chunk)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.ceil((n - F.lit(chunk_tokens)).cast("double")
                   / F.lit(stride)).cast("long") * F.lit(stride),
            F.lit(0)),
        F.lit(stride))
    ch = (t.filter(n >= F.lit(min_tokens))
          .select("doc_id", "t", F.explode(starts).alias("start")))
    piece = F.slice(F.col("t"), F.col("start") + 1, F.lit(chunk_tokens))
    return (ch.select(
        "doc_id",
        (F.col("start") / stride).cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start_tok"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"))
        .filter(F.col("n_tokens") >= min_tokens))


def global_exclusive_cumsum(df: DataFrame, order_col: str, val_col: str,
                            out_col: str = "cum",
                            num_partitions: int | None = None,
                            boundaries: list | None = None) -> DataFrame:
    """Distributed exclusive prefix sum of ``val_col`` in ``order_col``
    order — the two-phase scan (Blelloch 1990): bucket rows by
    DETERMINISTIC literal range boundaries over the (numeric) order
    column, a bucket-LOCAL running sum (window partitioned by bucket —
    never a global single-task window), then one tiny per-bucket-totals
    aggregation whose exclusive cumsum joins back as a broadcast offset
    table. The driver state is one row per bucket (bounded by cluster
    config, thousands at 100 TB — never by data size).

    Requires ``order_col`` values to be unique (ties straddling a range
    boundary would make "exclusive" ambiguous) and numeric; ``val_col``
    must be non-null. Deterministic for a given input regardless of input
    partitioning.

    Bucketing is literal boundaries — NOT ``repartitionByRange`` +
    ``spark_partition_id`` — because this operator runs two actions over
    the same bucketing (the totals collect and the final windowed frame)
    and repartitionByRange draws a fresh boundary SAMPLE per evaluation:
    the round-5 implementation had to pin the sampled partitioning with
    an eager localCheckpoint or the offsets computed under partitioning A
    silently joined against bucket ids from partitioning B (measured at
    500k docs: nondeterministic off-by-tens piece counts). Boundaries
    collected once on the driver and embedded as literals make both jobs
    agree BY CONSTRUCTION — no pin, no checkpoint storage, one fewer
    pass over the upstream projection. Callers that can compute cheap
    boundaries (e.g. quantiles of a raw id column, skipping an expensive
    projection) pass ``boundaries``; otherwise one approxQuantile action
    over ``df`` derives them. Boundary quality affects only bucket
    balance, never the result.
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if boundaries is None:
        qs = [i / num_partitions for i in range(1, num_partitions)]
        boundaries = df.stat.approxQuantile(order_col, qs, 0.01) if qs else []
    bounds = sorted({b for b in boundaries if b is not None})
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        bucket = F.size(F.filter(
            barr, lambda b: b < F.col(order_col))).cast("int")
    else:
        bucket = F.lit(0)
    p = df.withColumn("_pid", bucket)
    tots = (p.groupBy("_pid")
            .agg(F.sum(F.col(val_col)).cast("long").alias("_tot"))
            .collect())
    # buckets are monotone in order_col by construction: offset order is
    # bucket-id order
    tots.sort(key=lambda r: r["_pid"])
    offs, acc = [], 0
    for r in tots:
        offs.append((r["_pid"], acc))
        acc += r["_tot"]
    from dp_search_data_importer_spark.session import local_df

    off_df = local_df(spark, offs or [(0, 0)], "_pid int, _off long")
    w = (Window.partitionBy("_pid").orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (p.withColumn("_incl", F.sum(F.col(val_col)).over(w))
            .join(F.broadcast(off_df), "_pid")
            .withColumn(out_col,
                        (F.col("_off") + F.col("_incl")
                         - F.col(val_col)).cast("long"))
            .drop("_pid", "_incl", "_off"))


def pack_sequences(docs: DataFrame, seq_tokens: int = 2048, *,
                   text_col: str = "text", id_col: str = "doc_id",
                   split_docs: bool = True,
                   min_tokens: int = 1) -> DataFrame:
    """Sequence packing — the pretraining batch-prep pass that follows
    chunking/dedup: concatenate the corpus in deterministic ``doc_id``
    order and cut it into fixed ``seq_tokens`` context windows (the
    GPT-style concat-and-split packing; every window except the last is
    exactly full, documents cross window boundaries).

    ``split_docs=True`` (the packing semantics) returns one row per
    (sequence, document) piece: ``(seq_id, doc_id, start_tok,
    doc_tok_start, piece_tokens)`` — ``start_tok`` is the document's
    global concat offset, ``doc_tok_start`` the piece's offset inside
    the document, and a document straddling k boundaries yields k+1
    contiguous pieces that partition its tokens. ``split_docs=False``
    is the whole-document variant (no splitting: each doc lands in the
    window its first token falls in — windows may overflow by one doc;
    the best-effort mode for instruction-tuning corpora where documents
    must stay intact): ``(seq_id, doc_id, start_tok, n_tokens)``.

    Dataflow: token counts are one projection (no text shuffled — only
    (id, count) rows move); the global offset is
    :func:`global_exclusive_cumsum` (two-phase scan, no single-task
    window); window membership is pure arithmetic, with the straddle
    explode bounded by n_tokens/seq_tokens pieces per doc. Linear,
    shuffle count = 1 (the range repartition).
    """
    if seq_tokens < 1:
        raise ValueError("seq_tokens must be positive")
    from dp_search_data_importer_spark.functions.tokenize import (
        token_count_expr,
    )

    t = (docs.select(F.col(id_col).alias("doc_id"),
                     token_count_expr(F.col(text_col))
                     .cast("long").alias("n_tokens"))
         .filter(F.col("n_tokens") >= F.lit(min_tokens)))
    # bucket boundaries from the RAW id column (a pruned parquet column
    # scan): quantiles through `t` would evaluate the tokenize projection
    # an extra time just to pick balance points (guide §1.2 — don't
    # compute what you throw away). The unfiltered id distribution is a
    # superset of t's; any imbalance from filtered-out docs affects only
    # bucket sizes, never the cumsum.
    spark = docs.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    qs = [i / nparts for i in range(1, nparts)]
    bounds = (docs.select(F.col(id_col).cast("double").alias("_id"))
              .stat.approxQuantile("_id", qs, 0.01)) if qs else []
    c = global_exclusive_cumsum(t, "doc_id", "n_tokens", "start_tok",
                                num_partitions=nparts, boundaries=bounds)
    cap = F.lit(int(seq_tokens))
    first = F.floor(F.col("start_tok") / cap).cast("long")
    if not split_docs:
        return c.select(first.alias("seq_id"), "doc_id", "start_tok",
                        "n_tokens")
    last = F.floor((F.col("start_tok") + F.col("n_tokens") - 1)
                   / cap).cast("long")
    ex = c.select(
        "doc_id", "start_tok", "n_tokens",
        F.explode(F.sequence(first, last)).alias("seq_id"))
    p_start = F.greatest(F.col("start_tok"), F.col("seq_id") * cap)
    p_end = F.least(F.col("start_tok") + F.col("n_tokens"),
                    (F.col("seq_id") + 1) * cap)
    return ex.select(
        "seq_id", "doc_id", "start_tok",
        (p_start - F.col("start_tok")).cast("long")
        .alias("doc_tok_start"),
        (p_end - p_start).cast("long").alias("piece_tokens"))


def boilerplate_lines(docs: DataFrame, min_docs: int = 3, *,
                      text_col: str = "text", id_col: str = "doc_id",
                      min_chars: int = 10) -> DataFrame:
    """Corpus-frequent lines — the C4/RefinedWeb boilerplate screen
    (Raffel et al. 2020 deduplicate repeated three-sentence spans;
    Penedo et al. 2023 strip lines repeated across pages: cookie
    notices, nav bars, footers). A line (``\\n``-split, normalized by
    lower+trim) occurring in ≥ ``min_docs`` DISTINCT documents is
    boilerplate; lines shorter than ``min_chars`` after trimming are
    ignored (one-word lines collide by chance, not by provenance).

    Returns (line_norm, n_docs, n_occurrences). Counting is TEXT-FREE:
    the aggregation keys on md5(line) so the shuffle carries (hash,
    doc_id) pairs, never line text — grouping by the raw line would
    shuffle the whole corpus (measured: the text-keyed form cost ~20×
    at 500k docs). Only the frequent hashes' representative text is then
    fetched back with a second, boilerplate-sized join (the frequent set
    is tiny by definition relative to the corpus). md5 collisions
    (2^-64-ish at web-scale line counts) would merge two distinct lines'
    counts — the same accepted trade every hash-keyed dedup screen in
    ``operators/dedup.py`` makes."""
    line = F.explode(F.split(F.col(text_col), "\n")).alias("line")
    ex = docs.select(F.col(id_col).alias("doc_id"), line)
    norm = F.lower(F.trim(F.col("line")))
    keyed = (ex.select("doc_id", norm.alias("line_norm"))
             .filter(F.length("line_norm") >= int(min_chars))
             .select("doc_id", "line_norm",
                     F.md5(F.col("line_norm")).alias("_h")))
    freq = (keyed.select("doc_id", "_h")
            .groupBy("_h")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_docs") >= int(min_docs)))
    # representative text for the (small) frequent set only; min() for
    # determinism — all values per hash are equal modulo collision
    reps = (keyed.join(freq.select("_h"), "_h", "left_semi")
            .groupBy("_h").agg(F.min("line_norm").alias("line_norm")))
    return (freq.join(reps, "_h")
            .select("line_norm", "n_docs", "n_occurrences"))


def strip_boilerplate_lines(docs: DataFrame, boilerplate: DataFrame, *,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            broadcast_limit: int = 1_000_000) -> DataFrame:
    """The keep-pass: rebuild each document without its boilerplate
    lines (matched on the same lower+trim normalization), preserving
    original line order and the original text of surviving lines.
    Documents whose every line is boilerplate survive with empty text —
    row counts are stable through the pass.

    Two physical forms behind one semantics, picked by a size gate on
    the boilerplate set (the ``filtered_topk`` gate pattern):

    - **≤ broadcast_limit** (the overwhelmingly common case — a
      frequent-line set is small by definition): the normalized lines
      broadcast as a Python set into ONE Arrow-batched projection that
      filters each document's lines in place — ZERO shuffle, text never
      leaves its partition. Measured 10× over the join form at 500k
      docs (explode + reassemble shuffles the corpus text twice).
    - **above the gate**: posexplode → anti-join on md5(line) (hash
      keys — the join never carries text) → per-doc position-ordered
      reassembly. Unbounded in boilerplate-set size; two text shuffles.

    The gate IS the collect: one ``limit(n+1)`` fetch decides the path
    AND supplies the broadcast set — the (expensive) detection frame is
    never evaluated twice for gating."""
    probe = boilerplate.select("line_norm") \
        .limit(int(broadcast_limit) + 1).collect()
    if len(probe) <= int(broadcast_limit):
        norms = {r["line_norm"] for r in probe}
        b = docs.sparkSession.sparkContext.broadcast(norms)
        src = docs.select(F.col(id_col).alias("doc_id"),
                          F.col(text_col).alias("_text"))

        def gen(batches):
            import pandas as pd

            bl = b.value

            def clean(t: str) -> str:
                # .strip(" ") / .lower(): the Python spelling of
                # Spark's trim() (space-only) + lower(), keeping both
                # paths and the SQL oracle aligned
                return "\n".join(ln for ln in t.split("\n")
                                 if ln.strip(" ").lower() not in bl)

            for pdf in batches:
                yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                    "clean_text": pdf["_text"].map(clean)})

        return src.mapInPandas(gen, schema="doc_id long, clean_text string")

    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("pos", "line"))
    keyed = ex.withColumn(
        "_h", F.md5(F.lower(F.trim(F.col("line")))))
    kept = keyed.join(
        boilerplate.select(F.md5(F.col("line_norm")).alias("_h")),
        "_h", "left_anti")
    arr = F.array_sort(F.collect_list(F.struct("pos", "line")))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.concat_ws(
                   "\n", F.transform(arr, lambda x: x["line"]))
                   .alias("clean_text")))
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("clean_text"), F.lit(""))
                    .alias("clean_text")))
