"""Language identification — stopword-profile n-gram heuristic.

The reference's LanguageFilter scores docs with the fastText lid.176.bin
model (src/datatrove/pipeline/filters/language_filter.py:11,49-62) inside a
per-process singleton. fastText is not installable here, so the engine's
*built-in* scorer is a deterministic function-word-profile classifier run
as one Arrow-batched pandas UDF over ``py_langid``; ``oracle_sql`` is the
independent DuckDB rendering. `fasttext_filter.py` provides the
model-backed pandas-UDF path when the library is present (same output
schema, gated behind an import-try).

Semantics:
- score(lang) = |{w in words(lower(text)) : w in profile(lang)}| / n_words
  over 21 function-word profiles (Latin/Cyrillic/Arabic/Devanagari spaced
  languages)
- script-fraction overrides for unsegmented or suffixing scripts where
  standalone function words carry no signal: thai -> 'th', hangul -> 'ko',
  kana -> 'ja' (checked before han — Japanese mixes kana and han), han ->
  'zh'; score = the script fraction
- language  = argmax score (tie -> lexicographically largest, via max on
  (score, lang) pairs — identical rule in Spark and SQL); no hits -> 'und'
- keep iff language in cfg.languages and score >= cfg.threshold
  (language_filter.py keeps top-1 in set over a probability threshold; the
  heuristic's hit-ratio scale needs a lower default threshold — documented
  deviation, config.py TOKENIZer NOTE applies)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datatrove_spark.config import PY_WORD_RE2, LangIdConfig

NAME = "langid"

# public-knowledge function-word profiles (top closed-class words per language)
PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "that", "it", "was", "for",
           "with", "as", "his", "on", "be", "at", "by", "had", "have", "this"),
    "de": ("der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "des",
           "auf", "für", "ist", "im", "dem", "nicht", "ein", "eine", "als", "auch"),
    "fr": ("de", "la", "le", "et", "les", "des", "en", "un", "du", "une",
           "que", "est", "dans", "qui", "par", "pour", "sur", "pas", "au", "ne"),
    "es": ("de", "la", "que", "el", "en", "y", "los", "del", "se", "las",
           "por", "un", "para", "con", "no", "una", "su", "al", "lo", "como"),
    "it": ("di", "e", "il", "la", "che", "in", "un", "per", "non", "una",
           "sono", "con", "si", "da", "come", "anche", "più", "nel", "alla", "gli"),
    "pt": ("de", "a", "o", "que", "e", "do", "da", "em", "um", "para",
           "com", "não", "uma", "os", "no", "se", "na", "por", "mais", "dos"),
    "nl": ("de", "en", "van", "het", "een", "in", "is", "dat", "op", "te",
           "zijn", "met", "voor", "niet", "aan", "er", "om", "ook", "als", "dan"),
    "ru": ("и", "в", "не", "на", "что", "с", "он", "как", "это", "по",
           "но", "его", "из", "от", "она", "так", "же", "для", "был", "мы"),
    "pl": ("i", "w", "nie", "na", "się", "że", "do", "jest", "z", "jak",
           "po", "ale", "co", "tak", "za", "od", "przez", "ich", "tego", "być"),
    "sv": ("och", "att", "det", "som", "en", "på", "är", "av", "för", "med",
           "den", "till", "inte", "om", "han", "var", "jag", "men", "ett", "har"),
    "da": ("og", "at", "det", "er", "til", "en", "den", "af", "for", "med",
           "på", "som", "der", "ikke", "et", "har", "de", "jeg", "var", "men"),
    "no": ("og", "det", "er", "som", "en", "på", "til", "av", "ikke", "for",
           "med", "han", "om", "et", "var", "seg", "men", "har", "jeg", "vi"),
    "fi": ("ja", "on", "ei", "että", "oli", "hän", "se", "mutta", "kun", "niin",
           "myös", "joka", "ovat", "sen", "tai", "jos", "mitä", "ole", "kuin", "vain"),
    "tr": ("bir", "ve", "bu", "da", "de", "için", "ile", "ne", "gibi", "daha",
           "çok", "ama", "var", "en", "olarak", "kadar", "sonra", "her", "mi", "ki"),
    "cs": ("a", "se", "na", "je", "že", "v", "do", "to", "jako", "ale",
           "pro", "za", "by", "jeho", "nebo", "podle", "jen", "byl", "tak", "které"),
    "hu": ("a", "az", "és", "hogy", "nem", "is", "egy", "de", "meg", "volt",
           "már", "csak", "el", "vagy", "ha", "mint", "még", "ki", "van", "ezt"),
    "ro": ("și", "de", "în", "la", "cu", "din", "este", "un", "pe", "care",
           "nu", "pentru", "mai", "sau", "sunt", "dar", "fost", "după", "când", "fi"),
    "id": ("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari",
           "dalam", "akan", "pada", "juga", "ke", "karena", "ada", "mereka", "sudah", "saya", "bisa"),
    "vi": ("và", "của", "là", "có", "trong", "được", "các", "một", "không",
           "những", "người", "này", "cho", "với", "để", "đã", "khi", "cũng", "như", "từ"),
    "ar": ("في", "من", "على", "أن", "إلى", "عن", "مع", "هذا", "كان", "التي",
           "الذي", "ما", "لا", "هو", "أو", "كل", "بين", "بعد", "قد", "ذلك"),
    "hi": ("के", "में", "की", "है", "को", "से", "का", "और", "पर", "यह",
           "एक", "हैं", "कि", "नहीं", "भी", "था", "लिए", "ने", "हो", "इस"),
}

HAN_RE = "[一-鿿]"
# script-fraction overrides for unsegmented / suffixing scripts where
# standalone function-word profiles cannot see the signal; kana is checked
# BEFORE han because Japanese text mixes both scripts
KANA_RE = "[ぁ-ゟ゠-ヿ]"
HANGUL_RE = "[가-힣]"
THAI_RE = "[ก-๛]"
SCRIPT_FRAC_THRESHOLD = 0.3


_INVERTED: dict[str, tuple[str, ...]] = {}
for _lang, _prof in sorted(PROFILES.items()):
    for _w in _prof:
        _INVERTED[_w] = _INVERTED.get(_w, ()) + (_lang,)


import re as _re

_THAI = _re.compile(THAI_RE)
_HANGUL = _re.compile(HANGUL_RE)
_KANA = _re.compile(KANA_RE)
_HAN = _re.compile(HAN_RE)


def py_langid(text: str | None) -> tuple[str, float | None]:
    """(language, UNROUNDED score) — one token pass over an inverted
    word->languages index. NULL text is an empty document. Score None
    mirrors the oracle's NULL (no words / NULL / empty text, where the SQL
    divisions return NULL).

    Two exact fast paths. The four script classes are all non-ASCII, so
    on ASCII text every script fraction is 0, no override can fire, and the
    four scans are skipped. The words are ``str.split()``, which is
    Python's ``\\S+`` findall (see ``reference_impl.filters.words``)."""
    if not text:
        return "und", None
    if not text.isascii():
        n_chars = len(text)
        tf = len(_THAI.findall(text)) / n_chars
        if tf > SCRIPT_FRAC_THRESHOLD:
            return "th", tf
        hf = len(_HANGUL.findall(text)) / n_chars
        if hf > SCRIPT_FRAC_THRESHOLD:
            return "ko", hf
        kf = len(_KANA.findall(text)) / n_chars
        if kf > SCRIPT_FRAC_THRESHOLD:
            return "ja", kf
        cf = len(_HAN.findall(text)) / n_chars
        if cf > SCRIPT_FRAC_THRESHOLD:
            return "zh", cf
    ws = text.lower().split()
    if not ws:
        return "und", None
    counts: dict[str, int] = {}
    inv = _INVERTED
    for w in ws:
        for lg in inv.get(w, ()):
            counts[lg] = counts.get(lg, 0) + 1
    if not counts:
        # all 21 scores are 0.0 -> the oracle's best['score'] > 0 is false
        # -> 'und', 0.0
        return "und", 0.0
    n = len(ws)
    # max over (score, language) == the oracle's list_max over the
    # (score, language) structs: score first, then lexicographically
    # largest language
    best = max((c / n, lg) for lg, c in counts.items())
    return best[1], best[0]


def _kernel_udf():
    @F.pandas_udf("struct<language:string, raw:double>")
    def _detect_batch(texts: pd.Series) -> pd.DataFrame:
        langs: list[str] = []
        raws: list[float | None] = []
        for t in texts:
            lg, sc = py_langid(t)
            langs.append(lg)
            raws.append(sc)
        return pd.DataFrame({"language": langs, "raw": raws})

    return _detect_batch


def with_language(
    df: DataFrame, language: Column, raw: Column, cfg: LangIdConfig = LangIdConfig()
) -> DataFrame:
    """Append ``language``, ``language_score`` (the raw score rounded to 6dp,
    as the oracle rounds it), ``langid_reason`` and ``langid_keep`` from a
    py_langid result's two columns."""
    df = df.withColumn("language", language).withColumn("language_score", F.round(raw, 6))
    keep = F.col("language").isin(*cfg.languages) & (F.col("language_score") >= cfg.threshold)
    return df.withColumn(
        f"{NAME}_reason", F.when(~keep, F.lit("lang_filter")).otherwise(F.lit(None).cast("string"))
    ).withColumn(f"{NAME}_keep", keep)


def apply(df: DataFrame, text_col: str = "text", cfg: LangIdConfig = LangIdConfig()) -> DataFrame:
    """Arrow-batched py_langid kernel, then ``with_language``."""
    d = _kernel_udf()(F.col(text_col))
    return with_language(df, d["language"], d["raw"], cfg)


def oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: LangIdConfig = LangIdConfig(),
) -> str:
    pair_exprs = ", ".join(
        "{'score': len(list_filter(ws, w -> w IN (%s)))::DOUBLE / nullif(n_words, 0), 'language': '%s'}"
        % (", ".join(f"'{w}'" for w in prof), lang)
        for lang, prof in sorted(PROFILES.items())
    )
    langs = ", ".join(f"'{lg}'" for lg in cfg.languages)
    t = SCRIPT_FRAC_THRESHOLD

    def sql_frac(pattern: str) -> str:
        return f"len(regexp_extract_all({text_col}, '{pattern}'))::DOUBLE / nullif(len({text_col}), 0)"

    return f"""
WITH base AS (
  SELECT {id_col} AS id,
         regexp_extract_all(lower({text_col}), '{PY_WORD_RE2}') AS ws,
         len(regexp_extract_all(lower({text_col}), '{PY_WORD_RE2}')) AS n_words,
         {sql_frac(THAI_RE)} AS thai_f,
         {sql_frac(HANGUL_RE)} AS hangul_f,
         {sql_frac(KANA_RE)} AS kana_f,
         {sql_frac(HAN_RE)} AS han_f
  FROM {table}
), scored AS (
  SELECT id, thai_f, hangul_f, kana_f, han_f, list_max([{pair_exprs}]) AS best
  FROM base
), res AS (
  SELECT id,
    CASE WHEN thai_f > {t} THEN 'th'
         WHEN hangul_f > {t} THEN 'ko'
         WHEN kana_f > {t} THEN 'ja'
         WHEN han_f > {t} THEN 'zh'
         WHEN best['score'] > 0 THEN best['language']
         ELSE 'und' END AS language,
    round(CASE WHEN thai_f > {t} THEN thai_f
               WHEN hangul_f > {t} THEN hangul_f
               WHEN kana_f > {t} THEN kana_f
               WHEN han_f > {t} THEN han_f
               ELSE best['score'] END, 6) AS language_score
  FROM scored
)
SELECT id AS {id_col}, language, language_score,
  (language IN ({langs}) AND language_score >= {cfg.threshold}) AS {NAME}_keep
FROM res
""".strip()
