"""Webtext functions: HTML→text extraction, geotagging, text analysis.

``extract_text`` is the frozen extraction spec (SURVEY.md §2.2): the
reference's extraction rule is unobservable (empty checkout, SURVEY.md
§0), so this spec is the engine's own — frozen here, used verbatim by the
fixture generator, which makes the byte-identical-text-per-url invariant
(BASELINE.json:15) self-consistent and testable against golden hashes.

Python executes only where regexes over HTML demand it, always through
vectorized pandas/Arrow batches (no per-row Python — BASELINE.json:15).
The text-*analysis* functions (token_count, quality, lang-id,
fingerprint) are pure JVM Column expressions with textually-mirrored
DuckDB SQL templates for the oracle harness.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# extract_text — the frozen spec
# ---------------------------------------------------------------------------

_RE_SCRIPT = re.compile(r"(?is)<(script|style)\b.*?</\1\s*>")
_RE_COMMENT = re.compile(r"(?s)<!--.*?-->")
_RE_TAG = re.compile(r"(?s)<[^>]*>")
_RE_WS = re.compile(r"\s+")
# fixed entity set, decoded in this exact order (amp last so literal
# "&amp;lt;" decodes to "&lt;" not "<")
_ENTITIES = [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]

# Single-pass fusions of the passes above. Byte-equivalent to applying
# them sequentially: the strip alternation tries script/style, then
# comment, then bare tag at each '<' (the order the sequential passes
# would consume them), and the entity tokens are mutually prefix-free,
# so leftmost-scan-with-callback equals the ordered global replaces.
# Fused because each pandas str.replace pass copies the whole corpus —
# 11 passes of allocator churn was the enrich stage's true bottleneck
# at high core counts (BENCH notes).
_RE_STRIP = re.compile(r"(?is)<(script|style)\b.*?</\1\s*>|<!--.*?-->|<[^>]*>")
_ENT_MAP = dict(_ENTITIES)
_RE_ENT = re.compile("|".join(re.escape(e) for e, _ in _ENTITIES))
_ENT_SUB = lambda m: _ENT_MAP[m.group(0)]  # noqa: E731


def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized frozen extraction: bytes/str HTML → normalized text.

    Spec (order matters, every step deterministic):
      1. decode UTF-8, errors→U+FFFD
      2. drop <script>/<style> elements, then comments, then all tags
      3. decode the fixed entity set (_ENTITIES order)
      4. collapse all whitespace runs to single spaces; strip ends
      5. Unicode NFC normalization
    """
    import unicodedata

    strip = _RE_STRIP.sub
    ent = _RE_ENT.sub
    nfc = unicodedata.normalize

    def one(b):
        if b is None:
            return None
        t = b.decode("utf-8", "replace") if isinstance(b, (bytes, bytearray)) else str(b)
        # step 4 as " ".join(t.split()) — byte-identical to
        # re.sub(r"\s+", " ", t).strip() (both definitions reduce to
        # Py_UNICODE_ISSPACE; equivalence swept over every BMP char +
        # fuzz in tests), and 3.3× faster — the \s+ pass was 90% of the
        # extraction kernel (BENCH.md round-3 note)
        return nfc("NFC", " ".join(ent(_ENT_SUB, strip(" ", t)).split()))

    return html.map(one)


def extract_text_py(html: bytes | str) -> str:
    """Single-value convenience wrapper (tests, golden generation)."""
    return extract_text_series(pd.Series([html])).iloc[0]


# ---------------------------------------------------------------------------
# geotag — the Common-Crawl geocoding signal
# ---------------------------------------------------------------------------

_RE_GEO = re.compile(
    r'(?is)<meta\s+name=["\']geo\.position["\']\s+content=["\']\s*'
    r"(-?\d+(?:\.\d+)?)\s*;\s*(-?\d+(?:\.\d+)?)\s*[\"']"
)


def geotag_frame(html: pd.Series) -> pd.DataFrame:
    """Vectorized geo.position meta-tag parse → (lat, lon) doubles or NaN."""
    if len(html) and isinstance(html.iloc[0], (bytes, bytearray)):
        s = html.map(lambda b: b.decode("utf-8", "replace") if b is not None else "")
    else:
        s = html.fillna("").astype(str)
    ext = s.str.extract(_RE_GEO)
    return pd.DataFrame(
        {
            "lat": pd.to_numeric(ext[0], errors="coerce"),
            "lon": pd.to_numeric(ext[1], errors="coerce"),
        }
    )


# ---------------------------------------------------------------------------
# JVM-side text analysis (documents table surface) + oracle SQL templates
# ---------------------------------------------------------------------------

TOKEN_SPLIT_RE = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokens of lower-cased text (JVM-side)."""
    return F.split(F.lower(F.trim(text)), TOKEN_SPLIT_RE)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


TOKEN_COUNT_SQL = "len(regexp_split_to_array(lower(trim({t})), '\\s+'))"


# Marker stopwords per language for the n-gram/stopword lang-id heuristic.
# Deliberately tiny and frozen — the heuristic must be reproducible in
# pure SQL for the oracle. Scores = count of marker-token hits.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "los", "que"],
    "zh": ["的", "了", "是", "我", "不"],
}
_LANG_ORDER = ["de", "en", "es", "fr", "zh"]  # tie-break: alphabetical


def lang_id(text: Column) -> Column:
    """Heuristic language id: argmax marker-hit count, ties→alphabetical,
    zero hits → 'und'. Pure JVM higher-order functions."""
    toks = tokens(text)

    def _hits(lang: str):
        # closure factory — a default-arg lambda would bind PySpark's
        # element-index parameter over the default, shadowing `lang`
        return lambda t: t.isin(LANG_MARKERS[lang])

    scores = [F.size(F.filter(toks, _hits(lang))) for lang in _LANG_ORDER]
    best = F.greatest(*scores)
    pred = F.lit("und")
    # first (alphabetical) language achieving the max
    for lang, sc in reversed(list(zip(_LANG_ORDER, scores))):
        pred = F.when(sc == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def _lang_score_sql(t: str, lang: str) -> str:
    quoted = ", ".join("'" + w + "'" for w in LANG_MARKERS[lang])
    return (
        f"len(list_filter(regexp_split_to_array(lower(trim({t})), '\\s+'),"
        f" x -> x in ({quoted})))"
    )


def lang_id_sql(t: str) -> str:
    scores = {lang: _lang_score_sql(t, lang) for lang in _LANG_ORDER}
    greatest = "greatest(" + ", ".join(scores.values()) + ")"
    case = "CASE "
    for lang in _LANG_ORDER:
        case += f"WHEN {scores[lang]} = {greatest} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"CASE WHEN {greatest} > 0 THEN {case} ELSE 'und' END"


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality score from cheap surface statistics:
    0.4·length_score + 0.3·alpha_ratio + 0.3·(1 − repetition).

    length_score = least(1, n_tokens/100); alpha_ratio = alpha chars /
    chars; repetition = 1 − distinct_tokens/tokens. All-integer inputs
    to exact double arithmetic → bit-identical in the SQL mirror.
    """
    toks = tokens(text)
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    length_score = F.least(F.lit(1.0), n_tok.cast("double") / F.lit(100.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars.cast("double")).otherwise(
        F.lit(0.0)
    )
    rep = F.when(n_tok > 0, n_distinct.cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0))
    return length_score * 0.4 + alpha_ratio * 0.3 + rep * 0.3


def quality_score_sql(t: str) -> str:
    toks = f"regexp_split_to_array(lower(trim({t})), '\\s+')"
    return (
        f"least(1.0, len({toks})::double / 100.0) * 0.4 + "
        f"(CASE WHEN length({t}) > 0 THEN length(regexp_replace({t}, '[^a-zA-Z]', '', 'g'))::double"
        f" / length({t})::double ELSE 0.0 END) * 0.3 + "
        f"(CASE WHEN len({toks}) > 0 THEN len(list_distinct({toks}))::double / len({toks})::double ELSE 0.0 END) * 0.3"
    )


def doc_fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token list joined by unit separator. Detects bag-of-words duplicates
    regardless of token order (SURVEY.md training-data ops)."""
    return F.md5(F.concat_ws("\u001f", F.array_sort(F.array_distinct(tokens(text)))))


def doc_fingerprint_sql(t: str) -> str:
    toks = f"regexp_split_to_array(lower(trim({t})), '\\s+')"
    return f"md5(array_to_string(list_sort(list_distinct({toks})), chr(31)))"


def compression_ratio_frame(docs_iter, id_col: str = "doc_id", text_col: str = "text"):
    """mapInPandas kernel: zlib-level-6 compressed length per doc.

    The Gopher/CCNet-family quality signal SQL cannot express: highly
    templated or repetitive pages compress far below prose (ratio ≈
    0.1–0.3 vs ≈ 0.4–0.6). Deterministic for a fixed zlib (CPython
    bundles one) at a fixed level/strategy — asserted by the golden
    pytest; there is no SQL oracle, so the registry row is rows-only.
    Arrow-batched: one Python crossing, ~thousands of docs per batch.
    """
    import zlib

    import pandas as pd

    for pdf in docs_iter:
        raw = pdf[text_col].fillna("").map(lambda t: t.encode("utf-8"))
        raw_len = raw.map(len)
        comp_len = raw.map(lambda b: len(zlib.compress(b, 6)))
        yield pd.DataFrame(
            {
                id_col: pdf[id_col],
                "raw_len": raw_len.astype("int64"),
                "comp_len": comp_len.astype("int64"),
            }
        )
