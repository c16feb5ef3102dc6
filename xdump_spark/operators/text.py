"""Text-analysis operators for document tables: tokenization stats,
quality scoring, language identification, fingerprinting.

All pure `pyspark.sql.functions` column expressions (whole-stage-codegen
friendly, no UDFs). Each operator has an exactly-equivalent ANSI-SQL
formulation (see queries.py) so results are oracle-checkable bit-for-bit.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves type hints here

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small per-language stopword marker sets (public common words). Chosen to
# be disjoint across languages (pinned by test) so hit counts are
# unambiguous; words are also picked to be DISTINCTIVE in practice (e.g.
# Italian gets "della", not "di", which is equally common in Indonesian).
# r9 widened the Latin tier to 11 languages; r10 adds the biggest
# Latin-script crawl slices the script tier cannot decide (Latin
# dominates their text, so only markers can fire): Vietnamese — the
# verdict's headline gap — plus Romanian, Czech, Hungarian, Danish and
# Finnish. Non-Latin scripts are decided by the script-histogram tier
# above this one, so marker sets exist only where the script alone
# cannot tell languages apart. The r10 sets lean on DIACRITIC-bearing
# words where possible (they cannot collide with English prose, and on
# the pure-ASCII bench corpus the isin prefilter rejects them at hash
# speed — measured ~free).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein", "mit"],
    "es": ["el", "la", "los", "las", "que", "por", "una", "para"],
    "fr": ["le", "les", "des", "est", "une", "dans", "pour", "sur"],
    "it": ["che", "della", "delle", "sono", "anche", "questo", "gli", "nella"],
    "pt": ["uma", "não", "são", "também", "pelo", "isso", "já", "seu"],
    "nl": ["het", "een", "niet", "van", "zijn", "voor", "naar", "ook"],
    "pl": ["się", "jest", "nie", "tego", "przez", "jako", "tylko", "być"],
    "sv": ["och", "att", "är", "som", "för", "inte", "med", "det"],
    "tr": ["bir", "ve", "için", "bu", "ile", "olarak", "daha", "çok"],
    "id": ["yang", "dan", "untuk", "dengan", "ini", "adalah", "tidak", "dari"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "men5"],
    "vi": ["và", "của", "là", "không", "được", "người", "những", "này"],
    "ro": ["și", "să", "această", "pentru", "după", "până", "unde", "fără"],
    "cs": ["že", "však", "již", "podle", "může", "před", "také", "ještě"],
    "hu": ["és", "hogy", "nem", "egy", "meg", "már", "csak", "vagy"],
    "da": ["og", "ikke", "til", "på", "af", "han", "hun", "også"],
    "fi": ["ei", "että", "mutta", "myös", "kun", "sekä", "jossa", "sillä"],
}
# deterministic tie-break order (max hits wins; earlier wins ties);
# r10 languages appended so every pre-r10 labeling is unchanged
LANG_ORDER = [
    "en", "de", "es", "fr", "it", "pt", "nl", "pl", "sv", "tr", "id", "zh",
    "vi", "ro", "cs", "hu", "da", "fi",
]
# one combined filter pass extracts marker occurrences from the token
# array; the per-language counts then run over that (tiny) survivor
# array — adding a language costs one more cheap sub-count, not one
# more full-token pass
ALL_MARKERS = sorted({w for ws in LANG_MARKERS.values() for w in ws})

# --- Unicode-script histogram tier (r9) -------------------------------
#
# The marker-word tier only knows a handful of Latin-script languages —
# a multilingual crawl got "und" for most of the world's text. Script
# membership is a pure character-class count (one regexp_count per
# script, whole-stage codegen, no model): when the dominant non-Latin
# script outnumbers the Latin letters, the script DECIDES the language
# outright; otherwise marker words break the Latin-script tie exactly
# as before (so existing Latin-text behavior is unchanged). Han vs
# kana disambiguates Japanese from Chinese: any text whose kana mass
# is >= 1/KANA_JA_DEN of its Han mass is Japanese (written Japanese is
# kanji-heavy but never kana-free; Chinese never uses kana).
#
# Keys are internal count names; values are Unicode Script names —
# spelled \p{IsXxx} under Java regex (Spark) and \p{Xxx} under RE2
# (the DuckDB oracle twin, duckdb_script_count_sql). Both implement
# the same Unicode Script property.
SCRIPT_CLASSES: dict[str, list[str]] = {
    "latin": ["Latin"],
    "han": ["Han"],
    "kana": ["Hiragana", "Katakana"],
    "ko": ["Hangul"],
    "ru": ["Cyrillic"],
    "ar": ["Arabic"],
    "hi": ["Devanagari"],
    "el": ["Greek"],
    "he": ["Hebrew"],
    "th": ["Thai"],
}
# script-decided labels, deterministic tie-break order (earlier wins)
SCRIPT_LANG_ORDER = ["zh", "ja", "ko", "ru", "ar", "hi", "el", "he", "th"]
KANA_JA_DEN = 20  # ja when kana * KANA_JA_DEN >= han (>= 5% kana)


def script_count_exprs(t: Column, non_ascii: Column | None = None) -> dict[str, Column]:
    """Raw per-script character counts (one codegen regexp_count per
    SCRIPT_CLASSES entry).

    All counts are gated on a byte-length ASCII probe (``non_ascii``,
    pass a pre-projected boolean column so it evaluates once per row):
    a pure-ASCII doc (UTF-8 octets == chars) can contain no non-Latin
    script, and its Latin count is never consulted (the script tier
    only fires when a non-Latin script OUTNUMBERS Latin, i.e. max > 0).
    Codegen CASE branches evaluate lazily per row, so the dominant
    ASCII mass of a web crawl pays one probe instead of ten regex
    passes — without the gate the sf0.1 text_quality bench ran 2.1x
    slower. Results are identical gated or not (the DuckDB twin
    computes unconditionally)."""
    if non_ascii is None:
        non_ascii = F.octet_length(t) != F.length(t)
    out = {}
    for key, scripts in SCRIPT_CLASSES.items():
        pat = "[" + "".join(f"\\p{{Is{s}}}" for s in scripts) + "]"
        out[key] = F.when(non_ascii, F.regexp_count(t, F.lit(pat))).otherwise(
            F.lit(0)
        )
    return out


def duckdb_script_count_sql(key: str, text_expr: str = "text") -> str:
    """The DuckDB twin of one script_count_exprs entry (RE2 spelling)."""
    pat = "[" + "".join(f"\\p{{{s}}}" for s in SCRIPT_CLASSES[key]) + "]"
    return f"len(regexp_extract_all({text_expr}, '{pat}'))"


def _script_effective(c: dict) -> dict[str, Column]:
    """Effective per-language script counts from raw counts: the ja/zh
    split on kana share; every other label is its script verbatim."""
    ja_like = (c["kana"] > 0) & (c["kana"] * KANA_JA_DEN >= c["han"])
    return {
        "zh": F.when(ja_like, F.lit(0)).otherwise(c["han"]),
        "ja": F.when(ja_like, c["han"] + c["kana"]).otherwise(F.lit(0)),
        "ko": c["ko"], "ru": c["ru"], "ar": c["ar"], "hi": c["hi"],
        "el": c["el"], "he": c["he"], "th": c["th"],
    }


def script_count_sql(key: str, text_expr: str, non_ascii_expr: str) -> str:
    """SQL twin of one :func:`script_count_exprs` entry (same Java-regex
    pattern, same ASCII gate) — see :func:`_marker_tokens_sql` for the
    r14 py4j-cost rationale behind the SQL-text forms."""
    pat = "[" + "".join(f"\\p{{Is{s}}}" for s in SCRIPT_CLASSES[key]) + "]"
    return (
        f"CASE WHEN {non_ascii_expr} "
        f"THEN regexp_count({text_expr}, {_sql_str(pat)}) ELSE 0 END"
    )


def _script_effective_sql(c: dict[str, str]) -> dict[str, str]:
    """SQL twin of :func:`_script_effective` over count EXPRESSIONS."""
    ja_like = f"({c['kana']} > 0 AND {c['kana']} * {KANA_JA_DEN} >= {c['han']})"
    out = {
        "zh": f"CASE WHEN {ja_like} THEN 0 ELSE {c['han']} END",
        "ja": f"CASE WHEN {ja_like} THEN {c['han']} + {c['kana']} ELSE 0 END",
    }
    for l in ("ko", "ru", "ar", "hi", "el", "he", "th"):
        out[l] = c[l]
    return out


def _argmax_label_sql(counts: dict[str, str], order: list[str], fallback: str) -> str:
    """SQL twin of :func:`_argmax_label` (same earlier-wins argmax via
    array_position; the repeated array(...) text is the same duplicated
    subtree the reused Column object produced — Column reuse shares the
    PYTHON handle, not the plan node)."""
    arr = "array(" + ", ".join(counts[n] for n in order) + ")"
    labels = "array(" + ", ".join(_sql_str(n) for n in order) + ")"
    return (
        f"CASE WHEN array_max({arr}) > 0 THEN element_at({labels}, "
        f"CAST(array_position({arr}, array_max({arr})) AS INT)) "
        f"ELSE {fallback} END"
    )


def _lang_pred_sql(latin_expr: str) -> str:
    """SQL twin of :func:`_lang_pred` over the projected ``_s_<lang>`` /
    ``_h_<lang>`` count columns."""
    scounts = {l: f"_s_{l}" for l in SCRIPT_LANG_ORDER}
    hits = {l: f"_h_{l}" for l in LANG_ORDER}
    marker_pred = _argmax_label_sql(hits, LANG_ORDER, "'und'")
    script_pred = _argmax_label_sql(scounts, SCRIPT_LANG_ORDER, "'und'")
    gmax = "greatest(" + ", ".join(scounts[l] for l in SCRIPT_LANG_ORDER) + ")"
    return (
        f"CASE WHEN {gmax} > {latin_expr} THEN {script_pred} "
        f"ELSE {marker_pred} END"
    )


def _argmax_label(counts: dict, order: list[str], fallback: Column) -> Column:
    """Earlier-wins argmax over named counts: the label at the FIRST
    index achieving the maximum (``array_position`` returns the first
    occurrence), ``fallback`` when the max is 0 — provably identical to
    the spelled-out earlier-strict/later-ge CASE chain it replaced (the
    first index i with count == max beats every j<i strictly, since
    those hold count < max, and every j>i at-least). The CASE chain was
    O(|langs|²) comparisons ≈ an 800-node expression tree at 12
    languages, and CATALYST PLANNING of that tree cost ~1.3 s per fresh
    query build (measured; execution was 0.3 s) — this form is ~30
    nodes."""
    arr = F.array(*[counts[n] for n in order])
    labels = F.array(*[F.lit(n) for n in order])
    m = F.array_max(arr)
    return F.when(
        m > 0, F.element_at(labels, F.array_position(arr, m).cast("int"))
    ).otherwise(fallback)


_WS = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text; empty text → empty array."""
    t = F.trim(F.lower(text))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, _WS)
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def tokens_sql(c: str) -> str:
    """Spark-SQL string twin of :func:`tokens` over the column/field
    expression ``c`` — for operators built via ``F.expr`` (one SQL
    string parsed JVM-side replaces dozens of py4j Column round trips;
    the r14 measurement on conversation_stats was 0.33 s → 0.06 s of
    driver build for identical schema and rows). Must stay in lockstep
    with :func:`tokens`; equality is pinned in tests."""
    t = f"trim(lower({c}))"
    return (
        f"CASE WHEN length({t}) = 0 THEN CAST(array() AS array<string>) "
        f"ELSE split({t}, '\\\\s+') END"
    )


# The DuckDB twin of tokens() over a column named `text` — THE single
# definition every oracle-SQL builder must reuse (queries._SQL_TOKS,
# lm.duckdb_backoff_sql): two copies would let the shared whitespace
# tokenizer drift between an entry's Spark half and its oracle half.
DUCKDB_TOKS_SQL = (
    r"CASE WHEN length(trim(lower(text))) = 0 THEN []::VARCHAR[] "
    r"ELSE regexp_split_to_array(trim(lower(text)), '\s+') END"
)


# ASCII punctuation; Java \p{Punct} == POSIX [[:punct:]] on ASCII input
_PUNCT = r"\p{Punct}"


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, _PUNCT, ""))


def quality_frame(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality metrics: char/token counts, mean token length,
    punctuation ratio, English-stopword ratio.

    Two-stage projection: tokenization/regex run ONCE per row into real
    columns, and the metric expressions reference those columns. Inlining
    them re-evaluates the regex splits per metric (and per lambda element
    in the stopword filter) — measurably slower at scale."""
    t = F.col(text_col)
    en = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    pre = df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("_len"),
        tokens(t).alias("_toks"),
        punct_count(t).cast("long").alias("_punct"),
        F.length(F.regexp_replace(F.trim(F.lower(t)), _WS, "")).alias("_nsp"),
    )
    n_tok = F.size("_toks")
    return pre.select(
        F.col(id_col),
        F.col("_len").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(
            F.when(n_tok > 0, F.col("_nsp") / n_tok).otherwise(F.lit(0.0)), 6
        ).alias("mean_token_len"),
        F.round(
            F.when(F.col("_len") > 0, F.col("_punct") / F.col("_len")).otherwise(F.lit(0.0)),
            6,
        ).alias("punct_ratio"),
        F.round(
            F.when(
                n_tok > 0,
                F.size(F.filter(F.col("_toks"), lambda x: F.array_contains(en, x))) / n_tok,
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("stopword_ratio"),
    )


def _sql_str(w: str) -> str:
    """A Spark-SQL single-quoted string literal for ``w`` (markers are
    plain lowercase words today; escape defensively anyway)."""
    return "'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _marker_tokens_sql(toks_expr: str) -> str:
    """ONE pass over the token array keeping only marker-word
    occurrences (any language) — the per-language counts then filter
    this tiny survivor array instead of re-scanning every token per
    language (~1-20 markers per doc vs hundreds of tokens; identical
    counts, since the prefilter preserves every occurrence of every
    listed marker). ``IN`` (not array_contains over a literal array):
    above inSetConversionThreshold it compiles to an InSet HASH lookup,
    O(1) per token instead of a linear scan of ~100 literals.

    Built as ONE SQL string (r14): the Column form paid one py4j round
    trip PER LITERAL (~140 markers) plus one per lambda — together with
    the per-language hit counts that was 1.4 s of the 1.9 s
    quality_langid_frame driver build (profiled); the SQL text parses
    JVM-side in ~ms and yields the identical In/InSet expression."""
    lits = ", ".join(_sql_str(w) for w in ALL_MARKERS)
    return f"filter({toks_expr}, x -> x IN ({lits}))"


def _marker_hits_sql(words: list[str]) -> str:
    """Occurrence count of ``words`` over the projected ``_mtoks``
    marker-survivor column (SQL text — see :func:`_marker_tokens_sql`)."""
    lits = ", ".join(_sql_str(w) for w in words)
    return f"size(filter(_mtoks, x -> x IN ({lits})))"


def _lang_pred(latin_col: Column) -> Column:
    """The two-tier language CASE over already-projected count columns
    ``_s_<lang>`` (effective script counts) and ``_h_<lang>`` (marker
    hits): the dominant non-Latin script decides outright when it
    outnumbers the Latin letters; otherwise marker words break the
    Latin-script tie (both tiers earlier-strict/later-ge argmax — the
    same CASE the SQL oracle spells out)."""
    scounts = {l: F.col(f"_s_{l}") for l in SCRIPT_LANG_ORDER}
    hits = {l: F.col(f"_h_{l}") for l in LANG_ORDER}
    marker_pred = _argmax_label(hits, LANG_ORDER, F.lit("und"))
    script_pred = _argmax_label(scounts, SCRIPT_LANG_ORDER, F.lit("und"))
    return F.when(
        F.greatest(*scounts.values()) > latin_col, script_pred
    ).otherwise(marker_pred)


def lang_id_frame(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID, two tiers (r9): a Unicode-script character
    histogram decides CJK/Cyrillic/Arabic/Devanagari/Greek/Hebrew/Thai
    whenever the dominant non-Latin script outnumbers the Latin letters
    (pure codegen regexp_count — no model); Latin-script text falls to
    the marker-word tier (deterministic tie-break by LANG_ORDER, exactly
    the pre-r9 behavior).

    The winner-CASEs reference each count ~|langs| times, so script
    counts, marker survivors, and hit counts are projected to real
    columns first — inlined, the CASE would re-run the regex/filter
    per comparison. Stage count is deliberately MINIMAL (two): any
    projection holding a higher-order function (the marker prefilter,
    the hit filters) runs interpreted in Spark 4.1 (HOFs are
    CodegenFallback), and every extra interpreted boundary pays a full
    row copy — measured 2.5× on this frame when the same expressions
    were spread over four stages."""
    t = f"`{text_col}`"
    na = f"octet_length({t}) != length({t})"
    # the whole frame is built as selectExpr SQL text (r14): the Column
    # form paid a py4j round trip per function/lambda/literal — see
    # _marker_tokens_sql; expressions mirror the Column helpers exactly
    # (the helpers stay for the equivalence tests)
    pre = df.selectExpr(
        f"`{id_col}`",
        _marker_tokens_sql(tokens_sql(t)) + " AS _mtoks",
        *[script_count_sql(k, t, na) + f" AS _sc_{k}" for k in SCRIPT_CLASSES],
    )
    eff = _script_effective_sql({k: f"_sc_{k}" for k in SCRIPT_CLASSES})
    counted = pre.selectExpr(
        f"`{id_col}`",
        "_sc_latin",
        *[f"{eff[l]} AS _s_{l}" for l in SCRIPT_LANG_ORDER],
        *[
            _marker_hits_sql(LANG_MARKERS[lang]) + f" AS _h_{lang}"
            for lang in LANG_ORDER
        ],
    )
    return counted.selectExpr(
        f"`{id_col}`",
        _lang_pred_sql("_sc_latin") + " AS pred_lang",
        *[f"CAST(_h_{lang} AS BIGINT) AS hits_{lang}" for lang in LANG_ORDER],
    )


# GPT-2-style pre-tokenization split (public pattern family: contraction
# suffixes, letter runs, digit runs, other-symbol runs, each with optional
# leading space). No lookaheads → identical semantics under Java regex
# (Spark) and RE2 (DuckDB), verified on mixed-script samples.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pre-tokens of raw text (case-preserving, as BPE sees it)."""
    return F.regexp_extract_all(text, F.lit(BPE_SPLIT_PATTERN), 0)


# Java \s (and RE2 \s) is ASCII-only — NOT Python str.isspace(), which
# would also break pre-token runs on U+00A0 etc. and drift from the
# Spark/DuckDB column twin above.
_ASCII_WS = " \t\n\r\x0b\x0c"
_CONTRACTIONS = ("s", "t", "re", "ve", "m", "ll", "d")  # pattern order


def gpt2_pretokens(text: str) -> list[str]:
    """Python twin of :func:`bpe_tokens` — the same pre-token sequence
    ``regexp_extract_all(text, BPE_SPLIT_PATTERN)`` yields, as a driver/
    worker-side scanner (Python ``re`` has no ``\\p{L}``). Used by the
    subword trainers' encode paths so frame encode and pure-Python
    reference encode agree symbol-for-symbol. Deterministic; letters and
    digits are the Unicode L*/N* categories (Java's ``\\p{L}``/``\\p{N}``),
    whitespace is ASCII (Java/RE2 ``\\s``)."""
    import unicodedata

    def cat(ch: str) -> str:
        return unicodedata.category(ch)[0]

    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            suf = next(
                (s for s in _CONTRACTIONS if text.startswith(s, i + 1)), None
            )
            if suf is not None:
                out.append("'" + suf)
                i += 1 + len(suf)
                continue
        sp, j = "", i
        if c == " " and i + 1 < n:
            sp, j = " ", i + 1
        if j < n:
            k0 = cat(text[j])
            if k0 in ("L", "N"):
                k = j
                while k < n and cat(text[k]) == k0:
                    k += 1
                out.append(sp + text[j:k])
                i = k
                continue
            if text[j] not in _ASCII_WS:
                k = j
                while (
                    k < n
                    and text[k] not in _ASCII_WS
                    and cat(text[k]) not in ("L", "N")
                ):
                    k += 1
                out.append(sp + text[j:k])
                i = k
                continue
        i += 1
    return out


def token_count_frame(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Both token-count flavors a data pipeline budgets with: whitespace
    words and BPE-ish pre-tokens (the better proxy for LLM token cost)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(t).cast("long").alias("n_ws_tokens"),
        F.size(bpe_tokens(t)).cast("long").alias("n_bpe_tokens"),
    )


def fingerprint_frame(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text —
    the exact-dedup key (stable across engines and runs)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), _WS, " "))
    return df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))


def token_fingerprint_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """token_count_frame + fingerprint_frame columns in ONE projection —
    the registry's merged text_token_counts entry. A join of the two
    frames would scan the table twice for what is a single narrow map."""
    t = F.col(text_col)
    norm = F.trim(F.regexp_replace(F.lower(t), _WS, " "))
    return df.select(
        F.col(id_col),
        token_count(t).cast("long").alias("n_ws_tokens"),
        F.size(bpe_tokens(t)).cast("long").alias("n_bpe_tokens"),
        F.md5(norm).alias("fingerprint"),
    )


def quality_langid_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """quality_frame + lang_id_frame + token_fingerprint_frame columns in
    ONE scan (the registry's merged text_quality entry — r7 folded the
    former text_token_counts entry in too, freeing a 50-entry-window
    slot). Same two-stage projection discipline as the parts:
    tokenization/regex once into real columns, hit counts into real
    columns, then the metric/CASE expressions over those."""
    t = f"`{text_col}`"
    na = f"octet_length({t}) != length({t})"
    # stage count deliberately MINIMAL (three) — see lang_id_frame's
    # docstring: HOF-bearing projections run interpreted and each extra
    # boundary pays a per-row copy of every carried column (incl. the
    # token array). n_tokens and the marker survivors are both derived
    # from the SAME tokenization expression in stage 1; only the (tiny)
    # survivor array and the token COUNT flow downstream — the full
    # token array never crosses a stage boundary. Built as selectExpr
    # SQL text (r14, see _marker_tokens_sql): the Column form measured
    # 0.9-1.3 s of driver build per call, ~5k py4j round trips.
    pre = df.selectExpr(
        f"`{id_col}`",
        f"CAST(length({t}) AS BIGINT) AS _len",
        f"size({tokens_sql(t)}) AS _ntok",
        _marker_tokens_sql(tokens_sql(t)) + " AS _mtoks",
        f"CAST(length({t}) - length(regexp_replace({t}, {_sql_str(_PUNCT)}, ''))"
        " AS BIGINT) AS _punct",
        f"length(regexp_replace(trim(lower({t})), {_sql_str(_WS)}, '')) AS _nsp",
        f"CAST(size(regexp_extract_all({t}, {_sql_str(BPE_SPLIT_PATTERN)}, 0))"
        " AS BIGINT) AS _bpe",
        f"md5(trim(regexp_replace(lower({t}), {_sql_str(_WS)}, ' '))) AS _fp",
        *[script_count_sql(k, t, na) + f" AS _sc_{k}" for k in SCRIPT_CLASSES],
    )
    eff = _script_effective_sql({k: f"_sc_{k}" for k in SCRIPT_CLASSES})
    counted = pre.selectExpr(
        "*",
        *[f"{eff[l]} AS _s_{l}" for l in SCRIPT_LANG_ORDER],
        *[
            _marker_hits_sql(LANG_MARKERS[lang]) + f" AS _h_{lang}"
            for lang in LANG_ORDER
        ],
    )
    return counted.selectExpr(
        f"`{id_col}`",
        "_len AS n_chars",
        "CAST(_ntok AS BIGINT) AS n_tokens",
        "round(CASE WHEN _ntok > 0 THEN _nsp / _ntok ELSE 0.0D END, 6)"
        " AS mean_token_len",
        "round(CASE WHEN _len > 0 THEN _punct / _len ELSE 0.0D END, 6)"
        " AS punct_ratio",
        "round(CASE WHEN _ntok > 0 THEN _h_en / _ntok ELSE 0.0D END, 6)"
        " AS stopword_ratio",
        _lang_pred_sql("_sc_latin") + " AS pred_lang",
        *[f"CAST(_h_{lang} AS BIGINT) AS hits_{lang}" for lang in LANG_ORDER],
        "_bpe AS n_bpe_tokens",
        "_fp AS fingerprint",
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (the term-weighting /
    vocabulary primitive of a text pipeline), fully deterministic and
    SQL-exact: tf = in-doc occurrences, idf = ln((N+1)/(df+1)) + 1
    (smoothed, sklearn-style), ties broken by term. Returns
    (doc_id, term, tf, df, score, rn).

    Plan shape: explode → two keyed aggregations (map-side combined) →
    broadcast the per-term document frequencies (vocabulary ≪ corpus)
    back onto the per-doc counts → per-doc top-k window. The only
    all-corpus products here are aggregates; nothing quadratic."""
    from pyspark.sql import Window as W

    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("__n")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("__n") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
                6,
            ),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select(id_col, "term", "tf", "df", "score", "rn")
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (the rolling-window scheme of MOSS,
    Schleimer/Wilkerson/Aiken SIGMOD'03): hash every word n-gram, slide a
    ``window``-wide frame over the hash sequence, keep each frame's
    minimum; the DISTINCT minima are the document's fingerprint set.
    Guarantees any shared run of ``window + n - 1`` tokens between two
    documents shares a fingerprint — the local-dedup primitive between
    exact hashing and MinHash.

    Plan shape (scale): posexplode → two ROW-frame window passes
    partitioned by document — everything whole-stage-codegen column work
    (md5, lead, min), ONE shuffle on doc_id; no higher-order-function
    interpretation, no UDF. Short documents (< window grams) contribute
    the min of the grams they have; docs with < n tokens drop out.
    Returns (doc_id, fp) distinct."""
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = W.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", i).over(w) for i in range(1, n)]
    )
    grams = toks.select(
        F.col(id_col),
        F.col("pos"),
        F.md5(gram).alias("h"),
        F.lead("tok", n - 1).over(w).isNotNull().alias("_ok"),
    ).where("_ok")
    wm = grams.select(
        F.col(id_col),
        F.min("h").over(w.rowsBetween(0, window - 1)).alias("fp"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(W.partitionBy(id_col)).alias("_ng"),
    )
    return (
        wm.where(F.col("_rn") <= F.greatest(F.col("_ng") - (window - 1), F.lit(1)))
        .select(F.col(id_col), F.col("fp"))
        .distinct()
    )


def readability_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_sentences, n_words, n_syllables, flesch): Flesch reading
    ease with the standard vowel-group syllable heuristic — a text-
    complexity quality signal (very low or very high scores flag
    word-salad and boilerplate respectively).

    Everything is whole-stage-codegen JVM expressions: sentences =
    [.!?]+ runs (min 1), words = whitespace tokens, syllables per word =
    vowel-group count via a pre-projected token array (the per-element
    re-evaluation trap — see the dsir featurization note) with a
    silent-e correction, floored at 1. flesch = 206.835 − 1.015·(W/S) −
    84.6·(syll/W), rounded to 3."""
    toks = tokens(F.col(text_col))
    projected = df.select(F.col(id_col), F.col(text_col), toks.alias("_toks"))
    syl_of = lambda w: F.greatest(  # noqa: E731
        F.size(F.split(F.regexp_replace(w, "e$", ""), "[aeiouy]+", -1)) - 1,
        F.lit(1),
    )
    n_sent = F.greatest(
        F.size(F.split(F.trim(F.col(text_col)), r"[.!?]+", -1)) - 1, F.lit(1)
    )
    out = projected.select(
        F.col(id_col),
        n_sent.alias("n_sentences"),
        F.size("_toks").alias("n_words"),
        F.aggregate(
            F.transform(F.col("_toks"), syl_of), F.lit(0), lambda acc, x: acc + x
        ).alias("n_syllables"),
    )
    return out.withColumn(
        "flesch",
        F.when(
            F.col("n_words") > 0,
            F.round(
                F.lit(206.835)
                - F.lit(1.015) * (F.col("n_words") / F.col("n_sentences"))
                - F.lit(84.6) * (F.col("n_syllables") / F.col("n_words")),
                3,
            ),
        ),
    )


def hash_embed_frame(
    df: DataFrame,
    dim: int = 256,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, embedding array<double>): deterministic hashing-trick text
    embeddings (Weinberger et al. 2009 feature hashing) — the
    no-model-required producer for the embedding operators: cosine on
    these vectors approximates word ``k``-gram overlap, so
    ``semantic_dedup`` / ``incremental_semantic_dedup`` / the ANN family
    run WITHOUT an external encoder (document the semantics honestly:
    this is lexical near-duplicate geometry, not learned semantics — two
    paraphrases with disjoint wording will NOT land close).

    Each word ``k``-gram hashes to coordinate ``pmod(h, dim)`` with sign
    ``±1`` from an independent hash bit (the signed construction keeps
    collisions mean-zero, the paper's trick); counts accumulate and the
    vector is L2-normalized (all-empty text → the zero vector). Docs
    shorter than ``k`` words embed their single whole-doc gram so short
    docs still dedup by exact wording.

    Scale shape: tokenization, gram construction, and xxhash64 all run
    JVM-side in ONE whole-stage-codegen Project — Python never sees a
    string; the Arrow pass receives only the int64 hash arrays and does
    a vectorized scatter-add per doc (np.add.at) plus one normalize.
    One ArrowEvalPython, ZERO exchanges, nothing collected. At 100 TB
    this is the same plan class as tokenize_frame: embarrassingly
    parallel over input splits.

    Determinism: a pure function of (text, dim, k) — partition- and
    re-run-invariant (pinned by tests), so incremental semantic dedup
    can re-embed history-free."""
    return df.select(
        F.col(id_col), hash_embed_col(text_col, dim, k).alias("embedding")
    )


def hash_embed_col(text_col: str = "text", dim: int = 256, k: int = 3):
    """The hashing-trick embedding as a COLUMN expression (see
    :func:`hash_embed_frame` for semantics) — lets a pipeline attach
    the vector with one ``withColumn`` instead of a self-join."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    toks = tokens(F.col(text_col))
    grams = F.when(F.size(toks) < F.lit(k), F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(k)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )
    grams = F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(grams)
    hashed = F.transform(grams, lambda g: F.xxhash64(g))
    d = int(dim)

    @pandas_udf("array<double>")
    def scatter(hs: pd.Series) -> pd.Series:
        # one vectorized pass over the WHOLE Arrow batch: flatten every
        # row's hashes, scatter-add into an (n_rows, dim) matrix via a
        # single np.add.at on row*dim+coord, then row-normalize. At the
        # soak's short docs this measures even with a per-row loop (the
        # Arrow result transfer dominates — SCALE.md r8); the flattened
        # form is kept because its Python cost is per-GRAM-array, not
        # per-doc×per-gram, so long documents cannot regress it.
        n_rows = len(hs)
        M = np.zeros((n_rows, d), dtype=np.float64)
        arrays = [
            np.asarray(h, dtype=np.int64)
            for h in hs
            if h is not None and len(h)
        ]
        rows = np.fromiter(
            (i for i, h in enumerate(hs) if h is not None and len(h)),
            dtype=np.int64, count=len(arrays),
        )
        if arrays:
            lens = np.fromiter((len(a) for a in arrays), dtype=np.int64,
                               count=len(arrays))
            flat = np.concatenate(arrays)
            row_ix = np.repeat(rows, lens)
            j = np.mod(flat, d)  # numpy mod is python-style: in [0, d)
            s = np.where((flat >> 1) & 1 == 1, 1.0, -1.0)
            np.add.at(M.reshape(-1), row_ix * d + j, s)
            norms = np.linalg.norm(M, axis=1, keepdims=True)
            np.divide(M, norms, out=M, where=norms > 0.0)
        return pd.Series(list(M))

    return scatter(hashed)


def hash_embed_reference(text: str, dim: int = 256, k: int = 3) -> list:
    """Pure-Python reference of :func:`hash_embed_frame` for one text —
    property-test twin (NO Spark). Lockstep means JAVA semantics, not
    Python's: ``F.trim`` strips SPACES only (not ``\\n`` or NBSP) and
    Java ``\\s`` is the ASCII class ``[ \\t\\n\\x0b\\f\\r]`` (the same
    ASCII-vs-unicode trap :data:`BPE_SPLIT_PATTERN` documents) —
    ``str.strip()``/``str.split()`` would diverge on any non-ASCII
    whitespace. Uses the spec XXH64 from operators/xxh."""
    import re

    import numpy as np

    from xdump_spark.operators.xxh import xxhash64_py

    t = text.lower().strip(" ")  # F.trim: ASCII space only
    # tokens(): [] iff the trimmed text is empty; else Java \s+ split
    # (limit -1 keeps leading/trailing empties, as F.split does)
    words = [] if not t else re.split(r"[ \t\n\x0b\f\r]+", t)
    if not words:
        return [0.0] * dim
    if len(words) < k:
        grams = [" ".join(words)]
    else:
        grams = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]
    v = np.zeros(dim, dtype=np.float64)
    for g in grams:
        h = xxhash64_py(g.encode("utf-8"))
        v[h % dim] += 1.0 if (h >> 1) & 1 == 1 else -1.0
    n = float(np.linalg.norm(v))
    if n > 0.0:
        v /= n
    return [float(x) for x in v]
