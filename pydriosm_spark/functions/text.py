"""Text-analysis primitives for the training-data pipeline suite:
tokenization, quality metrics, language-ID heuristic, fingerprinting.

All metrics are *integer-valued* (counts, 1e6-scaled ratios via integer
floor-division) so the DuckDB oracle reproduces them exactly — no float
rounding ambiguity.  Every fragment renders in both dialects from one
template; the Spark side stays native (whole-stage codegen higher-order
functions, zero Python, zero shuffle).
"""

from __future__ import annotations

#: tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic; order = deterministic tie-break priority
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "y", "que", "es"],
}

PUNCT_CLASS = r"[.,!?;:]"


def tokens_sql(text: str, dialect: str) -> str:
    if dialect == "spark":
        return f"split(trim({text}), '\\\\s+')"
    return f"string_split_regex(trim({text}), '\\s+')"


def ntokens_sql(text: str, dialect: str) -> str:
    fn = "size" if dialect == "spark" else "len"
    return f"{fn}({tokens_sql(text, dialect)})"


def _count_in_sql(tokens: str, words: list[str], dialect: str) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    if dialect == "spark":
        return f"size(filter({tokens}, t -> t IN ({lst})))"
    return f"len(list_filter({tokens}, t -> t IN ({lst})))"


def stopword_count_sql(text: str, lang: str, dialect: str) -> str:
    """Count of tokens in the language's stopword list.

    Spark side: ``regexp_count`` with whitespace boundaries — a codegen
    regular expression instead of an interpreted ``filter()`` lambda
    over the token array (equivalent to the token form because tokens
    are exactly the \\s+-delimited runs).  DuckDB keeps the list_filter
    form, so the oracle cross-checks the equivalence."""
    if dialect == "spark":
        alt = "|".join(LANG_STOPWORDS[lang])
        return f"regexp_count(trim({text}), '(^|\\\\s)({alt})(?=\\\\s|$)')"
    return _count_in_sql(tokens_sql(text, dialect), LANG_STOPWORDS[lang], dialect)


def punct_count_sql(text: str, dialect: str) -> str:
    return f"(length({text}) - length(regexp_replace({text}, '{PUNCT_CLASS}', '')))"


def langid_sql(text: str, dialect: str) -> str:
    """Argmax of per-language stopword hits, ties broken in LANG order.

    Reference/oracle form: the CASE re-evaluates each HOF count up to 3x
    per row (Catalyst duplicates bound expressions), so the Spark engine
    path (``queries_text.q_text_profile``) sums the stopword hits in one
    hash aggregate over exploded tokens and applies :func:`_langid_case`
    to those columns."""
    toks = tokens_sql(text, dialect)
    cnt = {l: _count_in_sql(toks, ws, dialect) for l, ws in LANG_STOPWORDS.items()}
    return _langid_case(cnt)


def _langid_case(cnt: dict) -> str:
    langs = list(LANG_STOPWORDS)
    cases = []
    for i, l in enumerate(langs[:-1]):
        conds = " AND ".join(f"{cnt[l]} >= {cnt[m]}" for m in langs[i + 1:])
        cases.append(f"WHEN {conds} THEN '{l}'")
    return "(CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END)"


#: BPE-ish pre-tokenizer: letter runs, digit runs, single other symbols —
#: the GPT-2-style pre-split shape (letters / numbers / punctuation),
#: identical semantics in Java regex (Spark) and RE2 (DuckDB)
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count_sql(text: str, dialect: str) -> str:
    """Count of BPE-ish pre-tokens (the token-budget estimator a training
    pipeline runs over every document)."""
    if dialect == "spark":
        # Spark SQL string literals process backslash escapes; DuckDB's don't
        return f"size(regexp_extract_all({text}, '{BPE_PATTERN.replace(chr(92), chr(92) * 2)}', 0))"
    return f"len(regexp_extract_all({text}, '{BPE_PATTERN}'))"


def fingerprint_sql(text: str, dialect: str) -> str:
    """Document fingerprint: md5 of the whitespace-normalized lowercase
    text (the reference's deterministic-key idea — pickle keys derived
    from normalized names, /root/reference/pydriosm/reader/_reader.py:616-654 —
    recast as content addressing)."""
    norm = f"lower(regexp_replace(trim({text}), '\\\\s+', ' '))" if dialect == "spark" else (
        f"lower(regexp_replace(trim({text}), '\\s+', ' ', 'g'))"
    )
    return f"md5({norm})"


def quality_select_sql(text: str, dialect: str) -> dict[str, str]:
    """Column-name -> SQL fragment for the quality-score query.  Ratios
    are integer 1e6-scaled floor divisions."""
    idiv = "DIV" if dialect == "spark" else "//"
    n_chars = f"length({text})"
    n_tokens = ntokens_sql(text, dialect)
    n_punct = punct_count_sql(text, dialect)
    n_stop = stopword_count_sql(text, "en", dialect)
    return {
        "n_chars": f"CAST({n_chars} AS BIGINT)",
        "n_tokens": f"CAST({n_tokens} AS BIGINT)",
        "n_punct": f"CAST({n_punct} AS BIGINT)",
        "n_stop_en": f"CAST({n_stop} AS BIGINT)",
        "punct_ratio_e6": f"CAST(({n_punct} * 1000000) {idiv} greatest({n_chars}, 1) AS BIGINT)",
        "stop_ratio_e6": f"CAST(({n_stop} * 1000000) {idiv} greatest({n_tokens}, 1) AS BIGINT)",
        "avg_token_len_e6": f"CAST(({n_chars} * 1000000) {idiv} greatest({n_tokens}, 1) AS BIGINT)",
    }
