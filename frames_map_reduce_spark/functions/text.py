"""Text analysis for large-scale training-data pipelines.

All hot-path functions are native Column expressions (JVM-side, inside
whole-stage codegen) — no Python in the per-row path.  For each operator
there is also a DuckDB-SQL generator producing the *same* semantics, used
by the differential-test oracle; both are generated from one shared spec
so they cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization
# ---------------------------------------------------------------------------

# Whitespace spelled as an explicit char class instead of \s: the class
# below is exactly Java-regex \s (what the Spark product path matches),
# while RE2 — the engine behind the DuckDB oracles — defines \s WITHOUT
# \x0b.  Sharing one explicit class keeps both engines identical by
# construction (a vertical tab in future testdata would otherwise break
# the oracle, not the product path).
WS_CHARS = " \\t\\n\\x0b\\f\\r"
WS = f"[{WS_CHARS}]+"


def tokens(col: Column, lowercase: bool = True) -> Column:
    """Whitespace tokens, empties removed."""
    c = F.lower(col) if lowercase else col
    return F.filter(F.split(c, WS), lambda t: t != F.lit(""))


def tokens_sql(col: str, lowercase: bool = True) -> str:
    c = f"lower({col})" if lowercase else col
    return f"list_filter(string_split_regex({c}, '{WS}'), t -> t <> '')"


def token_count(col: Column) -> Column:
    """Whitespace token count (native; used for corpus token budgeting)."""
    return F.size(tokens(col, lowercase=False))


def token_count_sql(col: str) -> str:
    return f"len({tokens_sql(col, lowercase=False)})"


# BPE-ish word/punct tokenizer: words of letters+digits OR single
# non-space-non-word symbols — a common pre-tokenization for byte-pair
# encoders, cheap enough to run on 100 TB as a pure regex extract.
WORDISH = f"[a-z0-9]+|[^a-z0-9{WS_CHARS}]"


def wordish_tokens(col: Column) -> Column:
    return F.regexp_extract_all(F.lower(col), F.lit(WORDISH), 0)


def wordish_count(col: Column) -> Column:
    return F.size(wordish_tokens(col))


def wordish_count_sql(col: str) -> str:
    return f"len(regexp_extract_all(lower({col}), '{WORDISH}'))"


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

def _ratio(numer: Column, denom: Column) -> Column:
    return F.try_divide(numer, denom)


def punct_ratio(col: Column) -> Column:
    return _ratio(F.length(F.regexp_replace(col, f"[^{_punct_raw()}]", "")),
                  F.length(col))


def _punct_raw() -> str:
    # explicit, engine-portable punctuation set (same bytes in Java regex
    # and RE2): no ranges that differ between dialects, and no apostrophe
    # (it would terminate a single-quoted SQL literal in the oracle twin)
    return r"\.\,\;\:\!\?\"\(\)\-"


def punct_ratio_sql(col: str) -> str:
    return (f"len(regexp_replace({col}, '[^{_punct_raw()}]', '', 'g'))"
            f" / nullif(len({col}), 0)")


def digit_ratio(col: Column) -> Column:
    return _ratio(F.length(F.regexp_replace(col, "[^0-9]", "")), F.length(col))


def digit_ratio_sql(col: str) -> str:
    return f"len(regexp_replace({col}, '[^0-9]', '', 'g')) / nullif(len({col}), 0)"


STOPWORDS_EN = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be", "this",
)


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Fraction of whitespace tokens that are (English) stopwords — the
    classic fluency signal for web-scrape quality filtering."""
    toks = tokens(col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return _ratio(hits, F.size(toks))


def stopword_ratio_sql(col: str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> str:
    lst = "[" + ", ".join(f"'{s}'" for s in stopwords) + "]"
    toks = tokens_sql(col)
    return (f"len(list_filter({toks}, t -> list_contains({lst}, t)))"
            f" / nullif(len({toks}), 0)")


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality score: long enough, low punct/digit noise,
    plausible stopword density.  Weights are fixed so the score is a pure
    deterministic expression (auditable, reproducible across runs).
    Keep in lockstep with :func:`quality_score_sql`."""
    n = F.length(col)
    len_score = F.least(_ratio(n, F.lit(500.0)), F.lit(1.0))
    noise = F.coalesce(punct_ratio(col), F.lit(0.0)) + F.coalesce(digit_ratio(col), F.lit(0.0))
    noise_score = F.greatest(F.lit(0.0), F.lit(1.0) - noise * 2)
    sw = F.coalesce(stopword_ratio(col), F.lit(0.0))
    sw_score = F.when((sw > 0.05) & (sw < 0.6), F.lit(1.0)).otherwise(F.lit(0.3))
    return len_score * 0.4 + noise_score * 0.3 + sw_score * 0.3


def quality_score_sql(col: str) -> str:
    """DuckDB twin of :func:`quality_score` — same formula, same nulls."""
    len_score = f"least(len({col}) / 500.0, 1.0)"
    noise = (f"(coalesce({punct_ratio_sql(col)}, 0.0)"
             f" + coalesce({digit_ratio_sql(col)}, 0.0))")
    noise_score = f"greatest(0.0, 1.0 - {noise} * 2)"
    sw = f"coalesce({stopword_ratio_sql(col)}, 0.0)"
    sw_score = f"(CASE WHEN {sw} > 0.05 AND {sw} < 0.6 THEN 1.0 ELSE 0.3 END)"
    return f"({len_score} * 0.4 + {noise_score} * 0.3 + {sw_score} * 0.3)"


# ---------------------------------------------------------------------------
# Language ID — marker-word n-gram heuristic.
# One shared marker table generates BOTH the Spark expression and the
# DuckDB oracle SQL, so the two cannot diverge.
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "that", "with", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "que", "pour", "dans"),
    "es": ("el", "los", "las", "es", "que", "para", "con", "una"),
    "it": ("il", "di", "che", "per", "con", "una", "sono", "della"),
}
_LANG_ORDER = tuple(LANG_MARKERS)  # deterministic tie-break order


def lang_id(col: Column) -> Column:
    """Predicted language: argmax marker-hit count, ties broken by the
    fixed language order, zero hits ⇒ 'unknown'.

    Formulated as ONE scores array + first-argmax:
    ``array_position(scores, array_max(scores))`` returns the FIRST
    maximal index, which IS the earlier-language-wins tie-break.  The
    r1–r5 rendering was a pairwise-comparison CASE whose tree embedded
    the token array O(L²) times (~30 copies of the tokenizer); codegen
    compiled it in ~13 s once per session on the composed curation
    queries (measured r6).  This tree holds the tokenizer ONCE inside
    the transform lambda — identical semantics (pinned by the same
    unit + oracle tests), ~tenth of the compile."""
    toks = tokens(col)
    markers = F.array(*[
        F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        for lang in _LANG_ORDER])
    scores = F.transform(
        markers,
        lambda ms: F.size(F.filter(toks, lambda t: F.array_contains(ms, t))))
    best = F.array_max(scores)
    langs = F.array(*[F.lit(lang) for lang in _LANG_ORDER])
    return F.when(
        best > 0,
        F.element_at(langs, F.array_position(scores, best).cast("int"))
    ).otherwise(F.lit("unknown"))


def lang_id_sql(col: str) -> str:
    toks = tokens_sql(col)

    def score(lang: str) -> str:
        lst = "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "]"
        return f"len(list_filter({toks}, t -> list_contains({lst}, t)))"

    cases = []
    for i, lang in enumerate(_LANG_ORDER):
        conds = [f"{score(lang)} > 0"]
        for j, other in enumerate(_LANG_ORDER):
            if other == lang:
                continue
            op = ">=" if j > i else ">"
            conds.append(f"{score(lang)} {op} {score(other)}")
        cases.append("WHEN " + " AND ".join(conds) + f" THEN '{lang}'")
    return "CASE " + " ".join(cases) + " ELSE 'unknown' END"


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------

def normalized(col: Column) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse runs of
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), WS, " "))


def normalized_sql(col: str) -> str:
    return f"trim(regexp_replace(lower({col}), '{WS}', ' ', 'g'))"


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    Used as the exact-dedup key and as a stable blocking key prefix."""
    return F.md5(normalized(col))


def fingerprint_sql(col: str) -> str:
    return f"md5({normalized_sql(col)})"


def char_shingles(col: Column, k: int = 5) -> Column:
    """Distinct character k-grams of the normalized text — the shingle set
    for MinHash / Jaccard near-dup.  Pure expression: transform over a
    sequence of start offsets, no UDF.

    The normalized string is BOUND ONCE per row via a single-element
    ``transform(array(norm), n -> ...)`` wrapper: lambda bodies are
    interpreted with no common-subexpression elimination, so inlining the
    normalization (a whole-text regexp_replace) into the per-offset lambda
    would re-run the regex once per shingle — measured 17 s vs ~1 s on 5k
    docs."""
    def shingles_of(n: Column) -> Column:
        cnt = F.greatest(F.length(n) - (k - 1), F.lit(1))
        return F.array_distinct(F.transform(
            F.sequence(F.lit(1), cnt), lambda i: F.substring(n, i, k)))

    return F.element_at(F.transform(F.array(normalized(col)), shingles_of), 1)


def char_shingles_sql(col: str, k: int = 5) -> str:
    norm = normalized_sql(col)
    return (f"list_distinct(list_transform(range(1, greatest(len({norm}) - {k - 1}, 1) + 1), "
            f"i -> substr({norm}, i, {k})))")


# ---------------------------------------------------------------------------
# Word n-grams (repetition analysis / corpus statistics)
# ---------------------------------------------------------------------------

def word_ngrams(col: Column, n: int = 2) -> Column:
    """Word n-grams (space-joined) of the whitespace tokens, order kept.

    Built as n shifted copies of the token array zipped with cheap
    ``concat_ws`` lambdas — O(tokens) work per row (the
    ``sequence``+``slice`` formulation would be O(tokens·n) with an
    interpreted slice per element; see char_shingles' binding note)."""
    if n < 1:
        raise ValueError("word_ngrams needs n >= 1")
    toks = tokens(col)
    if n == 1:
        return toks
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for i in range(1, n):
        out = F.zip_with(out, F.slice(toks, i + 1, m),
                         lambda a, b: F.concat_ws(" ", a, b))
    return out


def word_ngrams_sql(col: str, n: int = 2) -> str:
    toks = tokens_sql(col)
    if n == 1:
        return toks
    return (f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
            f"i -> array_to_string(({toks})[i:i+{n - 1}], ' '))")


# ---------------------------------------------------------------------------
# PII redaction (training-data scrubbing)
# ---------------------------------------------------------------------------
# Patterns restricted to the Java-regex ∩ RE2 common subset (no
# backreferences / lookaround) so the Spark expression and the DuckDB
# twin compile the same automaton.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE = "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}"
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (PII_EMAIL, "<EMAIL>"),
    "phone": (PII_PHONE, "<PHONE>"),
}


def pii_count(col: Column, kind: str) -> Column:
    """Number of matches of one PII pattern (native regexp, codegen)."""
    pat, _ = PII_PATTERNS[kind]
    return F.size(F.regexp_extract_all(col, F.lit(pat), 0)).cast("bigint")


def pii_count_sql(col: str, kind: str) -> str:
    pat, _ = PII_PATTERNS[kind]
    return f"CAST(len(regexp_extract_all({col}, '{pat}')) AS BIGINT)"


def redact_pii(col: Column, kinds: tuple[str, ...] = ("email", "phone")) -> Column:
    """Replace every PII match with its tag, applying patterns in the
    given order (order matters where patterns could overlap — keep the
    SQL twin in lockstep).  Spark ``regexp_replace`` is global."""
    out = col
    for kind in kinds:
        pat, tag = PII_PATTERNS[kind]
        out = F.regexp_replace(out, pat, tag)
    return out


def redact_pii_sql(col: str, kinds: tuple[str, ...] = ("email", "phone")) -> str:
    out = col
    for kind in kinds:
        pat, tag = PII_PATTERNS[kind]
        out = f"regexp_replace({out}, '{pat}', '{tag}', 'g')"
    return out


# ---------------------------------------------------------------------------
# Markup stripping (HTML/XML-ish tag removal + common entity unescape)
# ---------------------------------------------------------------------------
# Java∩RE2-safe: a tag is '<' + non-'>' run + '>' — deliberately dumb
# (no attribute-aware parsing, no script/style content removal: that
# needs a real parser, and for corpus cleaning the goal is tokenizable
# text, not DOM fidelity).  Entities unescape LITERALLY, '&amp;' LAST so
# double-escaped text resolves one level per pass, never two.

MARKUP_TAG = r"<[^>]*>"

#: (entity, replacement) in APPLICATION ORDER — '&amp;' must stay last.
MARKUP_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def markup_tag_count(col: Column) -> Column:
    """Number of markup tags (native regexp, codegen)."""
    return F.size(F.regexp_extract_all(col, F.lit(MARKUP_TAG), 0)) \
            .cast("bigint")


def markup_tag_count_sql(col: str) -> str:
    return f"CAST(len(regexp_extract_all({col}, '{MARKUP_TAG}')) AS BIGINT)"


def strip_markup(col: Column) -> Column:
    """Tags → spaces, entities unescaped, whitespace collapsed + trimmed
    — the corpus-cleaning normalization for HTML-ish capture formats.
    Keep the SQL twin in lockstep (same patterns, same order)."""
    out = F.regexp_replace(col, MARKUP_TAG, " ")
    for ent, rep in MARKUP_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, WS, " "))


def strip_markup_sql(col: str) -> str:
    out = f"regexp_replace({col}, '{MARKUP_TAG}', ' ', 'g')"
    for ent, rep in MARKUP_ENTITIES:
        r = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{r}')"
    return f"trim(regexp_replace({out}, '{WS}', ' ', 'g'))"


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, arXiv:2112.11446, Appendix A1.1)
# — the canonical rule-based pre-filter for web-scale training corpora.
# Every rule is an INTEGER comparison (ratios cross-multiplied), so the
# booleans are engine- and partitioning-exact with no rounding grid.
# One shared constant table generates BOTH the Spark expressions and the
# DuckDB twins, so the two cannot diverge.
# ---------------------------------------------------------------------------

#: Gopher A1.1 constants (kept verbatim from the paper; frozen — a change
#: reclassifies documents, treat like a spec release).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3     # 3 <= mean word length <= 10
GOPHER_MAX_MEAN_WORD_LEN = 10
GOPHER_MAX_SYMBOL_WORD_X10 = 1   # symbols/words <= 0.1  -> 10*sym <= 1*words
GOPHER_MAX_BULLET_LINE_X10 = 9   # bullet lines  <= 90%  -> 10*b  <= 9*lines
GOPHER_MAX_ELLIPSIS_LINE_X10 = 3  # ellipsis ends <= 30%  -> 10*e <= 3*lines
GOPHER_MIN_ALPHA_WORD_X5 = 4     # alpha words   >= 80%  -> 5*a  >= 4*words
GOPHER_MIN_STOPWORD_HITS = 2
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_SYMBOL_RE = r"#|\.\.\.|…"
_BULLET_RE = "^[-*•‣▪]"


def gopher_rules(col: Column) -> dict[str, Column]:
    """The seven Gopher A1.1 rules as named BOOLEAN Columns (plus the
    conjunction under ``"pass_gopher"``).  All comparisons are integer
    (cross-multiplied ratios) over shared token/line specs — no float
    enters, so the verdicts are bit-identical across engines and
    partitionings by construction.  NULL text yields NULL verdicts
    (unknown, not pass)."""
    toks = tokens(col, lowercase=False)
    n_words = F.size(toks)
    word_chars = F.aggregate(toks, F.lit(0).cast("bigint"),
                             lambda a, t: a + F.length(t))
    n_sym = F.size(F.regexp_extract_all(col, F.lit(_SYMBOL_RE), 0))
    lines = F.split(col, "\n")
    n_lines = F.size(lines)
    # line_trim, not trim(): kills the Java-`$`-before-final-terminator
    # vs RE2-`$`-end-only divergence on lines ending \r / NEL / LS / PS
    n_bullet = F.size(F.filter(
        lines, lambda ln: line_trim(ln).rlike(_BULLET_RE)))
    n_ell = F.size(F.filter(
        lines, lambda ln: line_trim(ln).rlike(r"(\.\.\.|…)$")))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    low = tokens(col)  # lowercase spec, shared with stopword_ratio
    # when(isNotNull): the membership test runs over a LITERAL array, so
    # unlike every other rule it would yield 0 hits (not NULL) on NULL
    # text — force the uniform NULL-text -> NULL-verdict contract
    sw_hits = F.when(col.isNotNull(), F.size(F.filter(
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        lambda s: F.array_contains(low, s))))
    rules = {
        "r_word_count": (n_words >= GOPHER_MIN_WORDS)
                        & (n_words <= GOPHER_MAX_WORDS),
        "r_mean_word_len": (word_chars >= GOPHER_MIN_MEAN_WORD_LEN * n_words)
                           & (word_chars <= GOPHER_MAX_MEAN_WORD_LEN * n_words),
        "r_symbol_ratio": F.lit(10) * n_sym
                          <= F.lit(GOPHER_MAX_SYMBOL_WORD_X10) * n_words,
        "r_bullet_lines": F.lit(10) * n_bullet
                          <= F.lit(GOPHER_MAX_BULLET_LINE_X10) * n_lines,
        "r_ellipsis_lines": F.lit(10) * n_ell
                            <= F.lit(GOPHER_MAX_ELLIPSIS_LINE_X10) * n_lines,
        "r_alpha_words": F.lit(5) * n_alpha
                         >= F.lit(GOPHER_MIN_ALPHA_WORD_X5) * n_words,
        "r_stopwords": sw_hits >= GOPHER_MIN_STOPWORD_HITS,
    }
    acc = None
    for c in rules.values():
        acc = c if acc is None else acc & c
    return {**rules, "pass_gopher": acc}


def gopher_rules_sql(col: str) -> dict[str, str]:
    """DuckDB twins of :func:`gopher_rules` (generated from the same
    constants — same token/line specs, same integer comparisons)."""
    toks = tokens_sql(col, lowercase=False)
    n_words = f"len({toks})"
    # coalesce: DuckDB list_sum([]) is NULL where Spark's aggregate
    # returns its 0 seed; NULL TEXT must stay NULL (len propagates it)
    word_chars = (f"(CASE WHEN {col} IS NULL THEN NULL ELSE"
                  f" coalesce(list_sum(list_transform({toks},"
                  f" t -> len(t))), 0) END)")
    n_sym = f"len(regexp_extract_all({col}, '{_SYMBOL_RE}'))"
    lines = f"string_split({col}, chr(10))"
    n_lines = f"len({lines})"
    n_bullet = (f"len(list_filter({lines},"
                f" ln -> regexp_matches({line_trim_sql('ln')},"
                f" '{_BULLET_RE}')))")
    n_ell = (f"len(list_filter({lines},"
             f" ln -> regexp_matches({line_trim_sql('ln')},"
             f" '(\\.\\.\\.|…)$')))")
    n_alpha = f"len(list_filter({toks}, t -> regexp_matches(t, '[a-zA-Z]')))"
    low = tokens_sql(col)
    lst = "[" + ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS) + "]"
    # same NULL-text guard as the Spark side (literal-array membership)
    sw_hits = (f"(CASE WHEN {col} IS NULL THEN NULL ELSE"
               f" len(list_filter({lst}, s -> list_contains({low}, s)))"
               f" END)")
    rules = {
        "r_word_count": f"({n_words} >= {GOPHER_MIN_WORDS}"
                        f" AND {n_words} <= {GOPHER_MAX_WORDS})",
        "r_mean_word_len":
            f"({word_chars} >= {GOPHER_MIN_MEAN_WORD_LEN} * {n_words}"
            f" AND {word_chars} <= {GOPHER_MAX_MEAN_WORD_LEN} * {n_words})",
        "r_symbol_ratio":
            f"(10 * {n_sym} <= {GOPHER_MAX_SYMBOL_WORD_X10} * {n_words})",
        "r_bullet_lines":
            f"(10 * {n_bullet} <= {GOPHER_MAX_BULLET_LINE_X10} * {n_lines})",
        "r_ellipsis_lines":
            f"(10 * {n_ell} <= {GOPHER_MAX_ELLIPSIS_LINE_X10} * {n_lines})",
        "r_alpha_words":
            f"(5 * {n_alpha} >= {GOPHER_MIN_ALPHA_WORD_X5} * {n_words})",
        "r_stopwords": f"({sw_hits} >= {GOPHER_MIN_STOPWORD_HITS})",
    }
    rules["pass_gopher"] = "(" + " AND ".join(rules.values()) + ")"
    return rules


# ---------------------------------------------------------------------------
# C4 quality rules (Raffel et al. 2020, arXiv:1910.10683 §2.2 — the
# line-level web-corpus cleaner next to Gopher's doc-level gopher_rules)
# ---------------------------------------------------------------------------

#: a line survives iff it ends in terminal punctuation, has >= 3
#: whitespace words, and does not mention javascript; a page survives
#: iff its KEPT text still has >= 5 sentence enders and the raw page
#: contains no curly brace and no "lorem ipsum".  (The paper's
#: bad-words-list rule needs an external list and is out of spec here;
#: compose with `redact_pii`-style expression filters where policy
#: requires one.)  All decisions are string/integer predicates over ONE
#: shared line split — no float anywhere, verdicts engine-exact.
C4_MIN_WORDS_PER_LINE = 3
C4_MIN_SENTENCES = 5
C4_TERMINAL_RE = "[.!?\"']$"
C4_LINE_BANNED = "javascript"
C4_DOC_BANNED = ("{", "lorem ipsum")

#: line-EDGE trim class: the tokenization whitespace set plus the
#: Unicode line terminators (NEL, LS, PS).  Needed because Java's `$`
#: (non-MULTILINE) matches BEFORE a single final line terminator while
#: RE2's `$` matches only at end-of-text — a line ending "...\r" (CRLF
#: split on \n) would pass the terminal-punctuation rlike on Spark and
#: fail it in the DuckDB twin.  Trimming the terminators off the line
#: edges FIRST makes the two `$` semantics coincide by construction.
#: Kept separate from WS_CHARS: widening the tokenization class would
#: change token counts engine-wide.
LINE_EDGE_CHARS = WS_CHARS + "\\x{85}\\x{2028}\\x{2029}"
_LINE_EDGE_RE = f"^[{LINE_EDGE_CHARS}]+|[{LINE_EDGE_CHARS}]+$"


def line_trim(col: Column) -> Column:
    """Line-edge trim over the shared explicit class (both engines) —
    unlike ``trim()``, also strips tabs, CR, and the Unicode line
    terminators, so end-of-line anchors agree across engines."""
    return F.regexp_replace(col, _LINE_EDGE_RE, "")


def line_trim_sql(col: str) -> str:
    return f"regexp_replace({col}, '{_LINE_EDGE_RE}', '', 'g')"


def c4_kept_lines(col: Column) -> Column:
    """The lines of ``col`` that survive C4's line filter, order kept.
    NULL text -> NULL (the uniform NULL-verdict contract)."""
    def keep(ln: Column) -> Column:
        t = line_trim(ln)
        words = F.filter(F.split(t, WS), lambda w: w != F.lit(""))
        return (t.rlike(C4_TERMINAL_RE)
                & (F.size(words) >= C4_MIN_WORDS_PER_LINE)
                & ~F.lower(t).contains(C4_LINE_BANNED))

    return F.filter(F.split(col, "\n"), keep)


def c4_kept_lines_sql(col: str) -> str:
    term = C4_TERMINAL_RE.replace("'", "''")
    t = line_trim_sql("ln")
    return (f"list_filter(string_split({col}, chr(10)), ln -> "
            f"regexp_matches({t}, '{term}') AND "
            f"len(list_filter(string_split_regex({t}, '{WS}'),"
            f" w -> w <> '')) >= {C4_MIN_WORDS_PER_LINE} AND "
            f"NOT contains(lower({t}), '{C4_LINE_BANNED}'))")


def c4_clean(col: Column) -> Column:
    """C4-cleaned text: the surviving lines re-joined with newlines (the
    transform half — pair with :func:`c4_rules` for the page gate)."""
    return F.array_join(c4_kept_lines(col), "\n")


def c4_clean_sql(col: str) -> str:
    # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — all-lines-cut must yield '' on both sides,
    # while NULL text stays NULL (same guard shape as gopher's
    # word_chars twin)
    return (f"(CASE WHEN {col} IS NULL THEN NULL ELSE"
            f" coalesce(array_to_string({c4_kept_lines_sql(col)},"
            f" chr(10)), '') END)")


def c4_rules(col: Column, kept: Column | None = None) -> dict[str, Column]:
    """The C4 page-level rules as named BOOLEAN Columns (plus the
    conjunction under ``"pass_c4"``): enough sentences SURVIVE the line
    filter, no curly brace (code), no boilerplate filler.  NULL text
    yields NULL verdicts, like gopher_rules.

    ``kept``: pass a pre-projected :func:`c4_kept_lines` column to
    share the line-filter work with other consumers (Catalyst does not
    CSE higher-order-function lambdas, so inlining it here would re-run
    the whole per-line pipeline per rule reference)."""
    joined = (F.array_join(kept, "\n") if kept is not None
              else c4_clean(col))
    n_sent = F.size(F.regexp_extract_all(joined, F.lit("[.!?]"), 0))
    low = F.lower(col)
    rules: dict[str, Column] = {
        "r_min_sentences": n_sent >= C4_MIN_SENTENCES,
        "r_no_brace": ~low.contains(C4_DOC_BANNED[0]),
        "r_no_lorem": ~low.contains(C4_DOC_BANNED[1]),
    }
    conj = None
    for c in rules.values():
        conj = c if conj is None else (conj & c)
    rules["pass_c4"] = conj
    return rules


def c4_rules_sql(col: str, kept: str | None = None) -> dict[str, str]:
    """DuckDB twins of :func:`c4_rules`, generated from the same
    constants and the same shared line-filter spec.  ``kept`` mirrors
    the Spark side: a pre-computed kept-lines list expression."""
    if kept is not None:
        joined = (f"(CASE WHEN {col} IS NULL THEN NULL ELSE"
                  f" coalesce(array_to_string({kept}, chr(10)), '') END)")
    else:
        joined = c4_clean_sql(col)
    n_sent = f"len(regexp_extract_all({joined}, '[.!?]'))"
    rules = {
        "r_min_sentences": f"({n_sent} >= {C4_MIN_SENTENCES})",
        "r_no_brace":
            f"(NOT contains(lower({col}), '{C4_DOC_BANNED[0]}'))",
        "r_no_lorem":
            f"(NOT contains(lower({col}), '{C4_DOC_BANNED[1]}'))",
    }
    rules["pass_c4"] = "(" + " AND ".join(rules.values()) + ")"
    return rules


# ---------------------------------------------------------------------------
# Unicode punctuation normalization (web-text canonicalizer: smart
# quotes, typographic dashes, exotic spaces, ellipsis, fi/fl ligatures
# — the pre-tokenization cleanup every web corpus needs before
# fingerprinting/token counting treats "don’t" and "don't" as equal)
# ---------------------------------------------------------------------------

#: 1:1 character map (translate): curly quotes -> ASCII quotes,
#: en/em/figure/horizontal-bar/minus dashes -> hyphen, NBSP and the
#: common typographic spaces -> space.  Multi-char expansions and
#: deletions live in PUNCT_MULTI (translate is strictly 1:1 in both
#: engines).
PUNCT_SINGLE = {
    "‘": "'", "’": "'", "‚": "'", "‛": "'",
    "“": '"', "”": '"', "„": '"', "‟": '"',
    "«": '"', "»": '"',
    "‒": "-", "–": "-", "—": "-", "―": "-",
    "−": "-",
    " ": " ", " ": " ", " ": " ", " ": " ",
}
#: ordered multi-char rewrites applied AFTER the translate
PUNCT_MULTI = {
    "…": "...",   # ellipsis
    "ﬁ": "fi",    # ligature fi
    "ﬂ": "fl",    # ligature fl
    "​": "",      # zero-width space: delete
}
_PUNCT_FROM = "".join(PUNCT_SINGLE)
_PUNCT_TO = "".join(PUNCT_SINGLE.values())


def normalize_punct(col: Column) -> Column:
    """Canonical ASCII punctuation form of ``col`` (NULL stays NULL).
    One ``translate`` (1:1 map) + |PUNCT_MULTI| literal replaces — pure
    codegen string expressions, no regex engine involved."""
    out = F.translate(col, _PUNCT_FROM, _PUNCT_TO)
    for src, dst in PUNCT_MULTI.items():
        out = F.replace(out, F.lit(src), F.lit(dst))
    return out


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def normalize_punct_sql(col: str) -> str:
    """DuckDB twin of :func:`normalize_punct` — same map constants,
    same translate-then-replace staging."""
    out = (f"translate({col}, {_sql_quote(_PUNCT_FROM)},"
           f" {_sql_quote(_PUNCT_TO)})")
    for src, dst in PUNCT_MULTI.items():
        out = f"replace({out}, {_sql_quote(src)}, {_sql_quote(dst)})"
    return out


# ---------------------------------------------------------------------------
# Testdata shim: deterministic re-sentencing.  The synthetic corpus is
# punctuation-free single-line word soup; queries that exercise
# sentence/line rules re-structure it with ONE shared regex (a period +
# newline after every 6th word) so the rules genuinely discriminate.
# One constant generates both engines' rewrites — they cannot drift.
# ---------------------------------------------------------------------------

RESENTENCE_RE = r"(\w+( \w+){5}) "


def resentence(col: Column) -> Column:
    return F.regexp_replace(col, RESENTENCE_RE, "$1.\n")


def resentence_sql(col: str) -> str:
    return (f"regexp_replace({col}, '{RESENTENCE_RE}', "
            f"'\\1.' || chr(10), 'g')")
