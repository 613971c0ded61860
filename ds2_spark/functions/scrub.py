"""PII / toxicity scrubbing.

One regex chain, three implementations that must agree exactly:
  - Spark column expression (`scrub_col`) — built-in `regexp_replace`,
    JVM-side, codegen'd (the production path; no Python in the loop)
  - DuckDB SQL snippet (`scrub_sql`) — the correctness oracle
  - plain Python (`scrub_py`) — the NumPy-oracle / fixture golden path

Patterns deliberately avoid constructs whose semantics differ across
Java regex / RE2 / Python `re`:
  - no lookaround, no possessive quantifiers, no recursive regex
    (cf. the reference's `(?R)` JSON extractor,
    LLM_scoring/scoring.py:209, which we do NOT need since scores are
    structured columns here);
  - no `\\d`/`\\w` (Python is Unicode-aware, Java/RE2 ASCII) —
    explicit `[0-9]` classes only; `\\s` is spelled out as
    `[ \\t\\n\\r\\f]` (RE2's `\\s` lacks `\\x0B`);
  - **no `\\b`**: Java's boundary matcher is Unicode-aware even
    without UNICODE_CHARACTER_CLASS (a documented JDK quirk), so
    `\\b` next to an accented letter (de/fr/es corpora) means three
    different things in the three engines. Word boundaries are
    emulated with explicit consuming groups
    `(^|[^A-Za-z0-9_]) core ($|[^A-Za-z0-9_])` re-emitted by the
    replacement via engine-native backreferences ($1/$3 in Java,
    \\1/\\3 elsewhere). Consuming the delimiter means two bounded hits
    separated by a SINGLE delimiter char scrub only the first on one
    pass, so every bounded pattern is applied TWICE: replacements
    contain no delimiter adjacent to a core, so the second identical
    pass catches all odd-positioned hits and is a fixed point —
    identically in all three engines.

The Python twin additionally compiles with `re.ASCII` so any future
class additions inherit ASCII semantics by default.

Scope note: EMAIL_RE targets conventional addresses
([A-Za-z0-9._%+-] locals). RFC-exotic locals ('*@a.com',
quoted-string locals) are intentionally out of scope — matching them
requires patterns greedy enough to eat surrounding punctuation.
"""

from __future__ import annotations

import os.path as _osp
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_NONWORD = "A-Za-z0-9_"

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
SSN_CORE = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"
PHONE_RE = r"\+?[0-9][0-9 \t\n\r\f().-]{7,}[0-9]"

# Fixture toxicity lexicon — placeholder terms (FIXTURES.md §1), not a
# real-word list; production users supply their own lexicon.
TOX_LEXICON: tuple[str, ...] = tuple(f"zorgblat{i:02d}" for i in range(40))
TOX_CORE = r"(?:" + "|".join(TOX_LEXICON) + r")"


def _bounded(core: str) -> str:
    """ASCII word-boundary emulation via consuming groups (see module
    docstring): group 1 = left delim, 2 = core, 3 = right delim."""
    return rf"(^|[^{_NONWORD}])({core})($|[^{_NONWORD}])"


# Conservative JVM prefilters for the bounded patterns (scrub_col
# only; the SQL/Python twins apply the plain chain — identical
# output). Rationale, measured on this host (NOTES.md #29): a Java
# regex whose head is an alternation (`(^|[^...])...`) runs ~10x
# slower than its bare core AND stops scaling across executor threads,
# while bare-core patterns scale cleanly. The bounded pattern can only
# match where its core matches, so `when(rlike(core), replace).
# otherwise(unchanged)` is semantics-preserving and moves ~all rows
# onto the cheap scalable scan. For the toxicity lexicon the prefilter
# is the shared literal prefix of every term, DERIVED from the
# lexicon so it can never silently diverge from it (a stale prefilter
# would skip bounded TOX scrubbing on the JVM path while the SQL/
# Python twins still scrub — a safety-filter divergence). A production
# lexicon without a usable shared literal should use its own cheap
# superset filter (e.g. per-term contains, or the union of distinct
# leading trigrams).
_TOX_PREFILTER = re.escape(_osp.commonprefix(TOX_LEXICON))
# the prefilter is only sound if it's a real superset gate: every
# lexicon term must contain it (trivially true for a common prefix,
# but guard against an empty prefix disabling the gate entirely)
assert _TOX_PREFILTER and all(
    t.startswith(_osp.commonprefix(TOX_LEXICON)) for t in TOX_LEXICON
), "TOX_LEXICON lost its shared literal prefix; replace the prefilter"

# (pattern, tag, bounded, prefilter) — ORDER MATTERS: SSN before PHONE
# (an SSN is also a valid phone-ish digit run). Bounded patterns
# appear TWICE back-to-back: one pass misses the second of two hits
# separated by a single delimiter (the delimiter is consumed); two
# passes are a fixed point (see module docstring).
_CHAIN_ONCE: tuple[tuple[str, str, bool, str | None], ...] = (
    (EMAIL_RE, "<EMAIL>", False, None),
    (_bounded(SSN_CORE), "<SSN>", True, SSN_CORE),
    (PHONE_RE, "<PHONE>", False, None),
    (_bounded(TOX_CORE), "<TOX>", True, _TOX_PREFILTER),
)
_CHAIN_FULL: tuple[tuple[str, str, bool, str | None], ...] = tuple(
    step for entry in _CHAIN_ONCE
    for step in ([entry] * (2 if entry[2] else 1))
)
# public 3-tuple view (pattern, tag, bounded) — the shape the SQL and
# Python twins consume; prefilters are a scrub_col implementation
# detail, not part of the semantics.
SCRUB_CHAIN: tuple[tuple[str, str, bool], ...] = tuple(
    (p, t, b) for p, t, b, _ in _CHAIN_FULL
)


def _replacement(tag: str, bounded: bool, style: str) -> str:
    if not bounded:
        return tag
    if style == "java":
        return f"$1{tag}$3"
    return rf"\1{tag}\3"


def scrub_col(col: Column | str) -> Column:
    """Spark expression applying the scrub chain (JVM regexp_replace).
    Bounded steps go behind their conservative core prefilter (see
    _CHAIN_ONCE comment): identical output, and the hot path stays on
    bare-core scans that scale across executor threads. Both fixed-
    point passes of a bounded pattern live inside ONE when() branch —
    a conditional per pass would re-embed the whole prior chain in
    each arm and grow the Catalyst expression tree exponentially."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, tag, bounded, prefilter in _CHAIN_ONCE:
        rep = _replacement(tag, bounded, "java")
        replaced = F.regexp_replace(c, pat, rep)
        if bounded:
            replaced = F.regexp_replace(replaced, pat, rep)  # fixed point
        if prefilter is not None:
            c = F.when(c.rlike(prefilter), replaced).otherwise(c)
        else:
            c = replaced
    return c


def scrub_sql(expr: str) -> str:
    """DuckDB SQL expression applying the identical chain to `expr`."""
    out = expr
    for pat, tag, bounded in SCRUB_CHAIN:
        # DuckDB string literals keep backslashes verbatim, so the RE2
        # rewrite refs (\1, \3) pass through unescaped
        pat_sql = pat.replace("'", "''")
        rep_sql = _replacement(tag, bounded, "re2")
        out = f"regexp_replace({out}, '{pat_sql}', '{rep_sql}', 'g')"
    return out


# re.ASCII pins \s and any future shorthand classes to the ASCII
# semantics Java regex and RE2 use by default.
_COMPILED = [
    (re.compile(p, re.ASCII), _replacement(t, b, "py")) for p, t, b in SCRUB_CHAIN
]


def scrub_py(text: "str | None") -> "str | None":
    """Python twin for oracles/fixtures. NULL passes through, same as
    the JVM/SQL chains (regexp_replace is NULL-preserving)."""
    if text is None:
        return None
    for cre, rep in _COMPILED:
        text = cre.sub(rep, text)
    return text


# ------------------------------------------------------------ audit

# tag -> audit column name (the per-document scrub metrics a
# production pipeline emits to its lineage/metrics table: how much
# PII/toxicity was found where — required for takedown accounting and
# for watching a corpus's PII rate drift over ingestion batches).
SCRUB_AUDIT_TAGS: tuple[tuple[str, str], ...] = (
    ("<EMAIL>", "n_email"),
    ("<SSN>", "n_ssn"),
    ("<PHONE>", "n_phone"),
    ("<TOX>", "n_tox"),
)


def _tag_occurrences(c: Column, tag: str) -> Column:
    # portable substring count: (len(s) - len(remove(s, tag))) / len(tag)
    # — the length diff is a multiple of len(tag) and counts stay far
    # below 2^49, so the double division is exact in any engine
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(tag), F.lit(""))))
        / F.lit(len(tag))
    ).cast("int")


def scrub_audit_cols(col: Column | str) -> list[Column]:
    """Per-row replacement counts for every scrub tag, as pure JVM
    column expressions (string length arithmetic on the ALREADY
    VERIFIED scrub chain — no second regex pass, no Python).

    count(tag) = occurrences in scrub_col(text) MINUS occurrences in
    the original text: pre-existing literal tags in the input survive
    the chain unchanged (no scrub pattern can match a tag — the cores
    require digits or '@'-locals or lexicon words, none of which
    appear inside '<EMAIL>'-style markers), so the subtraction counts
    exactly the replacements the chain made. The same arithmetic runs
    verbatim in SQL (contract query q_scrub_audit) and Python
    (scrub_audit_py), inheriting the 3-engine-identical guarantee of
    the chain itself."""
    c = F.col(col) if isinstance(col, str) else col
    s = scrub_col(c)
    return [
        (_tag_occurrences(s, tag) - _tag_occurrences(c, tag)).alias(name)
        for tag, name in SCRUB_AUDIT_TAGS
    ]


def scrub_audit_py(text: str) -> dict[str, int]:
    """Python twin of scrub_audit_cols for fixtures/oracles."""
    scrubbed = scrub_py(text)
    return {
        name: scrubbed.count(tag) - text.count(tag)
        for tag, name in SCRUB_AUDIT_TAGS
    }


# ------------------------------------------------ Luhn-gated CC scrub

# Credit-card scrubbing with checksum validation: a bare 13-19-digit
# regex redacts invoice ids, tracking numbers, and timestamps wholesale
# (the false-positive problem checksum-validating PII detectors exist
# to solve), so candidate RUNS are regex-EXTRACTED, windows inside each
# run are Luhn-validated (ISO/IEC 7812 mod-10), and only validated
# windows are replaced. All three engines run the IDENTICAL algorithm:
#
#   1. extract word-bounded maximal digit runs (digits joined by single
#      space/dash, 13..39 digits) left-to-right;
#   2. inside each run, enumerate TOKEN-ALIGNED windows — substrings
#      that start at a token start and end at a token end (tokens =
#      delimiter-separated digit groups) with 13..19 total digits,
#      ordered (start asc, length desc);
#   3. keep windows whose digit string passes Luhn;
#   4. fold substring-replace over the kept windows in that order,
#      twice (fixed-point discipline; overlapping windows resolve
#      deterministically — once the longer/leftmost window is replaced
#      the shorter one no longer occurs and its replace is a no-op).
#
# Token alignment is the precision/recall contract: a CONTIGUOUS run is
# one token, so a 20+-digit serial/tracking number is tested only as a
# whole (never redacted — same semantics as a bare 13-19 candidate
# regex), while a card ADJACENT to a small digit token ("4111... 123",
# card + CVV — the leak a greedy single-candidate scan has) forms a
# multi-token run whose card-only window IS tried and redacted. Runs
# with >39 digits yield no candidates (documented recall bound: the
# greedy quantifier backtracks to a token boundary if one exists in the
# first 39 digits, else the word-boundary requirement fails everywhere
# inside the run).
#
# Shared-semantics notes (Java regex / RE2 / Python re.ASCII): runs are
# group 2 of a consuming-delimiter bounded pattern (the `\b` emulation
# the chain uses); window enumeration is pure substr/position
# arithmetic (no regex); replacement is plain substring replace, so a
# validated window's text occurring verbatim elsewhere in the row is
# also replaced — identically everywhere (the algorithm, not one
# engine's regex, is the spec). Luhn arithmetic is exact integers in
# all three engines. Kept separate from SCRUB_CHAIN (composable:
# sanitize -> scrub_cc -> scrub; run it BEFORE the chain or PHONE_RE
# eats 13+-digit runs first).

CC_TAG = "<CC>"
# word-boundary emulation (the chain's _NONWORD class), not a bare
# digit boundary: letter-adjacent digit runs ("a4532...b", hex-ish
# tokens, serials) are NOT candidates.
CC_CAND_RE = rf"(^|[^{_NONWORD}])([0-9](?:[ -]?[0-9]){{12,38}})($|[^{_NONWORD}])"


def luhn_valid_py(digits: str) -> bool:
    """ISO/IEC 7812 mod-10: right-to-left, double every second digit,
    subtract 9 from two-digit products, total divisible by 10."""
    total = 0
    for i, ch in enumerate(reversed(digits)):
        v = int(ch)
        if i % 2 == 1:
            v *= 2
            if v > 9:
                v -= 9
        total += v
    return total % 10 == 0


def _cc_pass_col(c: Column) -> Column:
    def _digits(x: Column) -> Column:
        return F.translate(x, " -", "")

    def _luhn_ok(x: Column) -> Column:
        d = _digits(x)
        n = F.length(d)

        def term(acc: Column, i: Column) -> Column:
            dig = F.substr(d, i, F.lit(1)).cast("int")
            dd = dig * 2
            return acc + (
                F.when((n - i) % 2 == 1, F.when(dd > 9, dd - 9).otherwise(dd))
                .otherwise(dig)
            )

        return F.aggregate(F.sequence(F.lit(1), n), F.lit(0), term) % 10 == 0

    def _is_dig(x: Column, i: Column) -> Column:
        ch = F.substr(x, i, F.lit(1))
        return (ch >= F.lit("0")) & (ch <= F.lit("9"))

    def _windows(x: Column) -> Column:
        # token-aligned windows of x, (start asc, length desc), with
        # 13..19 digits. Run chars are digits/space/dash only, so
        # "token start" = digit whose predecessor is absent or non-digit
        # (substr at position 0 / past-end returns ''/1st-char in the
        # engines, but the i==1 / i==len disjunct decides those edges).
        idx = F.sequence(F.lit(1), F.length(x))
        starts = F.filter(
            idx,
            lambda i: _is_dig(x, i)
            & ((i == F.lit(1)) | ~_is_dig(x, i - F.lit(1))),
        )
        ends = F.reverse(
            F.filter(
                idx,
                lambda i: _is_dig(x, i)
                & ((i == F.length(x)) | ~_is_dig(x, i + F.lit(1))),
            )
        )
        subs = F.flatten(
            F.transform(
                starts,
                lambda a: F.transform(
                    ends,
                    lambda b: F.when(b >= a, F.substr(x, a, b - a + F.lit(1))),
                ),
            )
        )
        sized = F.filter(
            subs, lambda s: F.length(_digits(s)).between(13, 19)
        )
        return F.filter(sized, _luhn_ok)

    runs = F.regexp_extract_all(c, F.lit(CC_CAND_RE), 2)
    valid = F.flatten(F.transform(runs, _windows))
    return F.aggregate(valid, c, lambda acc, x: F.replace(acc, x, F.lit(CC_TAG)))


def scrub_cc_col(col: Column | str) -> Column:
    """Spark expression: Luhn-validated credit-card scrub (pure JVM —
    regexp_extract_all + higher-order filter/aggregate; the HOFs are
    interpreted but iterate only over the per-row CANDIDATE list,
    almost always empty). NULL passes through."""
    c = F.col(col) if isinstance(col, str) else col
    return _cc_pass_col(_cc_pass_col(c))


def _cc_pass_sql(expr: str) -> str:
    d = "translate(s, ' -', '')"
    dig = f"CAST(substr({d}, i, 1) AS INT)"
    term = (
        f"CASE WHEN (length({d}) - i) % 2 = 1 THEN "
        f"CASE WHEN 2*{dig} > 9 THEN 2*{dig} - 9 ELSE 2*{dig} END "
        f"ELSE {dig} END"
    )
    luhn = (
        f"list_sum(list_transform(generate_series(1, length({d})),"
        f" i -> {term})) % 10 = 0"
    )
    isdig = "substr(x, {p}, 1) BETWEEN '0' AND '9'"
    starts = (
        f"list_filter(generate_series(1, length(x)), a -> "
        f"{isdig.format(p='a')} AND (a = 1 OR NOT {isdig.format(p='a - 1')}))"
    )
    ends = (
        f"list_reverse(list_filter(generate_series(1, length(x)), b -> "
        f"{isdig.format(p='b')} AND (b = length(x)"
        f" OR NOT {isdig.format(p='b + 1')})))"
    )
    subs = (
        f"flatten(list_transform({starts}, a -> list_transform({ends},"
        f" b -> CASE WHEN b >= a THEN substr(x, a, b - a + 1) END)))"
    )
    wins = (
        f"list_filter(list_filter({subs},"
        f" s -> length(translate(s, ' -', '')) BETWEEN 13 AND 19),"
        f" s -> {luhn})"
    )
    valid = (
        f"flatten(list_transform("
        f"regexp_extract_all({expr}, '{CC_CAND_RE}', 2), x -> {wins}))"
    )
    return (
        f"list_reduce(list_prepend({expr}, {valid}),"
        f" (acc, w) -> replace(acc, w, '{CC_TAG}'))"
    )


def scrub_cc_sql(expr: str) -> str:
    """DuckDB SQL expression applying the identical two-pass algorithm."""
    return _cc_pass_sql(_cc_pass_sql(expr))
