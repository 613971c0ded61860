"""Unicode script-mix profiling (3-engine, counting by length-diff).

Script composition is a standard web-corpus quality signal: a
transcript that is 40% Latin and 40% Cyrillic is usually spoofed or
mojibake (mixed-script confusable abuse — the UTS #39 concern), CJK
share routes documents to different tokenizers, and a high
symbol/other share marks boilerplate or binary spill. The reference
has no counterpart (its inputs are label-benchmark dumps).

Counting method: the scrub_audit length-diff trick — count(class) =
length(s) - length(regexp_replace(s, class, '')) — which is exact in
any engine with zero extraction. Classes are BMP codepoint ranges
generated per engine from ONE range list (Java/Python take \\uhhhh,
RE2 needs \\x{hhhh} above 0x7f; the urls.py REJECT_CLASS discipline).
Counts are CODEPOINT counts on both sides because every range is BMP
(the repo-wide Spark-UTF16 == DuckDB-codepoint rule).

Scripts (deliberately coarse, 4 + digits + other):
  latin     A-Za-z + Latin-1/Extended letters (00C0-024F, 1E00-1EFF)
  cyrillic  0400-04FF + supplement 0500-052F
  cjk       Han 4E00-9FFF, kana 3040-30FF, Hangul AC00-D7A3
  arabic    0600-06FF + supplement 0750-077F
  digit     ASCII 0-9
  space     the ASCII whitespace set (text.WS_SPLIT's class)
  other     derived: n_chars - n_space - sum(script counts)

The mixed-script flag is integer-exact: two scripts each holding
>= 20% of letter mass (5*count >= letters) — no float thresholds.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCRIPT_RANGES: dict[str, tuple[tuple[int, int], ...]] = {
    # 0xD7 (multiplication sign) and 0xF7 (division sign) are NOT
    # letters — including them would let math symbols accrue "latin
    # letter mass" and flag symbol-heavy non-Latin docs as mixed
    "latin": (
        (0x41, 0x5A), (0x61, 0x7A), (0xC0, 0xD6), (0xD8, 0xF6),
        (0xF8, 0x24F), (0x1E00, 0x1EFF),
    ),
    "cyrillic": ((0x400, 0x4FF), (0x500, 0x52F)),
    "cjk": ((0x4E00, 0x9FFF), (0x3040, 0x30FF), (0xAC00, 0xD7A3)),
    "arabic": ((0x600, 0x6FF), (0x750, 0x77F)),
    "digit": ((0x30, 0x39),),
    # ASCII whitespace (the WS_SPLIT character set) so `other` is
    # derivable: n_chars - n_space - sum of the script counts
    "space": ((0x09, 0x0D), (0x20, 0x20)),
}


def _cls(ranges: tuple, flavor: str) -> str:
    def one(c: int) -> str:
        if flavor == "re2":
            return f"\\x{{{c:04x}}}" if c > 0x7F else f"\\x{c:02x}"
        return f"\\u{c:04x}"

    return "[" + "".join(f"{one(a)}-{one(b)}" for a, b in ranges) + "]"


def script_classes(flavor: str) -> dict[str, str]:
    """flavor: 'java' (Spark/Python) or 're2' (DuckDB)."""
    return {k: _cls(v, flavor) for k, v in SCRIPT_RANGES.items()}


def script_count_cols(col: Column | str) -> dict[str, Column]:
    """Per-script codepoint counts + n_chars + is_mixed, pure JVM."""
    c = F.col(col) if isinstance(col, str) else col
    classes = script_classes("java")
    counts = {
        f"n_{k}": (
            F.length(c) - F.length(F.regexp_replace(c, cls, ""))
        ).cast("int")
        for k, cls in classes.items()
    }
    letters = (
        counts["n_latin"] + counts["n_cyrillic"] + counts["n_cjk"]
        + counts["n_arabic"]
    )
    major = sum(
        F.when(counts[f"n_{k}"] * 5 >= letters, 1).otherwise(0)
        for k in ("latin", "cyrillic", "cjk", "arabic")
    )
    return {
        "n_chars": F.length(c).cast("int"),
        **counts,
        "n_letters": letters.cast("int"),
        # >= 2 scripts each at >= 20% of letter mass, and enough
        # letters for the ratio to mean anything. Guarded: on NULL
        # input `major` collapses to 0 through when/otherwise, and
        # NULL AND FALSE is FALSE — a non-NULL flag for a NULL row
        "is_mixed": F.when(
            c.isNotNull(), (letters >= 20) & (major >= 2)
        ),
    }


def script_count_sql(expr: str) -> dict[str, str]:
    """The IDENTICAL counts as DuckDB SQL expression strings."""
    classes = script_classes("re2")
    counts = {
        f"n_{k}": (
            f"CAST(length({expr}) - length(regexp_replace({expr},"
            f" '{cls}', '', 'g')) AS INT)"
        )
        for k, cls in classes.items()
    }
    letters = "(" + " + ".join(
        counts[f"n_{k}"] for k in ("latin", "cyrillic", "cjk", "arabic")
    ) + ")"
    major = "(" + " + ".join(
        f"CASE WHEN {counts[f'n_{k}']} * 5 >= {letters} THEN 1 ELSE 0 END"
        for k in ("latin", "cyrillic", "cjk", "arabic")
    ) + ")"
    return {
        # CAST: Spark length() is INT, DuckDB length() is BIGINT —
        # the one place the types would silently misalign
        "n_chars": f"CAST(length({expr}) AS INT)",
        **counts,
        "n_letters": f"CAST({letters} AS INT)",
        "is_mixed": (
            f"CASE WHEN {expr} IS NOT NULL"
            f" THEN ({letters} >= 20 AND {major} >= 2) END"
        ),
    }
