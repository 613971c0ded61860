"""HTML tag stripping + entity decoding (3-engine, regex-grade).

The ingest step every web-scale text pipeline runs before any quality
heuristic (trafilatura/jusText territory): drop script/style/comment
blocks, strip tags, decode entities, squeeze whitespace — and report
the text-to-markup ratio, a boilerplate signal CCNet-class filters
threshold on (a page that is 95% markup is navigation chrome, not
content).

One spec, three engines (the scrub.py discipline): Spark Columns and
DuckDB SQL emitted from this module, and a Python twin in
tests/oracle/twins.py; explicit ASCII classes, RE2-compatible regexes
(non-greedy + inline (?is) flags are in RE2; no backrefs/lookaround).

Pipeline (order is the spec):
  1. remove <script...>...</script>, <style...>...</style>, <!-- -->
     blocks ((?is): case-insensitive, dot-matches-newline);
  2. replace every remaining <...> tag with ONE space;
  3. decode DECIMAL entities &#NNNN; then HEX entities &#xHHHH; by
     fold-replace over the entities extracted from the tag-stripped
     text, in extraction order (out-of-range / surrogate / control
     codepoints stay literal: only 32..65533 excluding 55296..57343
     decode, which also keeps every decoded char BMP so Spark UTF-16
     length == DuckDB codepoint length);
  4. decode named entities &nbsp;(-> plain space) &lt; &gt; &quot;
     &apos; and LAST &amp; (so '&amp;lt;' yields '&lt;', not '<' —
     the html5 non-double-decode rule);
  5. squeeze [ \\t\\n\\x0b\\f\\r]+ runs to one space, trim spaces.

Documented regex-parser bounds (standard for filter-grade stripping,
not a DOM): a literal '>' inside a quoted attribute value ends the
tag early; an unterminated <script> block loses its closing-tag
anchor, so only its opening tag is stripped and its body survives
into the text (a later length/entropy filter catches such pages).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
COMMENT_RE = r"(?s)<!--.*?-->"
TAG_RE = r"(?s)<[^>]*>"
DEC_ENT_RE = r"&#([0-9]{1,7});"
HEX_ENT_RE = r"&#[xX]([0-9A-Fa-f]{1,6});"
# canonical ASCII-whitespace run (single source: functions/text.py)
from .text import WS_SPLIT as WS_RUN  # noqa: E402
# decode order matters: &amp; LAST (html5 non-double-decode rule)
NAMED_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&amp;", "&"),
)


# --------------------------------------------------------- Spark side


def strip_html_col(col: Column | str) -> Column:
    """Visible text of an HTML column — pure JVM (regexp_replace +
    HOF fold over the per-row entity list; the HOF iterates only over
    extracted entities, almost always few). NULL passes through."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.regexp_replace(c, SCRIPT_RE, " ")
    t = F.regexp_replace(t, STYLE_RE, " ")
    t = F.regexp_replace(t, COMMENT_RE, " ")
    t = F.regexp_replace(t, TAG_RE, " ")

    def _cp_ok(n: Column) -> Column:
        return (
            (n >= 32) & (n <= 65533) & ~((n >= 55296) & (n <= 57343))
        )

    def _chr(n: Column) -> Column:
        # Spark's char()/chr() is n % 256 (ASCII semantics), NOT a
        # codepoint constructor — build the BMP char from its UTF-16BE
        # bytes instead (n is guarded <= 0xFFFD and non-surrogate, so
        # the 2-byte form is always valid)
        return F.decode(F.unhex(F.lpad(F.hex(n), 4, "0")), "UTF-16BE")

    def _fold_dec(acc_src: Column) -> Column:
        ents = F.regexp_extract_all(acc_src, F.lit(DEC_ENT_RE), 1)

        def step(acc: Column, d: Column) -> Column:
            lit = F.concat(F.lit("&#"), d, F.lit(";"))
            n = d.cast("int")
            rep = F.when(_cp_ok(n), _chr(n)).otherwise(lit)
            return F.replace(acc, lit, rep)

        return F.aggregate(ents, acc_src, step)

    def _fold_hex(acc_src: Column) -> Column:
        ents = F.regexp_extract_all(acc_src, F.lit(HEX_ENT_RE), 1)

        def step(acc: Column, h: Column) -> Column:
            # the literal keeps the ORIGINAL x/X and hex case: rebuild
            # via the extract on a probe is impossible here, so match
            # both casings by replacing the two candidate spellings
            n = F.conv(h, 16, 10).cast("int")
            rep_ok = _cp_ok(n)
            out = acc
            for x in ("x", "X"):
                lit = F.concat(F.lit(f"&#{x}"), h, F.lit(";"))
                rep = F.when(rep_ok, _chr(n)).otherwise(lit)
                out = F.replace(out, lit, rep)
            return out

        return F.aggregate(ents, acc_src, step)

    t = _fold_hex(_fold_dec(t))
    for src, dst in NAMED_ENTITIES:
        t = F.replace(t, F.lit(src), F.lit(dst))
    return F.trim(F.regexp_replace(t, WS_RUN, " "))


def html_text_ratio_cols(col: Column | str) -> dict[str, Column]:
    """(text, n_chars_raw, n_chars_text) — ratio left to the caller
    as one exact division of these two ints."""
    c = F.col(col) if isinstance(col, str) else col
    text = strip_html_col(c)
    return {
        "text": text,
        "n_chars_raw": F.length(c),
        "n_chars_text": F.length(text),
    }


# ----------------------------------------------------------- SQL side


def strip_html_sql(expr: str) -> str:
    """DuckDB SQL expression applying the IDENTICAL pipeline."""
    t = f"regexp_replace({expr}, '{SCRIPT_RE}', ' ', 'g')"
    t = f"regexp_replace({t}, '{STYLE_RE}', ' ', 'g')"
    t = f"regexp_replace({t}, '{COMMENT_RE}', ' ', 'g')"
    t = f"regexp_replace({t}, '{TAG_RE}', ' ', 'g')"
    cp_ok = (
        "(CAST({n} AS INT) >= 32 AND CAST({n} AS INT) <= 65533"
        " AND NOT (CAST({n} AS INT) >= 55296"
        " AND CAST({n} AS INT) <= 57343))"
    )
    dn = "CAST(d AS INT)"
    dec = (
        f"list_reduce(list_prepend({t},"
        f" regexp_extract_all({t}, '{DEC_ENT_RE}', 1)),"
        f" (acc, d) -> replace(acc, '&#' || d || ';',"
        f" CASE WHEN {cp_ok.format(n=dn)} THEN chr({dn})"
        f" ELSE '&#' || d || ';' END))"
    )
    hn = "CAST(concat('0x', h) AS INT)"
    hexpass = (
        f"list_reduce(list_prepend({dec},"
        f" regexp_extract_all({dec}, '{HEX_ENT_RE}', 1)),"
        f" (acc, h) -> replace(replace(acc,"
        f" '&#x' || h || ';',"
        f" CASE WHEN {cp_ok.format(n=hn)} THEN chr({hn})"
        f" ELSE '&#x' || h || ';' END),"
        f" '&#X' || h || ';',"
        f" CASE WHEN {cp_ok.format(n=hn)} THEN chr({hn})"
        f" ELSE '&#X' || h || ';' END))"
    )
    t = hexpass
    for src, dst in NAMED_ENTITIES:
        d = dst.replace("'", "''")
        t = f"replace({t}, '{src}', '{d}')"
    return f"trim(regexp_replace({t}, '{WS_RUN}', ' ', 'g'), ' ')"
