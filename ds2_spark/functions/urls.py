"""URL canonicalization + registrable-domain extraction (3-engine).

Web-scale corpora are curated BY URL before any content heuristic
runs: C4 deduplicates and blocklist-filters on canonical URLs, CCNet
keys its shards by domain, and domain-level quality priors (wiki vs
content farm) are standard features. The reference has no counterpart
(its inputs are benchmark dumps keyed by id); at 10^12 rows URL
canonicalization is the first exact-dedup key and the domain is the
first group-by key of the whole pipeline, so both must be cheap
(pure JVM string ops, whole-stage codegen — no UDF) and *stable*
(two pipelines disagreeing on a canonical form silently halves dedup
recall).

One spec, three engines (the scrub.py discipline — Spark Columns,
DuckDB SQL strings, and a Python twin in tests/oracle/twins.py; explicit
ASCII classes, no \\b / \\d / \\s, RE2-compatible — no backrefs or
lookaround):

  1. strip the fragment (everything from the first '#');
  2. scheme = lowercase '^[A-Za-z][A-Za-z0-9+.-]*' before '://'
     (scheme-relative and bare paths are INVALID here — ingest rows
     carry absolute URLs or nothing);
  3. authority = up to the first '/', '?' or '#'; userinfo
     ('user:pass@', credential PII) is STRIPPED and flagged;
  4. host = lowercased, one leading 'www.' label removed; valid
     hosts match '^[a-z0-9]([a-z0-9.-]*[a-z0-9])?$' and contain no
     empty label ('..'); port dropped when default (http:80,
     https:443) or empty;
  5. path: empty -> '/' (no dot-segment removal — documented
     non-goal, rare in crawl data and ambiguous cross-engine);
  6. query: split on '&', drop empty params and tracking params
     (TRACKING_PARAM_RE: utm_*, gclid, fbclid, ...), sort the rest
     bytewise, rejoin — parameter ORDER never splits a dedup key,
     click-tracking noise never does either;
  7. canonical = scheme://host[:port][path][?query] for valid rows,
     NULL for invalid/NULL input.

Registrable domain: last 2 labels, or last 3 when the TLD is
2 letters and the middle label is a known second-level suffix
(co/com/net/org/ac/gov/edu — 'bbc.co.uk' -> 'bbc.co.uk', not
'co.uk'). A deliberate, documented approximation of the Public
Suffix List (the full PSL is a data file, not an algorithm; swap
`_SLD_SET` for a broadcast PSL table in production without changing
the call sites).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
HOST_OK_RE = r"^[a-z0-9]([a-z0-9.-]*[a-z0-9])?$"
# anchored full-param match: name alone or name=value
TRACKING_PARAM_RE = (
    r"^(utm_[A-Za-z0-9_-]*|gclid|fbclid|msclkid|yclid|igshid|mc_eid|"
    r"ref_src|spm)(=.*)?$"
)
_SLD_SET = ("co", "com", "net", "org", "ac", "gov", "edu")
DEFAULT_PORTS = (("http", "80"), ("https", "443"))

# Whitespace/control rejection — the one-spec load-bearer for every
# $-anchored regex in this module: Java's `$` matches BEFORE a final
# line terminator (\n \r \x0b \f \x85 \u2028 \u2029) while RE2's and
# Python's match end-of-text only, so 'http://example.com\n' would
# parse valid-with-stripped-\n in Spark and invalid in DuckDB. RFC
# 3986 forbids literal whitespace/controls in URLs anyway, so `valid`
# rejects any such char up front — after the gate, the three engines'
# `$` semantics coincide on every string that still matters. The
# class is generated per engine from ONE codepoint list (RE2 needs
# \x{hhhh} for >0x7f, Java/Python take \uhhhh).
_REJECT_CPS = tuple(range(0x00, 0x21)) + (0x7F, 0x85, 0x2028, 0x2029)
REJECT_CLASS_JAVA = (
    "[" + "".join(f"\\u{c:04x}" for c in _REJECT_CPS) + "]"
)
REJECT_CLASS_RE2 = (
    "["
    + "".join(
        f"\\x{{{c:04x}}}" if c > 0x7F else f"\\x{c:02x}" for c in _REJECT_CPS
    )
    + "]"
)


# --------------------------------------------------------- Spark side


def url_parts(col: Column | str) -> dict[str, Column]:
    """Parsed/derived URL columns. Keys: valid (boolean), scheme,
    host (canonical: lowercase, www-stripped), port (kept only when
    non-default), path, query (canonicalized), domain, had_userinfo
    (boolean), canonical. Invalid or NULL input -> NULL string cols,
    valid=false (NULL input -> valid NULL propagates)."""
    u = F.col(col) if isinstance(col, str) else col
    nofrag = F.regexp_extract(u, r"^([^#]*)", 1)
    scheme = F.lower(F.regexp_extract(nofrag, SCHEME_RE, 1))
    rest = F.regexp_extract(nofrag, SCHEME_RE + r"(.*)$", 2)
    authority = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    hostport = F.regexp_extract(authority, r"([^@]*)$", 1)
    had_user = F.length(authority) != F.length(hostport)
    rawhost = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    host = F.regexp_replace(rawhost, r"^www\.", "")
    host_ok = (
        rawhost.rlike(HOST_OK_RE)
        & ~rawhost.like("%..%")
        & (F.length(host) > 0)
    )
    # a non-numeric port suffix ("host:80a") must invalidate the row,
    # not silently vanish from the canonical form
    port_ok = hostport.rlike(r"^[^:]*(:[0-9]+)?$")
    ws_free = ~u.rlike(REJECT_CLASS_JAVA)
    valid = scheme.isin("http", "https") & host_ok & port_ok & ws_free
    dport = F.when(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == ""),
        F.lit(""),
    ).otherwise(port)
    path = F.regexp_extract(rest, r"^[^/?#]*(/[^?#]*)?", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    cquery = F.array_join(kept, "&")
    labels = F.filter(F.split(host, r"\."), lambda x: x != "")
    n = F.size(labels)
    el = lambda i: F.element_at(labels, i)  # noqa: E731
    domain = F.when(
        (n >= 3)
        & (F.length(el(n)) == 2)
        & el(n - 1).isin(*_SLD_SET),
        F.concat_ws(".", el(n - 2), el(n - 1), el(n)),
    ).when(n >= 2, F.concat_ws(".", el(n - 1), el(n))).otherwise(host)
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(dport != "", F.concat(F.lit(":"), dport)).otherwise(F.lit("")),
        path,
        F.when(cquery != "", F.concat(F.lit("?"), cquery)).otherwise(
            F.lit("")
        ),
    )
    nn = lambda c: F.when(valid, c)  # noqa: E731  (NULL unless valid)
    return {
        "valid": valid,
        "scheme": nn(scheme),
        "host": nn(host),
        "port": nn(dport),
        "path": nn(path),
        "query": nn(cquery),
        "domain": nn(domain),
        # AND, not when(): invalid rows report false (a non-null
        # boolean — NULL booleans surface as NaN through pandas/Arrow
        # on the oracle side); NULL input stays NULL by 3VL
        "had_userinfo": valid & had_user,
        "canonical": nn(canonical),
    }


def url_canonical_col(col: Column | str) -> Column:
    return url_parts(col)["canonical"]


def url_domain_col(col: Column | str) -> Column:
    return url_parts(col)["domain"]


# ----------------------------------------------------------- SQL side


def _url_sql_defs() -> list[tuple[str, str]]:
    """Ordered intermediate definitions, each a .format template over
    `u` (the input expression) and earlier names. ONE spec for both
    renderings: url_parts_sql inlines recursively (self-contained
    expressions, used by tests); url_parts_sql_ctes emits one
    MATERIALIZED CTE per step (linear evaluation — the inline form
    re-evaluates shared subtrees per consumer, which goes superlinear
    when an oracle projects many derived columns; NOTES.md #58)."""
    sld = ", ".join(f"'{s}'" for s in _SLD_SET)
    el = lambda i: f"list_extract({{labels}}, {i})"  # noqa: E731
    return [
        ("nofrag", "regexp_extract({u}, '^([^#]*)', 1)"),
        ("scheme", f"lower(regexp_extract({{nofrag}}, '{SCHEME_RE}', 1))"),
        ("rest", f"regexp_extract({{nofrag}}, '{SCHEME_RE}(.*)$', 2)"),
        ("authority", "regexp_extract({rest}, '^([^/?#]*)', 1)"),
        ("hostport", "regexp_extract({authority}, '([^@]*)$', 1)"),
        ("had_user", "(length({authority}) != length({hostport}))"),
        ("rawhost", "lower(regexp_extract({hostport}, '^([^:]*)', 1))"),
        ("port0", "regexp_extract({hostport}, ':([0-9]+)$', 1)"),
        ("host", "regexp_replace({rawhost}, '^www\\.', '')"),
        ("host_ok",
         f"(regexp_matches({{rawhost}}, '{HOST_OK_RE}')"
         " AND NOT contains({rawhost}, '..') AND length({host}) > 0)"),
        ("port_ok", "regexp_matches({hostport}, '^[^:]*(:[0-9]+)?$')"),
        ("ws_free",
         "(NOT regexp_matches({u}, '"
         + REJECT_CLASS_RE2.replace("{", "{{").replace("}", "}}")
         + "'))"),
        ("valid",
         "({scheme} IN ('http', 'https') AND {host_ok} AND {port_ok}"
         " AND {ws_free})"),
        ("dport",
         "CASE WHEN ({scheme} = 'http' AND {port0} = '80')"
         " OR ({scheme} = 'https' AND {port0} = '443')"
         " OR {port0} = '' THEN '' ELSE {port0} END"),
        ("path0", "regexp_extract({rest}, '^[^/?#]*(/[^?#]*)?', 1)"),
        ("path", "CASE WHEN {path0} = '' THEN '/' ELSE {path0} END"),
        ("query0", "regexp_extract({rest}, '\\?(.*)$', 1)"),
        ("kept",
         "list_sort(list_filter(string_split({query0}, '&'), p -> p != ''"
         f" AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}')))"),
        # coalesce: DuckDB array_to_string([]) is NULL, Spark
        # array_join is ''
        ("cquery", "coalesce(array_to_string({kept}, '&'), '')"),
        ("labels", "list_filter(string_split({host}, '.'), x -> x != '')"),
        ("nlab", "len({labels})"),
        ("domain",
         f"CASE WHEN {{nlab}} >= 3 AND length({el('{nlab}')}) = 2"
         f" AND {el('{nlab} - 1')} IN ({sld})"
         f" THEN concat_ws('.', {el('{nlab} - 2')}, {el('{nlab} - 1')},"
         f" {el('{nlab}')})"
         f" WHEN {{nlab}} >= 2 THEN concat_ws('.', {el('{nlab} - 1')},"
         f" {el('{nlab}')})"
         " ELSE {host} END"),
        ("canonical",
         "concat({scheme}, '://', {host},"
         " CASE WHEN {dport} != '' THEN concat(':', {dport}) ELSE '' END,"
         " {path},"
         " CASE WHEN {cquery} != '' THEN concat('?', {cquery})"
         " ELSE '' END)"),
    ]


def _url_public(env: dict) -> dict[str, str]:
    nn = lambda c: f"CASE WHEN {env['valid']} THEN {c} END"  # noqa: E731
    return {
        "valid": env["valid"],
        "scheme": nn(env["scheme"]),
        "host": nn(env["host"]),
        "port": nn(env["dport"]),
        "path": nn(env["path"]),
        "query": nn(env["cquery"]),
        "domain": nn(env["domain"]),
        "had_userinfo": f"({env['valid']} AND {env['had_user']})",
        "canonical": nn(env["canonical"]),
    }


def url_parts_sql(expr: str) -> dict[str, str]:
    """DuckDB SQL expression strings computing the IDENTICAL derived
    values from `expr`. Each value is a self-contained expression
    (nested, not CTE-dependent) so callers can splice any subset —
    for many-column projections prefer url_parts_sql_ctes."""
    env = {"u": expr}
    for name, tpl in _url_sql_defs():
        env[name] = tpl.format(**env)
    return _url_public(env)


def url_parts_sql_ctes(src: str, expr: str = "raw") -> tuple[str, dict]:
    """Staged rendering: returns (ctes, parts) where `ctes` is a CTE
    chain fragment (splice after your synthesis CTE `src`) computing
    every intermediate ONCE in MATERIALIZED steps, and `parts` maps
    the public keys to cheap expressions over the final CTE `u_url`.
    Same _url_sql_defs spec as the inline form."""
    defs = _url_sql_defs()
    env = {"u": expr, **{name: name for name, _ in defs}}
    steps = []
    prev = src
    for i, (name, tpl) in enumerate(defs):
        rel = "u_url" if i == len(defs) - 1 else f"u{i}"
        steps.append(
            f"{rel} AS MATERIALIZED (SELECT *, {tpl.format(**env)}"
            f" AS {name} FROM {prev})"
        )
        prev = rel
    return ",\n    ".join(steps), _url_public(env)
