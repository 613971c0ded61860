"""Pure-Python (and one plain-Spark) reference twins of engine kernels.

Each twin computes the same result as its engine counterpart by a
separate execution path, so the tests can pin the engine to it on
hostile inputs: URL parsing (functions/urls.url_parts), HTML
extraction (functions/htmltext.strip_html_col), script counts
(functions/scripts), the credit-card scrub (functions/scrub), the
linear probe (operators/probe) and the SimHash pair search
(operators/dedup.simhash_banded_pairs). Each twin reads the engine's
own pattern constants, so the two sides cannot drift apart by a
copied regex.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ds2_spark.functions.htmltext import (
    COMMENT_RE,
    DEC_ENT_RE,
    HEX_ENT_RE,
    NAMED_ENTITIES,
    SCRIPT_RE,
    STYLE_RE,
    TAG_RE,
    WS_RUN,
)
from ds2_spark.functions.scripts import SCRIPT_RANGES, _cls
from ds2_spark.functions.scrub import CC_CAND_RE, CC_TAG, luhn_valid_py
from ds2_spark.functions.urls import (
    _REJECT_CPS,
    _SLD_SET,
    DEFAULT_PORTS,
    HOST_OK_RE,
    SCHEME_RE,
    TRACKING_PARAM_RE,
)
from ds2_spark.operators.probe import QUANT


# ---------------------------------------------------------------- urls

_SCHEME_CRE = re.compile(SCHEME_RE)
_HOST_OK_CRE = re.compile(HOST_OK_RE)
_TRACKING_CRE = re.compile(TRACKING_PARAM_RE)
_REJECT_CRE = re.compile(
    "[" + re.escape("".join(chr(c) for c in _REJECT_CPS)) + "]"
)


def url_parts_py(url: "str | None") -> "dict | None":
    """Python twin (fixtures/oracles). Returns the same keys as
    url_parts; None for NULL input; valid=False rows carry None in
    every derived field."""
    if url is None:
        return None
    nofrag = url.split("#", 1)[0]
    m = _SCHEME_CRE.match(nofrag)
    scheme = m.group(1).lower() if m else ""
    rest = nofrag[m.end() :] if m else ""
    authority = re.match(r"^([^/?#]*)", rest).group(1)
    hostport = authority.rsplit("@", 1)[-1]
    had_user = len(authority) != len(hostport)
    rawhost = hostport.split(":", 1)[0].lower()
    pm = re.search(r":([0-9]+)$", hostport)
    port = pm.group(1) if pm else ""
    host = re.sub(r"^www\.", "", rawhost)
    host_ok = (
        bool(_HOST_OK_CRE.match(rawhost))
        and ".." not in rawhost
        and len(host) > 0
    )
    port_ok = bool(re.match(r"^[^:]*(:[0-9]+)?$", hostport))
    ws_free = not _REJECT_CRE.search(url)
    valid = scheme in ("http", "https") and host_ok and port_ok and ws_free
    invalid = {k: None for k in (
        "scheme", "host", "port", "path", "query", "domain",
        "had_userinfo", "canonical",
    )}
    if not valid:
        return {"valid": False, **invalid, "had_userinfo": False}
    if (scheme, port) in DEFAULT_PORTS or port == "":
        dport = ""
    else:
        dport = port
    pmatch = re.match(r"^[^/?#]*(/[^?#]*)?", rest).group(1)
    path = pmatch if pmatch else "/"
    qm = re.search(r"\?(.*)$", rest)
    query = qm.group(1) if qm else ""
    kept = sorted(
        p for p in query.split("&") if p != "" and not _TRACKING_CRE.match(p)
    )
    cquery = "&".join(kept)
    labels = [x for x in host.split(".") if x != ""]
    if len(labels) >= 3 and len(labels[-1]) == 2 and labels[-2] in _SLD_SET:
        domain = ".".join(labels[-3:])
    elif len(labels) >= 2:
        domain = ".".join(labels[-2:])
    else:
        domain = host
    canonical = (
        f"{scheme}://{host}"
        + (f":{dport}" if dport else "")
        + path
        + (f"?{cquery}" if cquery else "")
    )
    return {
        "valid": True,
        "scheme": scheme,
        "host": host,
        "port": dport,
        "path": path,
        "query": cquery,
        "domain": domain,
        "had_userinfo": had_user,
        "canonical": canonical,
    }


# ------------------------------------------------------------ htmltext

def _cp_ok_py(n: int) -> bool:
    return 32 <= n <= 65533 and not (55296 <= n <= 57343)


_DEC_CRE = re.compile(DEC_ENT_RE)
_HEX_CRE = re.compile(HEX_ENT_RE)


def strip_html_py(text: "str | None") -> "str | None":
    if text is None:
        return None
    t = re.sub(SCRIPT_RE, " ", text)
    t = re.sub(STYLE_RE, " ", t)
    t = re.sub(COMMENT_RE, " ", t)
    t = re.sub(TAG_RE, " ", t)
    for d in _DEC_CRE.findall(t):
        n = int(d)
        t = t.replace(f"&#{d};", chr(n) if _cp_ok_py(n) else f"&#{d};")
    for h in _HEX_CRE.findall(t):
        n = int(h, 16)
        for x in ("x", "X"):
            t = t.replace(
                f"&#{x}{h};", chr(n) if _cp_ok_py(n) else f"&#{x}{h};"
            )
    for src, dst in NAMED_ENTITIES:
        t = t.replace(src, dst)
    return re.sub(WS_RUN, " ", t).strip(" ")


# ------------------------------------------------------------- scripts

_COMPILED = {
    k: re.compile(_cls(v, "java")) for k, v in SCRIPT_RANGES.items()
}


def script_counts_py(text: "str | None") -> "dict | None":
    """Python twin (same regex flavor as Spark's Java classes)."""
    if text is None:
        return None
    counts = {
        f"n_{k}": len(text) - len(cre.sub("", text))
        for k, cre in _COMPILED.items()
    }
    letters = sum(
        counts[f"n_{k}"] for k in ("latin", "cyrillic", "cjk", "arabic")
    )
    major = sum(
        1
        for k in ("latin", "cyrillic", "cjk", "arabic")
        if counts[f"n_{k}"] * 5 >= letters
    )
    return {
        "n_chars": len(text),
        **counts,
        "n_letters": letters,
        "is_mixed": letters >= 20 and major >= 2,
    }


# --------------------------------------------------------------- scrub

_CC_CRE = re.compile(CC_CAND_RE, re.ASCII)


def _cc_windows_py(run: str) -> list[str]:
    """Token-aligned 13..19-digit windows of a run, (start asc, length
    desc) — the same enumeration the Spark/SQL expressions perform."""

    def isdig(ch: str) -> bool:
        return "0" <= ch <= "9"

    n = len(run)
    starts = [
        i for i in range(n) if isdig(run[i]) and (i == 0 or not isdig(run[i - 1]))
    ]
    ends = [
        i
        for i in range(n)
        if isdig(run[i]) and (i == n - 1 or not isdig(run[i + 1]))
    ][::-1]
    out = []
    for a in starts:
        for b in ends:
            if b < a:
                continue
            sub = run[a : b + 1]
            d = sub.replace(" ", "").replace("-", "")
            if 13 <= len(d) <= 19 and luhn_valid_py(d):
                out.append(sub)
    return out


def _cc_pass_py(text: str) -> str:
    for run in [m.group(2) for m in _CC_CRE.finditer(text)]:
        for win in _cc_windows_py(run):
            text = text.replace(win, CC_TAG)
    return text


def scrub_cc_py(text: "str | None") -> "str | None":
    """Python twin for oracles/fixtures."""
    if text is None:
        return None
    return _cc_pass_py(_cc_pass_py(text))


# --------------------------------------------------------------- probe

def train_linear_probe_np(X, y, steps: int = 6, lr: float = 0.5,
                          quant: int = QUANT) -> list[float]:
    """Independent NumPy/pure-Python replay (tests/oracles): per-row
    Python floor on the same quantized contributions, summed as Python
    ints — a genuinely different execution path that must reproduce
    the engine's weights bit-for-bit."""
    import math

    n, d = len(X), len(X[0])
    w = [0.0] * d
    for _ in range(steps):
        g = [0] * d
        for xi, yi in zip(X, y):
            acc = xi[0] * w[0]
            for xj, wj in zip(xi[1:], w[1:]):
                acc = acc + xj * wj
            r = acc - yi
            for j in range(d):
                g[j] += math.floor(xi[j] * r * float(quant) + 0.5)
        w = [wj - lr * (gj / (quant * n)) for wj, gj in zip(w, g)]
    return w


# --------------------------------------------------------------- dedup

def hamming_pairs(sig: DataFrame, max_dist: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance via cross join —
    bounded candidate sets only (the correctness twin of
    simhash_banded_pairs, which is the unbounded-input scale path)."""
    a = sig.alias("a")
    b = sig.alias("b")
    xor = F.expr("a.simhash ^ b.simhash")
    return (
        a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_dist)
    )
