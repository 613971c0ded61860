"""Seeded cross-engine fuzz: every 3-engine string surface on the
same hostile corpus.

The repo's parity claims (scrub chain, Luhn CC windows, invisible-char
sanitize, HTML strip, URL canonicalization) each carry hand-picked
hostile cases; this file drives ONE shared seeded generator — mixing
ASCII text, digits runs, card-like groups, entities, tags, URLs,
zero-width/fullwidth chars, newlines, NULs-adjacent controls — through
Spark, DuckDB, and the Python twins, asserting exact equality row by
row. A divergence any single surface's curated cases miss should
surface here first.

Generator notes: deterministic (random.Random(seed)), BMP-only (the
repo-wide Spark-UTF16-vs-DuckDB-codepoint length discipline), no
surrogates, no NUL (DuckDB VARCHAR cannot hold NUL).
"""

import random

import duckdb

from ds2_spark.functions.htmltext import strip_html_sql
from ds2_spark.functions.scrub import scrub_cc_sql, scrub_py, scrub_sql
from ds2_spark.functions.text import (
    SANITIZE_FW_FROM,
    SANITIZE_FW_TO,
    SANITIZE_SPACE_CLASS,
    SANITIZE_STRIP_CLASS,
    sanitize_py,
)


def sanitize_sql(expr: str) -> str:
    # the q_sanitize oracle's chain, factored for reuse here
    fw_to = SANITIZE_FW_TO.replace(chr(39), chr(39) * 2)
    return (
        f"translate(regexp_replace(regexp_replace({expr},"
        f" '{SANITIZE_STRIP_CLASS}', '', 'g'),"
        f" '{SANITIZE_SPACE_CLASS}', ' ', 'g'),"
        f" '{SANITIZE_FW_FROM}', '{fw_to}')"
    )
from ds2_spark.functions.urls import url_parts_sql

from .oracle.twins import scrub_cc_py, strip_html_py, url_parts_py

_WORDS = ["alpha", "beta", "kernel", "clip", "transcript", "Ово", "漢字",
          "café", "data", "zorgblat07", "zorgblat99x"]
_SNIPPETS = [
    "4111111111111111", "4532 0151 1283 0366", "123", "9" * 20,
    "call 555-0199 x", "a@b.co", "jane.doe+x@mail.example.org",
    "&amp;", "&#65;", "&#x42;", "&#999999;", "&lt;b&gt;",
    "<b>", "</b>", "<script>var a=1;</script>", "<!-- c -->",
    "<p class='x'>", "​", "‮", "ＦＷ", " ",
    "　", "﻿", "\n", "\t", "  ", "123-45-6789",
    "http://Example.COM:80/a?utm_source=x&b=1#f",
    "https://u:p@www.site.co.uk/p",
    "ftp://no", "http://bad..host/", ":", "?", "#", "&", ";", ".",
]


def _gen(seed: int, n: int) -> list:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        k = rng.randint(0, 12)
        parts = []
        for _ in range(k):
            if rng.random() < 0.55:
                parts.append(rng.choice(_WORDS))
            else:
                parts.append(rng.choice(_SNIPPETS))
            if rng.random() < 0.7:
                parts.append(" ")
        out.append("".join(parts))
    out += ["", None]
    return out


def _duck(texts):
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, s VARCHAR)")
    for i, s in enumerate(texts):
        con.execute("INSERT INTO t VALUES (?, ?)", [i, s])
    return con


CORPUS = _gen(20260821, 400)


def test_scrub_chain_fuzz_sql_vs_python():
    con = _duck(CORPUS)
    rows = con.execute(
        f"SELECT i, {scrub_sql('s')} FROM t ORDER BY i"
    ).fetchall()
    for i, got in rows:
        exp = None if CORPUS[i] is None else scrub_py(CORPUS[i])
        assert got == exp, (i, CORPUS[i])


def test_scrub_cc_fuzz_sql_vs_python():
    con = _duck(CORPUS)
    rows = con.execute(
        f"SELECT i, {scrub_cc_sql('s')} FROM t ORDER BY i"
    ).fetchall()
    for i, got in rows:
        assert got == scrub_cc_py(CORPUS[i]), (i, CORPUS[i])


def test_sanitize_fuzz_sql_vs_python():
    con = _duck(CORPUS)
    rows = con.execute(
        f"SELECT i, {sanitize_sql('s')} FROM t ORDER BY i"
    ).fetchall()
    for i, got in rows:
        assert got == sanitize_py(CORPUS[i]), (i, CORPUS[i])


def test_html_fuzz_sql_vs_python():
    con = _duck(CORPUS)
    rows = con.execute(
        f"SELECT i, {strip_html_sql('s')} FROM t ORDER BY i"
    ).fetchall()
    for i, got in rows:
        assert got == strip_html_py(CORPUS[i]), (i, CORPUS[i])


def test_urls_fuzz_sql_vs_python():
    keys = ["valid", "scheme", "host", "port", "path", "query", "domain",
            "had_userinfo", "canonical"]
    con = _duck(CORPUS)
    parts = url_parts_sql("s")
    sel = ", ".join(f"{parts[k]} AS {k}" for k in keys)
    rows = con.execute(f"SELECT i, {sel} FROM t ORDER BY i").fetchall()
    for r in rows:
        i = r[0]
        got = dict(zip(keys, r[1:]))
        py = url_parts_py(CORPUS[i])
        exp = {k: None for k in keys} if py is None else py
        for k in keys:
            assert got[k] == exp[k], (i, k, CORPUS[i])


def test_spark_fuzz_all_surfaces(spark):
    """One Spark pass over the corpus computing every surface, checked
    against the Python twins (DuckDB legs above close the triangle)."""
    from pyspark.sql import functions as F

    from ds2_spark.functions.htmltext import strip_html_col
    from ds2_spark.functions.scrub import scrub_cc_col, scrub_col
    from ds2_spark.functions.text import sanitize_col
    from ds2_spark.functions.urls import url_parts

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(CORPUS)], "i int, s string"
    )
    p = url_parts("s")
    rows = df.select(
        "i",
        scrub_col(F.col("s")).alias("scrub"),
        scrub_cc_col(F.col("s")).alias("cc"),
        sanitize_col(F.col("s")).alias("san"),
        strip_html_col("s").alias("html"),
        p["canonical"].alias("canon"),
        p["valid"].alias("valid"),
    ).collect()
    for r in rows:
        s = CORPUS[r["i"]]
        exp_scrub = None if s is None else scrub_py(s)
        assert r["scrub"] == exp_scrub, ("scrub", r["i"], s)
        assert r["cc"] == scrub_cc_py(s), ("cc", r["i"], s)
        assert r["san"] == sanitize_py(s), ("sanitize", r["i"], s)
        assert r["html"] == strip_html_py(s), ("html", r["i"], s)
        py = url_parts_py(s)
        exp_c = None if py is None else py["canonical"]
        exp_v = None if py is None else py["valid"]
        assert r["canon"] == exp_c, ("url", r["i"], s)
        assert r["valid"] == exp_v, ("url_valid", r["i"], s)
