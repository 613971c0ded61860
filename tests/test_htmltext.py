"""HTML tag strip + entity decode (functions/htmltext).

Three engines, one spec: Spark (strip_html_col), DuckDB
(strip_html_sql — pinned by the q_html_extract contract oracle), and
strip_html_py. Hostile cases: script/style/comment blocks, named +
decimal + hex entities, the &amp;-last non-double-decode rule,
out-of-range/surrogate/astral codepoints staying literal, attribute
'>' regex bound, unterminated script, whitespace squeeze, NULL.
"""

import duckdb
from pyspark.sql import functions as F

from ds2_spark.functions.htmltext import (
    html_text_ratio_cols,
    strip_html_col,
    strip_html_sql,
)

from .oracle.twins import strip_html_py

CASES = [
    "<html><head><title>T</title><style>p{c:red}</style></head>"
    "<body><p>Hello <b>world</b></p></body></html>",
    "<SCRIPT type='x'>var a=1; if(a<2){}</SCRIPT>after",
    "before<!-- hidden <b>bold</b> -->after",
    'A&amp;B &lt;tag&gt; &quot;q&quot; &apos;a&apos; x&nbsp;y',
    "&amp;lt; stays an entity (html5 non-double-decode)",
    "&#65;&#66; &#x43;&#X64; &#8364; euro",
    "&#7;control &#55296;surrogate &#70000;astral stay literal",
    "<a href='x>y'>attr-gt ends the tag early (regex bound)</a>",
    "<script>unterminated body survives <b>x</b>",
    "  spaces\t\tand\nnewlines  ",
    "no markup at all",
    "",
]


def test_sql_matches_python_twin():
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, h VARCHAR)")
    for i, c in enumerate(CASES):
        con.execute("INSERT INTO t VALUES (?, ?)", [i, c])
    con.execute("INSERT INTO t VALUES (?, NULL)", [len(CASES)])
    rows = con.execute(
        f"SELECT i, {strip_html_sql('h')} FROM t ORDER BY i"
    ).fetchall()
    for i, got in rows:
        exp = strip_html_py(CASES[i]) if i < len(CASES) else None
        assert got == exp, (i, got, exp)


def test_spark_matches_python_twin(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CASES)] + [(len(CASES), None)],
        "i int, h string",
    )
    rows = df.select("i", strip_html_col("h").alias("t")).collect()
    for r in rows:
        exp = strip_html_py(CASES[r["i"]]) if r["i"] < len(CASES) else None
        assert r["t"] == exp, (r["i"], r["t"], exp)


def test_ratio_cols(spark):
    # a boilerplate-heavy page scores a low text ratio; plain text 1.0
    df = spark.createDataFrame(
        [("<div><nav>x</nav></div>",), ("plain words here",)], "h string"
    )
    cols = html_text_ratio_cols("h")
    rows = (
        df.select(
            (cols["n_chars_text"] / cols["n_chars_raw"]).alias("ratio")
        )
        .collect()
    )
    assert rows[0]["ratio"] < 0.1
    assert rows[1]["ratio"] == 1.0


def test_known_outputs():
    assert strip_html_py(CASES[0]) == "T Hello world"
    assert strip_html_py(CASES[1]) == "after"
    assert strip_html_py(CASES[4]) == (
        "&lt; stays an entity (html5 non-double-decode)"
    )
    assert strip_html_py(CASES[5]) == "AB Cd € euro"
    # idempotence on already-clean text
    for c in CASES:
        cleaned = strip_html_py(c)
        if "&" not in cleaned and "<" not in cleaned:
            assert strip_html_py(cleaned) == cleaned
