"""Unicode script-mix profiling (functions/scripts).

Three engines, one range list: Spark (script_count_cols, Java
classes), DuckDB (script_count_sql, RE2 \\x{hhhh} classes — pinned by
the q_script_mix contract oracle), and script_counts_py. The
length-diff counting trick makes every count exact with zero
extraction.
"""

import duckdb
from pyspark.sql import functions as F

from ds2_spark.functions.scripts import (
    script_count_cols,
    script_count_sql,
)

from .oracle.twins import script_counts_py

CASES = [
    "pure latin text here with words",
    "чисто русски"
    "й текст без "
    "примесей",
    "日本語のテキストとひら"
    "がなカタカナ",
    "한국어 텍스트 예시입니다",
    "نص عربي خالص "
    "للاختبار",
    # mixed-script spoof: both scripts >= 20% of letters, >= 20 letters
    "sp00f чередовани"
    "е latin и cyr mixed text",
    "short",  # too few letters for is_mixed regardless
    "12345 67890 --- !!!",
    "",
]

KEYS = [
    "n_chars", "n_latin", "n_cyrillic", "n_cjk", "n_arabic", "n_digit",
    "n_space", "n_letters", "is_mixed",
]


def test_sql_matches_python_twin():
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, s VARCHAR)")
    for i, c in enumerate(CASES):
        con.execute("INSERT INTO t VALUES (?, ?)", [i, c])
    con.execute("INSERT INTO t VALUES (?, NULL)", [len(CASES)])
    parts = script_count_sql("s")
    sel = ", ".join(f"{parts[k]} AS {k}" for k in KEYS)
    for r in con.execute(f"SELECT i, {sel} FROM t ORDER BY i").fetchall():
        i = r[0]
        got = dict(zip(KEYS, r[1:]))
        py = script_counts_py(CASES[i] if i < len(CASES) else None)
        exp = {k: None for k in KEYS} if py is None else py
        assert got == exp, (i, got, exp)


def test_spark_matches_python_twin(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CASES)] + [(len(CASES), None)],
        "i int, s string",
    )
    cols = script_count_cols("s")
    rows = df.select("i", *[cols[k].alias(k) for k in KEYS]).collect()
    for r in rows:
        py = script_counts_py(CASES[r["i"]] if r["i"] < len(CASES) else None)
        exp = {k: None for k in KEYS} if py is None else py
        for k in KEYS:
            assert r[k] == exp[k], (r["i"], k, r[k], exp[k])


def test_semantics():
    pure = script_counts_py(CASES[0])
    assert pure["n_latin"] > 0 and pure["n_cyrillic"] == 0
    assert pure["is_mixed"] is False
    mixed = script_counts_py(CASES[5])
    assert mixed["n_latin"] >= 14 and mixed["n_cyrillic"] >= 12
    assert mixed["is_mixed"] is True
    # a sprinkle below 20% does NOT flag
    sprinkle = script_counts_py(
        "mostly latin text with lots of words и one cyr letter only"
    )
    assert sprinkle["is_mixed"] is False
    # Hangul counts as cjk; digits separate from letters
    hangul = script_counts_py(CASES[3])
    assert hangul["n_cjk"] > 0 and hangul["n_letters"] == hangul["n_cjk"]
    digits = script_counts_py(CASES[7])
    assert digits["n_digit"] == 10 and digits["n_letters"] == 0
    assert digits["is_mixed"] is False
    # `other` is derivable now that spaces are counted
    assert digits["n_chars"] - digits["n_space"] - sum(
        digits[f"n_{k}"] for k in ("latin", "cyrillic", "cjk", "arabic",
                                   "digit")
    ) == len("--- !!!".replace(" ", ""))
    # multiplication/division signs are NOT latin letter mass
    times = script_counts_py("\u00d7 \u00f7 " * 20 + "\u0447\u0438\u0441\u0442\u043e" * 5)
    assert times["n_latin"] == 0 and times["is_mixed"] is False
