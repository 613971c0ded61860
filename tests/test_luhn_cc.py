"""Luhn-validated credit-card scrub (functions/scrub.scrub_cc_*).

Three engines, one algorithm: Spark (regexp_extract_all + HOF Luhn +
fold-replace), DuckDB (scrub_cc_sql — pinned by the q_luhn_cc contract
oracle), and scrub_cc_py. Here: Spark == Python twin on hostile cases,
Luhn unit vectors, the fixed-point second pass, candidate-boundary
rules, and NULL passthrough.
"""

import duckdb
from pyspark.sql import functions as F

from ds2_spark.functions.scrub import (
    CC_TAG,
    luhn_valid_py,
    scrub_cc_col,
    scrub_cc_sql,
)

from .oracle.twins import scrub_cc_py

CASES = [
    # valid cards in every separator style
    "pay 4532 0151 1283 0366 today",
    "pay 4111-1111-1111-1111 today",
    "pay 4222222222222 today",  # 13-digit classic test number
    "5500 0055 5555 5559 mastercard",
    # Luhn-invalid runs must SURVIVE (the false-positive class a bare
    # regex would redact)
    "invoice 1234567812345678 attached",
    "tracking 9400-1000-0000-0000 code",
    # contiguous 20+ digit tokens are tested only as a whole (token
    # alignment) — never redacted
    "serial 12345678901234567890 ok",
    # adjacent cards, single space: both are token-aligned windows of
    # one maximal run
    "pair 4532015112830366 4111111111111111 end",
    "triple 4532015112830366 4111111111111111 4222222222222 end",
    # card adjacent to a small digit token (CVV-style) — the greedy
    # single-candidate scan leaked these; token-aligned windows redact
    # the card and leave the neighbor
    "card 4111111111111111 123 end",
    "card 4111111111111111 12 end",
    "amt 99 4111111111111111 end",
    "4222222222222 123456 end",
    "1234 4111 1111 1111 1111 end",
    "4111 1111 1111 1111 123 end",
    # a >39-digit run splits at token boundaries during extraction;
    # the card token still becomes its own candidate run (scan restarts
    # at the delimiter before it)
    "mega 11111111111111111111 22222222222222222222 4111111111111111 ok",
    # card at string start / end (the ^ / $ delimiter alternatives)
    "4532015112830366 leads",
    "trails 4532015112830366",
    # letter-adjacent digit runs are not candidates (word-boundary
    # emulation, same _NONWORD class as the scrub chain)
    "id=a4532015112830366b stays",
    "SN4222222222222 stays",
    "plain text, no numbers at all",
    "",
]

EXPECTED_TAGS = [1, 1, 1, 1, 0, 0, 0, 2, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0]


def test_luhn_unit_vectors():
    assert luhn_valid_py("4532015112830366")
    assert luhn_valid_py("4111111111111111")
    assert luhn_valid_py("4222222222222")
    assert luhn_valid_py("5500005555555559")
    assert not luhn_valid_py("1234567812345678")
    assert not luhn_valid_py("4532015112830367")  # off-by-one digit


def test_scrub_cc_python_twin_expected_counts():
    for text, n in zip(CASES, EXPECTED_TAGS):
        out = scrub_cc_py(text)
        assert out.count(CC_TAG) == n, (text, out)
        # a replaced card leaves no 13+-digit run behind
        if n:
            assert text != out


def test_scrub_cc_spark_matches_python_twin(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CASES)] + [(len(CASES), None)],
        "i int, t string",
    )
    rows = df.select("i", scrub_cc_col(F.col("t")).alias("c")).collect()
    got = {r["i"]: r["c"] for r in rows}
    for i, t in enumerate(CASES):
        assert got[i] == scrub_cc_py(t), (i, t, got[i])
    assert got[len(CASES)] is None


def test_scrub_cc_sql_matches_python_twin():
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, txt VARCHAR)")
    for i, c in enumerate(CASES):
        con.execute("INSERT INTO t VALUES (?, ?)", [i, c])
    rows = con.execute(
        f"SELECT i, {scrub_cc_sql('txt')} FROM t ORDER BY i"
    ).fetchall()
    for i, out in rows:
        assert out == scrub_cc_py(CASES[i]), (i, CASES[i], out)


def test_scrub_cc_idempotent():
    for t in CASES:
        once = scrub_cc_py(t)
        assert scrub_cc_py(once) == once
