"""Capstone composition: every stage of q_corpus_build must fire
non-vacuously and the assembled ladder must be internally consistent
(NOTES #45 — a green hash over vacuous stages proves nothing)."""

import pytest

from ds2_spark.queries_catalog import oracle_sql
from ds2_spark.queries_catalog.text import q_corpus_build


@pytest.fixture(scope="module")
def built(spark):
    return q_corpus_build(
        spark, "/root/testdata/sf0.001"
    ).collect()


def test_every_stage_fires(built):
    reasons = {}
    for r in built:
        reasons[r["drop_reason"]] = reasons.get(r["drop_reason"], 0) + 1
    for expected in (
        "benchmark", "empty_after_scrub", "exact_dup",
        "contaminated", "not_sampled", "",
    ):
        assert reasons.get(expected, 0) > 0, (expected, reasons)


def test_ladder_consistency(built):
    for r in built:
        kept = r["kept"]
        reason = r["drop_reason"]
        assert kept == (1 if reason == "" else 0)
        if reason in ("benchmark", "empty_after_scrub", "exact_dup",
                      "contaminated"):
            # dropped before tokenization
            assert r["n_tokens"] is None, r
        else:
            # reached stage 4: tokenized
            assert r["n_tokens"] is not None and r["n_tokens"] > 0, r


def test_kept_token_mass_near_budget(built):
    kept_tokens = sum(r["n_tokens"] for r in built if r["kept"] == 1)
    # md5-bucket sampling is binomial around the planned expectation;
    # the plan itself targets 40k
    assert 0.7 * 40_000 < kept_tokens < 1.3 * 40_000, kept_tokens


def test_capstone_oracle_parity_mixed_case_and_null(spark, tmp_path):
    """Adversarial cross-engine replay beyond the all-lowercase sf
    fixtures: mixed-case contamination (the engine lowercases grams —
    the oracle must too) and a NULL-text corpus doc (must land in
    'empty_after_scrub' in BOTH engines, not fall through the ladder
    as a bogus 'exact_dup')."""
    import duckdb

    boiler = "all rights reserved contact admin for removal today ok"
    filler = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "letters flow onward")
    rows = []
    # doc 0 = benchmark (0 % 37 == 0)
    rows.append((0, "alpha beta gamma delta epsilon private bench tail",
                 "en", "s0", 0))
    # mixed-case contaminated: shares a 5-gram with the benchmark
    # only after lowercasing
    rows.append((1, "ALPHA BETA GAMMA DELTA EPSILON unique trailing words here",
                 "en", "s0", 0))
    rows.append((2, None, "en", "s0", 0))              # NULL text
    rows.append((3, f"{boiler} {boiler}", "en", "s1", 0))  # span-heavy
    rows.append((4, f"intro words {boiler} closing remarks", "en", "s1", 0))
    rows.append((5, "tiny shared doc alpha two three", "en", "s1", 0))
    # exact dup of 5: under 8 tokens, so span dedup can't consume it
    # (no 8-grams) and the exact-dup stage must catch it instead
    rows.append((6, "tiny shared doc alpha two three", "en", "s1", 0))
    rows.append((7, filler, "en", "s1", 0))
    for i in range(8, 40):
        rows.append((i, f"doc {i} speaks of window sort merge value "
                        f"table row batch item{i}", "en",
                     f"s{i % 3}", 0))

    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    )
    # q_corpus_build reads {sf_dir}/documents.parquet
    fx = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(fx)
    sf_dir = str(tmp_path)

    engine = sorted(
        (r["doc_id"], r["source"], r["drop_reason"], r["kept"],
         r["n_tokens"])
        for r in q_corpus_build(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB needs the part glob
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{fx}/*.parquet'")
    oracle = sorted(
        tuple(t)
        for t in con.sql(oracle_sql()["q_corpus_build"]).fetchall()
    )
    assert engine == oracle
    by_id = {t[0]: t for t in engine}
    assert by_id[1][2] == "contaminated"       # case-folded 5-gram hit
    assert by_id[2][2] == "empty_after_scrub"  # NULL text, both engines
    assert by_id[6][2] == "exact_dup"          # keep-first kept doc 5
    assert by_id[5][2] in ("", "not_sampled")
