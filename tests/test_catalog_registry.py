"""The catalog registry: every query is declared once, by name, with its
DuckDB oracle beside it, and the driver contract and the benchmark read
that one registry. No Spark session is needed."""

import os

import pytest

import __spark_entry__
import bench
from ds2_spark import queries_catalog
from ds2_spark.queries_catalog import oracle_sql, queries, register

HAVE_ORACLE_SF = os.path.exists("/root/testdata/sf0.01/documents.parquet")


def test_122_queries_keyed_by_function_name():
    qs = queries()
    assert len(qs) == 122
    assert all(name == fn.__name__ for name, fn in qs.items())


def test_every_query_has_an_oracle():
    o = oracle_sql()
    lazy = {"flagship"}  # built from the sf0.01 documents
    assert set(queries()) - set(o) <= (set() if HAVE_ORACLE_SF else lazy)
    assert set(o) <= set(queries())
    assert all(isinstance(sql, str) and sql.strip() for sql in o.values())


def test_duplicate_name_raises():
    def q_scrub(spark, sf_dir):
        raise AssertionError("never registered")

    before = queries()["q_scrub"]
    with pytest.raises(ValueError, match="q_scrub"):
        register(oracle="SELECT 1")(q_scrub)
    assert queries()["q_scrub"] is before


def test_missing_oracle_testdata_leaves_flagship_out(monkeypatch):
    monkeypatch.setenv("DS2_ORACLE_SF_DIR", "/nonexistent/sf")
    o = oracle_sql()
    assert "flagship" not in o
    assert len(o) == 121


def test_bench_headline_names_are_registered():
    assert set(bench.HEADLINE) <= set(queries())


def test_bench_helpers_resolve():
    for name in ("_t", "_LSH_DIM", "_LSH_PLANES", "_LSH_TABLES", "_LSH_SCALE",
                 "_lsh_contract_planes"):
        assert hasattr(queries_catalog, name), name


def test_driver_entry_reads_the_registry():
    assert __spark_entry__.queries() == queries()
    assert __spark_entry__.oracle_sql() == oracle_sql()
    assert __spark_entry__.queries_catalog.flagship is queries()["flagship"]
