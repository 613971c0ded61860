"""`catalog_text`: the heaviest and a light catalog query that read
`documents` through `_td()`, in a fixed order, each forced with
`.count()` as bench.py does. JVM split/explode/shuffle work that
shares no operator with the curation workloads.

The `documents` table is generated from the seed with the shape of
the sf0.1 table (checked against it: the same 30-word vocabulary,
10-100 words per document, mean about 54, languages en/zh/es/fr/de at
41/15/15/15/14%, `src<doc_id % 20>` sources, and 5% near-duplicates,
an earlier document plus " dup"), so that the decontamination queries
find real overlaps. It has 300 rows, not sf0.1's 5,000 (README.md)."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ds2_spark import queries_catalog
from harness import no_span

N_DOCS = 300
# two of the three `_td()` queries that ROADMAP item 4 targets; the
# other six cost 13 s (q_cluster_split) and 15 s (q_decontaminate,
# q_tfidf_top_terms, q_bpe_encode, q_token_budget, q_lm_kn) per run,
# which the regression gate's time budget does not hold (README.md)
QUERIES = ("q_corpus_build", "q_bloom_decontaminate")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def generate_documents(sf_dir: str, n: int, seed: int) -> str:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)  # one row group, like the sf tables
    return path


class CatalogText:
    name = "catalog_text"
    rows = "docs"

    def __init__(self, spark, work, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.queries = queries_catalog.queries()
        self.oracle_sql = queries_catalog.oracle_sql()

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.sf_dir = self.work.sub("sf")
        self.docs_path = generate_documents(self.sf_dir, N_DOCS, self.seed)
        self.fixture_s = time.perf_counter() - t0
        # warm-up pass; its rows are what the oracle check compares
        return {"frames": {q: self.queries[q](self.spark, self.sf_dir).toPandas()
                           for q in QUERIES}}

    def unit(self, span=no_span) -> dict:
        counts = {}
        t0 = time.perf_counter()
        for q in QUERIES:
            with span(f"catalog.{q}"):
                counts[q] = self.queries[q](self.spark, self.sf_dir).count()
        return {"counts": counts, "steps": [(time.perf_counter() - t0, N_DOCS)]}

    def prepare_check(self, warm: dict) -> None:
        """Each query's warm-up rows against its DuckDB oracle, once per
        invocation. The queries are deterministic, so a query that
        differs from its oracle fails every pass that ran it."""
        import duckdb
        from check_contract import normalize

        duck = duckdb.connect()
        duck.sql(f"CREATE VIEW documents AS SELECT * FROM '{self.docs_path}'")
        self.wrong, self.expected = set(), {}
        for q, sdf in warm["frames"].items():
            ddf = duck.sql(self.oracle_sql[q]).df()
            self.expected[q] = len(ddf)
            if sorted(sdf.columns) != sorted(ddf.columns) or normalize(sdf) != normalize(ddf):
                self.wrong.add(q)
        duck.close()

    def check(self, out: dict) -> list[str]:
        if "counts" in out:
            counts = out["counts"]
        else:  # the warm-up pass
            counts = {q: len(f) for q, f in out["frames"].items()}
        problems = [f"{q} differs from its oracle_sql()" for q in sorted(self.wrong)]
        return problems + [
            f"{q}: {n} rows, oracle has {self.expected[q]}"
            for q, n in counts.items() if n != self.expected[q]
        ]

    def digest(self, out: dict) -> dict[str, int]:
        return out["counts"]

    def layer_counts(self, out: dict) -> dict[str, float]:
        return {}
