"""Text and dedup operators: scrub, normalization, quality signals,
exact/near/span dedup, decontamination, tokenization and the corpus
build that composes them."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scrub import scrub_audit_cols, scrub_col, scrub_sql
from ..functions.text import (
    SANITIZE_FW_FROM,
    SANITIZE_FW_TO,
    SANITIZE_SPACE_CLASS,
    SANITIZE_STRIP_CLASS,
    WS_SPLIT,
    token_count_col,
    with_quality_features,
)
from . import register
from .common import _t, _td


@register(oracle=f"""
        SELECT doc_id, {scrub_sql('text')} AS text_scrubbed
        FROM documents ORDER BY doc_id
    """)
def q_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 scrub: PII/toxicity regexp_replace chain (JVM-side)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", scrub_col("text").alias("text_scrubbed")
    ).orderBy("doc_id")


# audit twin: rebuilds the planted-PII text, runs DuckDB's OWN
# regex engine through the shared chain, and applies the identical
# length-arithmetic tag counting (scrubbed-minus-original so
# literal pre-existing tags in the input never inflate the counts)
@register(oracle=f"""
        WITH raw AS (
          SELECT event_id AS doc_id,
            CASE WHEN event_id % 13 = 0 THEN NULL ELSE
              'doc ' || event_id
              || CASE WHEN event_id % 2 = 0
                      THEN ' contact user' || (event_id % 7)
                           || '@example.com now' ELSE '' END
              || CASE WHEN event_id % 3 = 0
                      THEN ' ssn 123-45-6789 ok' ELSE '' END
              || CASE WHEN event_id % 9 = 0
                      THEN ' pair 111-22-3333 444-55-6666 end'
                      ELSE '' END
              || CASE WHEN event_id % 5 = 0
                      THEN ' call +1 (415) 555-0199 now' ELSE '' END
              || CASE WHEN event_id % 7 = 0
                      THEN ' zorgblat' || lpad(CAST(event_id % 40 AS TEXT), 2, '0')
                           || ' end' ELSE '' END
              || CASE WHEN event_id % 11 = 0
                      THEN ' literal <EMAIL> marker' ELSE '' END
            END AS text
          FROM events),
        s AS (
          SELECT doc_id, text AS t, {scrub_sql('text')} AS sc
          FROM raw)
        SELECT doc_id,
          CAST((length(sc) - length(replace(sc, '<EMAIL>', ''))) / 7
             - (length(t) - length(replace(t, '<EMAIL>', ''))) / 7
             AS INT) AS n_email,
          CAST((length(sc) - length(replace(sc, '<SSN>', ''))) / 5
             - (length(t) - length(replace(t, '<SSN>', ''))) / 5
             AS INT) AS n_ssn,
          CAST((length(sc) - length(replace(sc, '<PHONE>', ''))) / 7
             - (length(t) - length(replace(t, '<PHONE>', ''))) / 7
             AS INT) AS n_phone,
          CAST((length(sc) - length(replace(sc, '<TOX>', ''))) / 5
             - (length(t) - length(replace(t, '<TOX>', ''))) / 5
             AS INT) AS n_tox
        FROM s ORDER BY doc_id
    """)
def q_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub audit metrics: per-document replacement counts for every
    PII/toxicity tag (functions/scrub.scrub_audit_cols — pure JVM
    length arithmetic over the verified chain, no second regex pass;
    the lineage metric a production scrub stage emits for takedown
    accounting and PII-rate drift monitoring). The sf documents
    corpus is PII-free (counting zeros proves nothing), so texts are
    synthesized from events with PLANTED structure: emails, SSNs
    (incl. the adjacent-pair single-delimiter case that needs the
    chain's second fixed-point pass), punctuated phone numbers,
    lexicon toxicity, literal pre-existing '<EMAIL>' markers that
    must NOT count (the scrubbed-minus-original subtraction), and
    NULL texts. The DuckDB oracle rebuilds the same text and counts
    through ITS OWN regex engine — chain, counting arithmetic, and
    the subtraction all sit between the two engines."""
    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    text = F.concat(
        F.lit("doc "),
        e.cast("string"),
        F.when(
            e % 2 == 0,
            F.concat(
                F.lit(" contact user"),
                (e % 7).cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(e % 3 == 0, F.lit(" ssn 123-45-6789 ok")).otherwise(F.lit("")),
        F.when(e % 9 == 0, F.lit(" pair 111-22-3333 444-55-6666 end"))
        .otherwise(F.lit("")),
        F.when(e % 5 == 0, F.lit(" call +1 (415) 555-0199 now"))
        .otherwise(F.lit("")),
        F.when(
            e % 7 == 0,
            F.concat(
                F.lit(" zorgblat"),
                F.lpad((e % 40).cast("string"), 2, "0"),
                F.lit(" end"),
            ),
        ).otherwise(F.lit("")),
        F.when(e % 11 == 0, F.lit(" literal <EMAIL> marker")).otherwise(
            F.lit("")
        ),
    )
    docs = ev.select(
        F.col("event_id").alias("doc_id"),
        F.when(e % 13 == 0, F.lit(None).cast("string"))
        .otherwise(text)
        .alias("text"),
    )
    return docs.select("doc_id", *scrub_audit_cols("text")).orderBy("doc_id")


@register(oracle=r"""
        WITH t AS (
          SELECT doc_id, coalesce(text, '') AS tx, trim(coalesce(text, '')) AS tr
          FROM documents
        )
        SELECT doc_id,
               length(tr) AS n_chars,
               len(list_filter(regexp_split_to_array(tr, '[ \t\n\x0b\f\r]+'),
                               x -> x <> '')) AS n_tokens,
               len(list_filter(regexp_split_to_array(tr, '[ \t\n\x0b\f\r\x21-\x2f\x3a-\x40\x5b-\x60\x7b-\x7e]+'),
                               x -> x <> '')) AS n_tokens_bpe,
               round(length(regexp_replace(tx, '[^0-9]', '', 'g'))
                     / greatest(length(tx), 1), 6) AS digit_ratio,
               round(length(regexp_replace(tx, '[^ \t\n\x0b\f\r]', '', 'g'))
                     / greatest(length(tx), 1), 6) AS space_ratio
        FROM t
    """)
def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in quality features + token count (F1/F4 analogs) —
    fully SQL-expressible."""
    docs = _t(spark, sf_dir, "documents").withColumnRenamed("text", "transcript")
    return (
        with_quality_features(docs)
        .withColumn("n_tokens_bpe", token_count_col("transcript"))
        .select(
            "doc_id",
            "n_chars",
            "n_tokens",
            "n_tokens_bpe",
            F.round("digit_ratio", 6).alias("digit_ratio"),
            F.round("space_ratio", 6).alias("space_ratio"),
        )
    )


@register(oracle=r"""
        SELECT lang, count(*) AS n_docs,
               count(DISTINCT md5(lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS n_distinct
        FROM documents GROUP BY lang ORDER BY lang
    """)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5 fingerprint of normalized text (O5 analog /
    training-data dedup), per language."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), WS_SPLIT, " ")))
    return (
        docs.select("lang", fp.alias("fp"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
        )
        .orderBy("lang")
    )


@register(oracle=r"""
        WITH t AS (
          SELECT doc_id, lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
          FROM documents
        )
        SELECT doc_id,
               list_min(list_transform(generate_series(1, length(t) - 4),
                        i -> md5('s1' || substr(t, i, 5)))) AS minhash_s1,
               list_min(list_transform(generate_series(1, length(t) - 4),
                        i -> md5('s2' || substr(t, i, 5)))) AS minhash_s2
        FROM t WHERE length(t) >= 5 ORDER BY doc_id
    """)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup signatures: 5-char shingles → per-salt min of
    md5(salt || shingle) — md5 is identical in Spark and DuckDB, so the
    oracle is exact. Docs sharing a signature column are near-dup
    candidates (LSH band = one salted minhash here)."""
    docs = _t(spark, sf_dir, "documents")
    text = F.lower(F.regexp_replace(F.trim(F.col("text")), WS_SPLIT, " "))
    d = docs.select("doc_id", text.alias("t")).filter(F.length("t") >= 5)
    d = d.withColumn(
        "shingles",
        F.expr("transform(sequence(1, length(t) - 4), i -> substr(t, i, 5))"),
    )
    for salt in ("s1", "s2"):
        d = d.withColumn(
            f"minhash_{salt}",
            F.array_min(F.expr(f"transform(shingles, s -> md5('{salt}' || s))")),
        )
    return d.select("doc_id", "minhash_s1", "minhash_s2").orderBy("doc_id")


def _simhash_oracle_sql() -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(48)
    )
    recon = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {i})"
        for i in range(48)
    )
    return rf"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(
                   lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')), ' ')) AS tok
          FROM documents
        ), h AS (
          SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS h
          FROM toks WHERE length(tok) > 0
        ), bits AS (
          SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
        )
        SELECT doc_id, {recon} AS simhash FROM bits ORDER BY doc_id
    """


@register(oracle=_simhash_oracle_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints (48-bit, portable md5-hex hash
    basis) — near-dup detection primitive."""
    from ..operators.dedup import simhash64

    docs = _t(spark, sf_dir, "documents")
    return (
        simhash64(docs, id_col="doc_id", text_col="text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def _simhash_neardup_oracle_sql(
    max_dist: int = 3, bits: int = 48, ordered: bool = True
) -> str:
    """Same pigeonhole banding over the q_simhash signature CTE; the
    final Hamming check makes banding invisible in the result, so a
    plain all-pairs SQL would give the same rows — banding in the
    oracle too keeps the two engines structurally comparable."""
    n_bands = max_dist + 1
    width = bits // n_bands
    band_selects = []
    for bnd in range(n_bands):
        lo = bnd * width
        w = width if bnd < n_bands - 1 else bits - lo
        mask = (1 << w) - 1
        band_selects.append(
            f"SELECT doc_id, simhash, {bnd} AS band, "
            f"(simhash >> {lo}) & {mask} AS bkey FROM sim"
        )
    bands = " UNION ALL ".join(band_selects)
    return f"""
        WITH sim AS ({_simhash_oracle_sql()}),
        keyed AS ({bands}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sh_a, b.simhash AS sh_b
          FROM keyed a JOIN keyed b USING (band, bkey)
          WHERE a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
        FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_dist}
        {"ORDER BY doc_a, doc_b" if ordered else ""}
    """


@register(oracle=_simhash_neardup_oracle_sql())
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs via pigeonhole banding (the scale
    path: band bucket-join + exact bit_count verify — no cross join)."""
    from ..operators.dedup import simhash64, simhash_banded_pairs

    docs = _td(spark, sf_dir)
    sig = simhash64(docs, id_col="doc_id", text_col="text")
    return (
        simhash_banded_pairs(sig, max_dist=3)
        .withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b")
        .orderBy("doc_a", "doc_b")
    )


def _minhash_jaccard_oracle_sql(n_hashes: int = 8, bands: int = 4, k: int = 5) -> str:
    rows_per_band = n_hashes // bands
    mh_cols = ", ".join(
        f"list_min(list_transform(shingles, s -> "
        f"CAST(concat('0x', substr(md5('h{h}:' || s), 1, 12)) AS BIGINT))) AS mh_{h}"
        for h in range(n_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id AS id, md5(concat_ws(':', '{b}', {cols})) AS band_key FROM sigs".format(
            b=b,
            cols=", ".join(
                f"CAST(mh_{b * rows_per_band + r} AS VARCHAR)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return rf"""
        WITH t AS (
          SELECT doc_id, lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
          FROM documents
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, greatest(length(t) - {k - 1}, 0)),
                   i -> substr(t, i, {k}))) AS shingles
          FROM t
        ), nonempty AS (
          SELECT * FROM sh WHERE len(shingles) > 0
        ), sigs AS (
          SELECT doc_id, {mh_cols} FROM nonempty
        ), keyed AS ({band_selects}),
        pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM keyed a JOIN keyed b USING (band_key)
          WHERE a.id < b.id
        )
        SELECT id_a, id_b,
               round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                     / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
        FROM pairs
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        ORDER BY id_a, id_b
    """


@register(oracle=_minhash_jaccard_oracle_sql())
def q_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs + exact n-gram Jaccard verification
    (shingle -> minhash -> band -> bucket-join -> verify)."""
    from ..operators.dedup import lsh_candidate_pairs, minhash_signatures, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, n_hashes=8, k=5)
    pairs = lsh_candidate_pairs(sigs, n_hashes=8, bands=4)
    return ngram_jaccard_pairs(docs, pairs, k=5).orderBy("id_a", "id_b")


@register(oracle=r"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 string_split(lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')), ' '),
                 x -> CAST(concat('0x', substr(md5(x), 1, 12)) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 2147483648) AS rolling_fp
    FROM documents ORDER BY doc_id
""")
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling (Karp-Rabin-style) token fingerprint via
    aggregate() — detects reordered-but-same-bag-of-words docs that the
    md5 bag fingerprint misses."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), WS_SPLIT, " "))
    toks = F.split(norm, " ")
    rolled = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(
            acc * 31 + F.conv(F.substring(F.md5(x), 1, 12), 16, 10).cast("long"),
            F.lit(2147483648).cast("long"),
        ),
    )
    return docs.select("doc_id", rolled.alias("rolling_fp")).orderBy("doc_id")


# clustering twin of q_dedup_clusters: reachability by recursive CTE
# (label flooding to a fixpoint via UNION-dedup) over the same
# SimHash-banding pair set; component id = min reachable doc_id
@register(oracle=f"""
    WITH RECURSIVE pairs AS (
      {_simhash_neardup_oracle_sql(ordered=False)}
    ),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(lab) AS comp FROM reach GROUP BY 1),
    sizes AS (SELECT comp, count(*) AS cluster_size FROM comp GROUP BY 1)
    SELECT c.doc_id, c.comp, s.cluster_size,
           CAST(c.doc_id = c.comp AS INT) AS canonical
    FROM comp c JOIN sizes s USING (comp)
    ORDER BY doc_id
""")
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> canonical doc per
    cluster (the keep-one step every dedup pipeline ends with), via
    the production `connected_components` hash-min label propagation
    (operators/dedup.py — distributed rounds, driver only checks the
    per-round moved counter). Pairs come from the SimHash banding
    scale path; every document appears (singletons are their own
    component). The DuckDB oracle computes reachability with a
    recursive CTE over the same pair set — a genuinely different
    fixpoint algorithm, so the two engines cross-check the CLUSTERING
    itself, not just the pair list."""
    from ..operators.dedup import (
        connected_components,
        simhash64,
        simhash_banded_pairs,
    )

    docs = _td(spark, sf_dir)
    sig = simhash64(docs, id_col="doc_id", text_col="text")
    pairs = simhash_banded_pairs(sig, max_dist=3)
    comp = connected_components(
        pairs, vertices=docs.select(F.col("doc_id").alias("id"))
    )
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "comp")
        .select(
            F.col("id").alias("doc_id"),
            "comp",
            "cluster_size",
            (F.col("id") == F.col("comp")).cast("int").alias("canonical"),
        )
        .orderBy("doc_id")
    )


# same blocking key, same <=500 block cap, same integer levenshtein
@register(oracle="""
    WITH t AS (
      SELECT doc_id, substr(text, 1, 24) AS title FROM documents
      WHERE length(substr(text, 1, 24)) > 0
    ),
    k AS (
      SELECT doc_id, title,
             concat(substr(title, 1, 1), '|',
                    CAST(CAST(floor(length(title) / 4) AS BIGINT) AS VARCHAR))
               AS blk
      FROM t
    ),
    ok AS (SELECT blk FROM k GROUP BY blk HAVING count(*) <= 500),
    kk AS (SELECT k.* FROM k JOIN ok USING (blk))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.title, b.title) AS INT) AS dist
    FROM kk a JOIN kk b USING (blk)
    WHERE a.doc_id < b.doc_id AND levenshtein(a.title, b.title) <= 3
    ORDER BY id_a, id_b
""")
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (operators/fuzzy.py): 24-char title
    prefixes pair within (first char, length-bucket) blocks and
    verify with JVM levenshtein <= 3 — the record-linkage shape that
    replaces O(n^2) all-pairs edit distance at scale. Levenshtein has
    identical integer semantics in DuckDB, so the twin is exact."""
    from ..operators.fuzzy import blocked_fuzzy_pairs

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 24).alias("title")
    )
    return blocked_fuzzy_pairs(docs, key_col="title", max_dist=3).orderBy(
        "id_a", "id_b"
    )


# same md5-prefix 5-gram keys, same <=200 hot-bucket cap, same
# shared/|grams(A)| ratio at 6 dp
@register(oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    dg AS (
      SELECT DISTINCT doc_id,
             substr(md5(unnest([array_to_string(w[i:i+4], ' ')
                                FOR i IN generate_series(1, greatest(len(w) - 4, 0))])),
                    1, 16) AS key
      FROM w
    ),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1),
    ok AS (SELECT key FROM dg GROUP BY key HAVING count(*) <= 200),
    k AS (SELECT dg.* FROM dg JOIN ok USING (key)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh
      FROM k a JOIN k b USING (key)
      WHERE a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(sh AS DOUBLE) / s.n_grams, 6) AS containment
    FROM shared JOIN sizes s ON s.doc_id = shared.id_a
    WHERE round(CAST(sh AS DOUBLE) / s.n_grams, 6) >= 0.8
    ORDER BY id_a, id_b
""")
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs
    (operators/decontam.containment_pairs): |grams(A) ∩ grams(B)| /
    |grams(A)| >= 0.8 — finds sub-document copies symmetric Jaccard
    signatures miss. Ids-only pair formation per shared gram key with
    the LSH-style hot-bucket cap; oracle recomputes with the same
    cap."""
    from ..operators.decontam import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, n=5, threshold=0.8).orderBy(
        "id_a", "id_b"
    )


# same n^0.3 temperature rates (6-dp rounded), same md5 bucket, same
# integer thresholds — membership verified row-exactly
@register(oracle="""
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS total,
                 sum(pow(n, 0.3)) AS wsum FROM c),
    thr AS (
      SELECT source,
             CAST(floor(round(least(1.0,
               (0.5 * total) * (pow(n, 0.3) / wsum) / n), 6) * 1000000)
               AS BIGINT) AS thr
      FROM c CROSS JOIN t
    ),
    b AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 1000000 AS bucket
      FROM documents
    )
    SELECT b.doc_id, b.source, b.bucket
    FROM b JOIN thr USING (source)
    WHERE b.bucket < thr.thr
    ORDER BY doc_id
""")
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (operators/sampling.py):
    per-source keep rates ∝ n^0.3 scaled to half the corpus (the
    mT5/XLM-R multilingual balancing scheme), applied through the
    deterministic md5-bucket membership — shuffle-free, RNG-free,
    resume-stable. The oracle recomputes rates natively (pow + the
    same 6-dp rounding) and the identical bucket, so membership is
    verified row-exactly."""
    from ..operators.sampling import hash_bucket, temperature_sample

    docs = _t(spark, sf_dir, "documents")
    out = temperature_sample(docs, "source", "doc_id", alpha=0.3, target_frac=0.5)
    return out.select(
        "doc_id", "source", hash_bucket(F.col("doc_id")).alias("bucket")
    ).orderBy("doc_id")


_BM25_QUERIES = [
    ("q1", "table scan"),
    ("q2", "fast vector batch"),
    ("q3", "customer order value"),
]


# identical Lucene-smoothed BM25 with exact-integer tf/df/dl/N and
# the same operator-for-operator double expression, rounded to 6 dp
# before ranking; the query workload is the same literal VALUES list
@register(oracle=r"""
    WITH qs(query_id, query_text) AS (
      VALUES ('q1', 'table scan'), ('q2', 'fast vector batch'),
             ('q3', 'customer order value')
    ),
    w AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                                x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    stats AS (
      SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n,
             CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
               / CAST(count(DISTINCT doc_id) AS DOUBLE) AS avgdl
      FROM documents
    ),
    qt AS (
      SELECT DISTINCT query_id,
             unnest(list_filter(regexp_split_to_array(lower(query_text), '[ \t\n\x0b\f\r]+'),
                                x -> x <> '')) AS term
      FROM qs
    ),
    scored AS (
      SELECT qt.query_id, tf.doc_id,
             round(sum(
               ln((stats.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
               * tf.tf
               / (tf.tf + 1.2 * (1.0 - 0.75 + (0.75 * dl.dl) / stats.avgdl))
             ), 6) AS score
      FROM tf
      JOIN qt USING (term)
      JOIN dl USING (doc_id)
      JOIN dfr USING (term)
      CROSS JOIN stats
      GROUP BY 1, 2
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5 ORDER BY query_id, rank
""")
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 retrieval (operators/tfidf.bm25_topk) for a
    literal 3-query workload over the documents corpus: query terms
    broadcast onto the corpus term index, exact-integer tf/df/dl/N
    inputs, one fixed double expression rounded to 6 dp before the
    deterministic (score desc, doc_id asc) ranking."""
    from ..operators.tfidf import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    qs = spark.createDataFrame(_BM25_QUERIES, "query_id string, query_text string")
    return bm25_topk(docs, qs, k=5).orderBy("query_id", "rank")


# identical integer chunk/pack math: n_chunks = floor((max(n-4,1)+11)
# / 12), slice bounds clamp the same way, running-sum ROWS frame over
# the unique (doc_id, chunk_idx) order
@register(oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS t
      FROM documents
    ),
    nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    ch AS (
      SELECT doc_id, t, n,
             unnest(generate_series(
               0, CAST(floor((greatest(n - 4, 1) + 11) / 12.0) AS INT) - 1))
               AS chunk_idx
      FROM nz
    ),
    c2 AS (
      SELECT doc_id, chunk_idx,
             t[chunk_idx * 12 + 1 : chunk_idx * 12 + 16] AS ct
      FROM ch
    ),
    c3 AS (
      SELECT doc_id, chunk_idx, CAST(len(ct) AS INT) AS n_tokens,
             array_to_string(ct, ' ') AS chunk_text
      FROM c2
    ),
    p AS (
      SELECT *, sum(n_tokens) OVER (
        ORDER BY doc_id, chunk_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM c3
    )
    SELECT doc_id, chunk_idx, n_tokens, chunk_text,
           CAST(floor((cum - n_tokens) / 64.0) AS INT) AS bin,
           CAST((cum - n_tokens) % 64 AS INT) AS bin_offset
    FROM p ORDER BY doc_id, chunk_idx
""")
def q_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking + deterministic sequence packing
    (operators/chunking.py): 16-token chunks with 4-token overlap,
    greedily packed into ~64-token bins by running-sum start position
    (global order here — bounded contract input; keyed at scale).
    Every boundary is integer arithmetic mirrored in the oracle."""
    from ..operators.chunking import chunk_documents, pack_chunks

    docs = _t(spark, sf_dir, "documents")
    ch = chunk_documents(docs, chunk_tokens=16, overlap=4)
    return pack_chunks(ch, budget_tokens=64).orderBy("doc_id", "chunk_idx")


# same char counts (empty tokens dropped on both sides) + the same
# -sum(p*log2 p) expression rounded to 6 dp
@register(oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ),
    cc AS (
      SELECT doc_id, c, count(*) AS cnt FROM ch WHERE c <> '' GROUP BY 1, 2
    ),
    np AS (SELECT doc_id, sum(cnt) AS n_chars FROM cc GROUP BY 1),
    e AS (
      SELECT cc.doc_id, np.n_chars,
             round(-sum((CAST(cnt AS DOUBLE) / n_chars)
                        * log2(CAST(cnt AS DOUBLE) / n_chars)), 6)
               AS entropy_bits
      FROM cc JOIN np USING (doc_id) GROUP BY 1, 2
    )
    SELECT d.doc_id, CAST(coalesce(e.n_chars, 0) AS BIGINT) AS n_chars,
           coalesce(e.entropy_bits, 0.0) AS entropy_bits
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN e USING (doc_id)
    ORDER BY doc_id
""")
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style character-entropy quality signal
    (functions/entropy.char_entropy): Shannon bits/char per document
    via the char-granularity word-count shape — map-side combine
    bounds the (doc, char) shuffle by the alphabet size per
    partition. 6-dp rounding absorbs cross-engine float-sum order."""
    from ..functions.entropy import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents")).orderBy("doc_id")


# same tokenization + sklearn smooth-idf formula recomputed natively;
# both engines round scores to 6 dp BEFORE ranking so last-ulp ln()
# differences can affect neither values nor order
@register(oracle=r"""
    WITH w AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                                x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS score
      FROM tf JOIN dfr USING (term) CROSS JOIN n
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3 ORDER BY doc_id, rank
""")
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top-3 keywords (operators/tfidf.py):
    corpus-global document frequency joined back onto per-doc term
    counts, smoothed-idf scores rounded to 6 dp for engine
    portability, deterministic (score desc, term asc) ranking."""
    from ..operators.tfidf import tfidf_top_terms

    docs = _td(spark, sf_dir)
    return tfidf_top_terms(docs, k=3).orderBy("doc_id", "rank")


# same lowercase/split/5-gram/md5-prefix normalization, benchmark =
# doc_id % 37 == 0, recomputed natively (list slice + comprehension)
@register(oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    dg AS (
      SELECT DISTINCT doc_id,
             substr(md5(unnest([array_to_string(w[i:i+4], ' ')
                                FOR i IN generate_series(1, greatest(len(w) - 4, 0))])),
                    1, 16) AS key
      FROM w
    ),
    bg AS (SELECT DISTINCT key FROM dg WHERE doc_id % 37 = 0)
    SELECT doc_id, count(*) AS n_hits
    FROM dg JOIN bg USING (key)
    GROUP BY 1 ORDER BY 1
""")
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): training
    docs sharing any word 5-gram with a held-out benchmark — here the
    deterministic doc_id % 37 == 0 subset plays the benchmark, and
    the corpus's built-in near-dups make two NON-benchmark docs
    genuinely contaminated. Benchmark n-gram keys broadcast (64-bit
    md5-prefix keys, identical strings in both engines); the corpus
    explode never shuffles; the report is ids-only."""
    from ..operators.decontam import contamination_report

    docs = _td(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return contamination_report(docs, bench, n=5).orderBy("doc_id")


# same 2-word pseudo-line rewrite, then the Gopher repetition math
# recomputed natively: line counts via unnest(string_split), 2-gram
# counts via a list comprehension — integer sums on both engines, so
# the final double divisions are bit-identical
@register(oracle=r"""
    WITH derived AS (
      SELECT doc_id,
             regexp_replace(text, '(\S+ \S+) ', '\1' || chr(10), 'g') AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id, trim(x) AS line
      FROM derived, unnest(string_split(text, chr(10))) AS u(x)
      WHERE trim(x) <> ''
    ),
    lc AS (SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY 1, 2),
    lagg AS (
      SELECT doc_id, sum(cnt) AS n_lines, sum(cnt - 1) AS n_dup,
             sum((cnt - 1) * length(line)) AS dup_chars,
             sum(cnt * length(line)) AS line_chars
      FROM lc GROUP BY 1
    ),
    words AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
      FROM derived
    ),
    grams AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i + 1]
                     FOR i IN generate_series(1, greatest(len(w) - 1, 0))]) AS g
      FROM words
    ),
    gc AS (SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY 1, 2),
    gagg AS (SELECT doc_id, max(cnt * length(g)) AS top_gram_chars FROM gc GROUP BY 1),
    feat AS (
      SELECT b.doc_id,
             CAST(coalesce(l.n_lines, 0) AS BIGINT) AS n_lines,
             CASE WHEN coalesce(l.n_lines, 0) = 0 THEN 0.0
                  ELSE CAST(l.n_dup AS DOUBLE) / l.n_lines END AS dup_line_frac,
             CASE WHEN coalesce(l.line_chars, 0) = 0 THEN 0.0
                  ELSE CAST(l.dup_chars AS DOUBLE) / l.line_chars END AS dup_line_char_frac,
             CASE WHEN coalesce(g.top_gram_chars, 0) = 0 OR length(b.text) = 0 THEN 0.0
                  ELSE CAST(g.top_gram_chars AS DOUBLE) / length(b.text) END AS top_2gram_char_frac
      FROM derived b
      LEFT JOIN lagg l USING (doc_id)
      LEFT JOIN gagg g USING (doc_id)
    )
    SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac, top_2gram_char_frac,
           CAST(dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
                AND top_2gram_char_frac <= 0.20 AS INT) AS rep_keep
    FROM feat ORDER BY doc_id
""")
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style intra-document repetition quality filter
    (operators/repetition.py): duplicate-line fraction, duplicate-line
    char mass, and top word-2-gram char fraction per document, with
    the Gopher keep/drop thresholds. The synthetic corpus has no
    newlines, so the query first derives 2-word pseudo-lines by
    turning every second word boundary into a newline — a literal,
    length-preserving regex rewrite mirrored verbatim in the DuckDB
    oracle, so both engines score the exact same multi-line text.
    Everything downstream is the production operator: explode +
    map-side-combined groupBys, zero Python."""
    from ..operators.repetition import repetition_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", r"(\S+ \S+) ", "$1\n").alias("text"),
    )
    return repetition_features(docs).orderBy("doc_id")


# Sentence twin: DuckDB's own regex split on the same class; empty
# fragments (leading punctuation, trailing terminator) trimmed+dropped
# on both sides.
@register(oracle=r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(regexp_split_to_array(text,
                         '[.!?]+'), x -> trim(x)), x -> x <> '') AS sents
      FROM documents)
    SELECT doc_id,
           CAST(len(sents) AS INT) AS n_sentences,
           CAST(COALESCE(list_max(list_transform(sents, x -> length(x))), 0)
                AS INT) AS max_sentence_chars
    FROM s ORDER BY doc_id
""")
def q_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (the text-analysis primitive under
    readability/quality scoring): split on [.!?]+ runs, count
    non-empty trimmed sentences and the length of the longest one.
    Pure JVM split/transform/filter; the DuckDB twin uses its own
    regex engine on the same pattern, so the two segmentations check
    each other (the scrub 3-engine discipline, minus the Java-\\b trap
    — the pattern is engine-portable by construction)."""
    docs = _t(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    return docs.select(
        "doc_id",
        F.size(sents).alias("n_sentences"),
        F.coalesce(
            F.array_max(F.transform(sents, lambda s: F.length(s))), F.lit(0)
        ).alias("max_sentence_chars"),
    ).orderBy("doc_id")


# quality-aware keep-one twin: recursive-CTE reachability (same
# independent fixpoint as q_dedup_clusters) + the identical
# highest-quality/lowest-id row_number selection
@register(oracle=f"""
    WITH RECURSIVE pairs AS (
      {_simhash_neardup_oracle_sql(ordered=False)}
    ),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(lab) AS comp FROM reach GROUP BY 1),
    ranked AS (
      SELECT c.doc_id, c.comp, d.n_chars AS quality,
             count(*) OVER (PARTITION BY c.comp) AS cluster_size,
             row_number() OVER (PARTITION BY c.comp
                                ORDER BY d.n_chars DESC, c.doc_id)
               AS q_rank
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
    SELECT doc_id, comp, CAST(cluster_size AS BIGINT) AS cluster_size,
           quality, CAST(q_rank AS INT) AS q_rank,
           CAST(q_rank = 1 AS INT) AS kept
    FROM ranked ORDER BY doc_id
""")
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep-one dedup (operators/dedup.canonical_ranks):
    the same SimHash-banding -> connected-components clustering as
    q_dedup_clusters, but the kept member per cluster is the HIGHEST
    QUALITY one (here n_chars — keep the longest crawl; ties by
    lowest doc_id, a total order both engines replay), not min-id.
    The DuckDB oracle recomputes reachability with its recursive CTE
    (independent fixpoint algorithm) and applies the identical
    row_number ranking — cross-checking both the clustering and the
    selection."""
    from ..operators.dedup import (
        canonical_ranks,
        connected_components,
        simhash64,
        simhash_banded_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = simhash64(docs, id_col="doc_id", text_col="text")
    pairs = simhash_banded_pairs(sig, max_dist=3)
    comp = connected_components(
        pairs, vertices=docs.select(F.col("doc_id").alias("id"))
    )
    ranked = canonical_ranks(docs, comp, id_col="doc_id", quality_col="n_chars")
    return ranked.orderBy("doc_id")


# Exact substring-span dedup: same key/ownership/merge/rewrite
# semantics as operators/spandedup.py, re-derived in SQL windows.
# Touching intervals (s = run_max + 1) merge — the removal set is
# identical either way but n_spans must agree between engines.
def _span_dedup_ctes(src: str = "documents") -> str:
    """Span-dedup CTE chain (sd_*-prefixed) over `src` (must expose
    doc_id, text), ending in sd_w / sd_per_doc / sd_kept — shared by
    the q_span_dedup oracle and the q_corpus_build capstone so the
    two replays cannot drift."""
    return f"""
    sd_w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')
               AS w
      FROM {src}
    ),
    sd_g AS (
      SELECT doc_id, i AS pos,
             substring(md5(array_to_string(w[i:i+7], ' ')), 1, 16) AS key
      FROM sd_w, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)
    ),
    sd_dup AS (
      SELECT key, min(doc_id) AS owner
      FROM sd_g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
    ),
    sd_marked AS (
      SELECT sd_g.doc_id, sd_g.pos AS s, sd_g.pos + 7 AS e
      FROM sd_g JOIN sd_dup USING (key) WHERE sd_g.doc_id <> sd_dup.owner
    ),
    sd_brk AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM sd_marked
    ),
    sd_isl AS (
      SELECT doc_id, s, e,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS UNBOUNDED PRECEDING) AS iid
      FROM sd_brk
    ),
    sd_spans AS (
      SELECT doc_id, iid, min(s) AS s, max(e) AS e
      FROM sd_isl GROUP BY 1, 2
    ),
    sd_per_doc AS (
      SELECT doc_id, count(*) AS n_spans,
             sum(e - s + 1) AS tokens_removed
      FROM sd_spans GROUP BY 1
    ),
    sd_removed AS (
      SELECT DISTINCT doc_id, u.p
      FROM sd_spans, unnest(generate_series(s, e)) AS u(p)
    ),
    sd_tok AS (
      SELECT sd_w.doc_id, u.p, sd_w.w[u.p] AS tok
      FROM sd_w,
           unnest(generate_series(1, greatest(len(sd_w.w), 0))) AS u(p)
    ),
    sd_kept AS (
      SELECT t.doc_id,
             string_agg(t.tok, ' ' ORDER BY t.p) AS dedup_text
      FROM sd_tok t
      LEFT JOIN sd_removed r ON t.doc_id = r.doc_id AND t.p = r.p
      WHERE r.p IS NULL
      GROUP BY 1
    )"""


@register(oracle="WITH " + _span_dedup_ctes("documents") + """
    SELECT sd_w.doc_id,
           CAST(len(sd_w.w) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.tokens_removed, 0) AS BIGINT) AS tokens_removed,
           -- NULL text passes through as NULL (the engine's hostile-
           -- input policy); '' is reserved for fully-removed docs
           CASE WHEN sd_w.w IS NULL THEN NULL
                ELSE coalesce(k.dedup_text, '') END AS dedup_text
    FROM sd_w
    LEFT JOIN sd_per_doc p USING (doc_id)
    LEFT JOIN sd_kept k USING (doc_id)
    ORDER BY sd_w.doc_id
""")
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (operators/spandedup.py, Lee et al.
    2021 ExactSubstr at token granularity): duplicated 8-token spans
    are removed from every doc except the lowest-doc_id owner,
    overlapping/touching marks merged into maximal spans, and the
    text rewritten from the surviving tokens. The corpus's planted
    near-dup clusters make this genuinely non-vacuous: ~24 docs lose
    spans at sf0.01 AND sf0.001. The oracle replays key extraction,
    keep-first ownership, the gaps-and-islands merge, and the token
    rewrite in SQL windows — text equality pins the rewrite exactly."""
    from ..operators.spandedup import dedup_spans

    docs = _t(spark, sf_dir, "documents")
    return dedup_spans(docs, k=8).orderBy("doc_id")


_BPE_N_MERGES = 10


_BPE_MAX_WORDS = 500


# BPE training replay: n unrolled rounds. Round j derives symbol
# lists from the BRACKETED encoding (chr(30) START marker + chr(31)
# END marker around every symbol — the start marker pins replace()
# matches to symbol boundaries; see operators/bpe.py module
# docstring) of round j-1, counts OVERLAPPING adjacent pairs weighted
# by word frequency, picks the (count DESC, lhs, rhs) argmax, and
# applies it with replace() — whose resume-after-replacement scan is
# exactly the engine's left-to-right non-overlapping merge pass.
# If pair counts run dry before round n (degenerate corpus), b{j} is
# empty and the CASE guard carries w{j-1} forward unchanged instead
# of NULLing every encoding through a NULL replace pattern.
def _bpe_train_ctes(n: int, src: str = "documents") -> str:
    parts = [
        f"""
    tw AS MATERIALIZED (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'),
                                      x -> x <> '')) AS word
            FROM {src})
      GROUP BY 1 ORDER BY cnt DESC, word LIMIT 500
    ),
    w0 AS MATERIALIZED (
      SELECT word, cnt,
             regexp_replace(word, '(.)', chr(30) || '\\1' || chr(31), 'g')
               AS enc
      FROM tw
    )"""
    ]
    for j in range(1, n + 1):
        parts.append(f"""
    p{j} AS MATERIALIZED (
      SELECT s.ls[u.i] AS lhs, s.ls[u.i + 1] AS rhs, sum(s.cnt) AS c
      FROM (SELECT cnt,
                   list_filter(string_split(replace(enc, chr(30), ''),
                                            chr(31)), x -> x <> '')
                     AS ls
            FROM w{j - 1}) s,
           unnest(generate_series(1, greatest(len(s.ls) - 1, 0))) AS u(i)
      GROUP BY 1, 2
    ),
    b{j} AS MATERIALIZED (SELECT lhs, rhs, c FROM p{j} ORDER BY c DESC, lhs, rhs LIMIT 1),
    w{j} AS MATERIALIZED (
      SELECT word, cnt,
             CASE WHEN (SELECT count(*) FROM b{j}) = 0 THEN enc
                  ELSE replace(enc,
                       chr(30) || (SELECT lhs FROM b{j}) || chr(31) ||
                       chr(30) || (SELECT rhs FROM b{j}) || chr(31),
                       chr(30) || (SELECT lhs FROM b{j}) ||
                       (SELECT rhs FROM b{j}) || chr(31))
             END AS enc
      FROM w{j - 1}
    )""")
    return ",".join(parts)


def _bpe_train_oracle_sql(n: int) -> str:
    union = "\n      UNION ALL ".join(
        f"SELECT {j} AS merge_rank, lhs, rhs, CAST(c AS BIGINT) "
        f"AS pair_count FROM b{j}"
        for j in range(1, n + 1)
    )
    return (
        "WITH " + _bpe_train_ctes(n)
        + f"\n    SELECT * FROM ({union}) ORDER BY merge_rank"
    )


@register(oracle=_bpe_train_oracle_sql(_BPE_N_MERGES))
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training (operators/bpe.py): the distributed
    step is the word-frequency groupBy; the merge loop runs over the
    collected top-N word list with a (count DESC, pair ASC) total
    order. The oracle replays all 10 rounds as unrolled CTEs — pair
    counting, argmax selection, and the terminator-encoded replace —
    so every intermediate vocabulary state is cross-checked, not
    just the final table (the NOTES #51 PageRank unrolling pattern
    applied to tokenizer training)."""
    from ..operators.bpe import train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(
        docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )
    rows = [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_rank long, lhs string, rhs string, pair_count long"
    ).orderBy("merge_rank")


def _bpe_doc_tokens_ctes(n: int, src: str = "documents") -> str:
    """Training + re-encode CTE chain ending in fin(doc_id,
    token_str, n_tokens); callers prepend WITH RECURSIVE and append
    their own final SELECT (per-doc for q_bpe_encode, per-source
    aggregate for q_token_budget, post-filter corpus for
    q_corpus_build via `src`). `src` must expose (doc_id, text)."""
    return _bpe_train_ctes(n, src) + f""",
    merges AS (
      {" UNION ALL ".join(
          f"SELECT {j} AS merge_rank, lhs, rhs FROM b{j}"
          for j in range(1, n + 1)
      )}
    ),
    dw AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')
               AS ws
      FROM {src}
    ),
    uw AS (SELECT DISTINCT unnest(ws) AS word FROM dw),
    rec AS (
      SELECT word,
             regexp_replace(word, '(.)', chr(30) || '\\1' || chr(31), 'g')
               AS enc,
             0 AS r
      FROM uw
      UNION ALL
      SELECT rec.word,
             replace(rec.enc,
                     chr(30) || m.lhs || chr(31) ||
                     chr(30) || m.rhs || chr(31),
                     chr(30) || m.lhs || m.rhs || chr(31)),
             rec.r + 1
      FROM rec JOIN merges m ON m.merge_rank = rec.r + 1
    ),
    -- max(r), not the literal round count: with a degenerate corpus
    -- the merges relation is short and recursion stops early
    encf AS (SELECT word, enc FROM rec
             WHERE r = (SELECT max(r) FROM rec)),
    dpos AS (
      SELECT doc_id, u.i AS i, d.ws[u.i] AS word
      FROM dw d,
           unnest(generate_series(1, greatest(len(d.ws), 0))) AS u(i)
    ),
    dtok AS (
      SELECT dpos.doc_id, dpos.i, e.enc
      FROM dpos JOIN encf e USING (word)
    ),
    dagg AS (
      SELECT doc_id, string_agg(enc, '' ORDER BY i) AS encdoc
      FROM dtok GROUP BY 1
    ),
    fin AS (
      SELECT doc_id,
             rtrim(replace(replace(encdoc, chr(30), ''), chr(31), ' '))
               AS token_str,
             len(encdoc) - len(replace(encdoc, chr(31), '')) AS n_tokens
      FROM dagg
    )"""


def _bpe_encode_oracle_sql(n: int) -> str:
    return (
        "WITH RECURSIVE " + _bpe_doc_tokens_ctes(n) + """
    SELECT d.doc_id,
           CAST(coalesce(f.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(list_filter(string_split(f.token_str, ' '),
                                         t -> len(t) = 1)), 0) AS BIGINT)
             AS n_singles,
           substring(md5(coalesce(f.token_str, '')), 1, 16) AS token_hash
    FROM dw d LEFT JOIN fin f USING (doc_id)
    ORDER BY d.doc_id
"""
    )


@register(oracle=_bpe_encode_oracle_sql(_BPE_N_MERGES))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the trained BPE table: per-doc token
    count, single-char residue count, and a 64-bit hash of the exact
    token stream. Engine side is the unique-word-memoized mapInPandas
    kernel; the oracle re-trains via the unrolled CTEs and re-encodes
    every distinct word with a recursive CTE applying the merges in
    rank order — the token_hash equality pins the full tokenization
    of every document."""
    from ..operators.bpe import bpe_encode, train_bpe

    docs = _td(spark, sf_dir)
    merges = train_bpe(
        docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )
    return bpe_encode(docs, merges).orderBy("doc_id")


# Token-weighted mixture budgeting: identical float expression order
# as operators/sampling.token_budget_plan (budget * (w / wsum) / t,
# round 6 dp), then integer ppm threshold and integer expected-token
# mass — the temperature_mix portability recipe over BPE token counts.
def _token_budget_oracle_sql(n: int, alpha: float, budget: int) -> str:
    return (
        "WITH RECURSIVE " + _bpe_doc_tokens_ctes(n) + f""",
    srctok AS (
      SELECT d.source, count(*) AS n_docs,
             sum(coalesce(f.n_tokens, 0)) AS n_tokens
      FROM documents d LEFT JOIN fin f USING (doc_id)
      GROUP BY 1
    ),
    tot AS (SELECT sum(pow(n_tokens, {alpha})) AS wsum FROM srctok),
    rates AS (
      SELECT source, n_docs, n_tokens,
             CASE WHEN n_tokens <= 0 OR wsum <= 0 THEN 0
                  ELSE CAST(floor(round(least(1.0,
                         ({budget} * (pow(n_tokens, {alpha}) / wsum))
                           / n_tokens), 6) * 1000000) AS BIGINT)
             END AS rate_ppm
      FROM srctok CROSS JOIN tot
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens, rate_ppm,
           CAST(n_tokens * rate_ppm // 1000000 AS BIGINT)
             AS expected_tokens
    FROM rates ORDER BY source
"""
    )


@register(oracle=_token_budget_oracle_sql(
    _BPE_N_MERGES, 0.5, 60_000
))
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted corpus mixture plan: BPE token counts
    (q_bpe_encode's tokenizer) aggregated per source, temperature
    weights over TOKEN mass (alpha=0.5), rates scaled to a 60k-token
    budget — the Chinchilla-style form of mixing where the budget is
    tokens, not documents. The whole plan is per-source scalars; the
    oracle re-derives token counts from the unrolled-CTE tokenizer
    replay and applies the identical float-expression order + integer
    ppm/expected-token arithmetic (operators/sampling.
    token_budget_plan)."""
    from ..operators.bpe import bpe_encode, train_bpe
    from ..operators.sampling import token_budget_plan

    docs = _td(spark, sf_dir)
    merges = train_bpe(
        docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )
    per_doc = bpe_encode(docs, merges).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    rows = token_budget_plan(
        per_doc, "source", "n_tokens", alpha=0.5, token_budget=60_000
    )
    return spark.createDataFrame(
        rows,
        "source string, n_docs long, n_tokens long, rate_ppm long, "
        "expected_tokens long",
    ).orderBy("source")


# Incremental span dedup: the %5==0 slice scrubbed against the
# frozen %5!=0 base's distinct-gram index. Mark condition differs
# from the corpus-wide builder (ANY base hit, no ownership among
# delta docs), so this one is standalone (si_-prefixed).
@register(oracle="""
    WITH si_bw AS (
      SELECT list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')
               AS w
      FROM documents WHERE doc_id % 5 <> 0
    ),
    si_bk AS (
      SELECT DISTINCT
             substring(md5(array_to_string(w[i:i+7], ' ')), 1, 16) AS key
      FROM si_bw,
           unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)
    ),
    si_dw AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')
               AS w
      FROM documents WHERE doc_id % 5 = 0
    ),
    si_dg AS (
      SELECT doc_id, i AS pos,
             substring(md5(array_to_string(w[i:i+7], ' ')), 1, 16) AS key
      FROM si_dw,
           unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)
    ),
    si_marked AS (
      SELECT si_dg.doc_id, si_dg.pos AS s, si_dg.pos + 7 AS e
      FROM si_dg JOIN si_bk USING (key)
    ),
    si_brk AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM si_marked
    ),
    si_isl AS (
      SELECT doc_id, s, e,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS UNBOUNDED PRECEDING) AS iid
      FROM si_brk
    ),
    si_spans AS (
      SELECT doc_id, iid, min(s) AS s, max(e) AS e
      FROM si_isl GROUP BY 1, 2
    ),
    si_per_doc AS (
      SELECT doc_id, count(*) AS n_spans,
             sum(e - s + 1) AS tokens_removed
      FROM si_spans GROUP BY 1
    ),
    si_removed AS (
      SELECT DISTINCT doc_id, u.p
      FROM si_spans, unnest(generate_series(s, e)) AS u(p)
    ),
    si_tok AS (
      SELECT si_dw.doc_id, u.p, si_dw.w[u.p] AS tok
      FROM si_dw,
           unnest(generate_series(1, greatest(len(si_dw.w), 0))) AS u(p)
    ),
    si_kept AS (
      SELECT t.doc_id,
             string_agg(t.tok, ' ' ORDER BY t.p) AS dedup_text
      FROM si_tok t
      LEFT JOIN si_removed r ON t.doc_id = r.doc_id AND t.p = r.p
      WHERE r.p IS NULL
      GROUP BY 1
    )
    SELECT si_dw.doc_id,
           CAST(len(si_dw.w) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.tokens_removed, 0) AS BIGINT) AS tokens_removed,
           CASE WHEN si_dw.w IS NULL THEN NULL
                ELSE coalesce(k.dedup_text, '') END AS dedup_text
    FROM si_dw
    LEFT JOIN si_per_doc p USING (doc_id)
    LEFT JOIN si_kept k USING (doc_id)
    ORDER BY si_dw.doc_id
""")
def q_span_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental span dedup (operators/spandedup.
    dedup_spans_incremental): the doc_id % 5 == 0 slice plays a new
    ingest batch scrubbed against the frozen % 5 != 0 base — the
    O(delta) shape a growing corpus runs instead of corpus-wide
    re-dedup. The base reduces to a distinct-gram-key index; ~13
    delta docs genuinely lose spans at sf0.01 (9 at sf0.001). The
    oracle re-derives the index, the base-hit marks, the island
    merge, and the rewrite."""
    from ..operators.spandedup import dedup_spans_incremental

    docs = _t(spark, sf_dir, "documents")
    return dedup_spans_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        k=8,
    ).orderBy("doc_id")


# Capstone: the whole corpus-construction chain replayed in ONE SQL
# statement — span scrub (sd_*), exact dedup on scrubbed text,
# 5-gram benchmark decontamination, BPE tokenization of the
# survivors (the shared builder with src=cb_s3), token-budget rates,
# and md5-bucket sampling membership, assembled into the per-doc
# first-failing-reason ladder.
def _corpus_build_oracle_sql(n: int, alpha: float, budget: int) -> str:
    return (
        "WITH RECURSIVE "
        + """
    cb_bench AS (SELECT doc_id, text, source FROM documents
                 WHERE doc_id % 37 = 0),
    cb_corpus AS MATERIALIZED (SELECT doc_id, text, source FROM documents
                  WHERE doc_id % 37 <> 0),
"""
        + _span_dedup_ctes("cb_corpus") + """,
    cb_scrubbed AS MATERIALIZED (
      SELECT w.doc_id, c.source, coalesce(k.dedup_text, '') AS text
      FROM sd_w w
      JOIN cb_corpus c USING (doc_id)
      LEFT JOIN sd_kept k ON k.doc_id = w.doc_id
    ),
    cb_nonempty AS (SELECT * FROM cb_scrubbed WHERE text <> ''),
    cb_keeper AS (
      SELECT md5(text) AS h, min(doc_id) AS keeper
      FROM cb_nonempty GROUP BY 1
    ),
    cb_s2 AS MATERIALIZED (
      SELECT ne.doc_id, ne.text, ne.source
      FROM cb_nonempty ne JOIN cb_keeper k
        ON md5(ne.text) = k.h AND ne.doc_id = k.keeper
    ),
    cb_bg AS (
      SELECT DISTINCT substring(md5(g), 1, 16) AS key
      FROM (
        SELECT array_to_string(w[i:i+4], ' ') AS g
        FROM (SELECT list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                 x -> x <> '') AS w FROM cb_bench) bw,
             unnest(generate_series(1, greatest(len(bw.w) - 4, 0))) AS u(i)
      )
    ),
    cb_cg AS (
      SELECT DISTINCT doc_id, substring(md5(g), 1, 16) AS key
      FROM (
        SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                 x -> x <> '') AS w FROM cb_s2) cw,
             unnest(generate_series(1, greatest(len(cw.w) - 4, 0))) AS u(i)
      )
    ),
    cb_hits AS (SELECT DISTINCT doc_id FROM cb_cg JOIN cb_bg USING (key)),
    cb_s3 AS MATERIALIZED (
      SELECT s.doc_id, s.text, s.source FROM cb_s2 s
      WHERE s.doc_id NOT IN (SELECT doc_id FROM cb_hits)
    ),"""
        + _bpe_doc_tokens_ctes(n, src="cb_s3")
        + f""",
    cb_tok AS (
      SELECT s.doc_id, s.source, coalesce(f.n_tokens, 0) AS n_tokens
      FROM cb_s3 s LEFT JOIN fin f USING (doc_id)
    ),
    cb_srctok AS (
      SELECT source, sum(n_tokens) AS t FROM cb_tok GROUP BY 1
    ),
    cb_tot AS (SELECT sum(pow(t, {alpha})) AS wsum FROM cb_srctok),
    cb_rates AS (
      SELECT source,
             CASE WHEN t <= 0 OR wsum <= 0 THEN 0
                  ELSE CAST(floor(round(least(1.0,
                         ({budget} * (pow(t, {alpha}) / wsum)) / t), 6)
                       * 1000000) AS BIGINT)
             END AS rate_ppm
      FROM cb_srctok CROSS JOIN cb_tot
    ),
    cb_sampled AS (
      SELECT k.doc_id
      FROM cb_tok k JOIN cb_rates r USING (source)
      WHERE CAST(concat('0x', substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 12))
                 AS BIGINT) % 1000000 < r.rate_ppm
    ),
    cb_reason AS (
      SELECT d.doc_id, d.source,
             CASE WHEN d.doc_id % 37 = 0 THEN 'benchmark'
                  WHEN sc.text = '' THEN 'empty_after_scrub'
                  WHEN s2.doc_id IS NULL THEN 'exact_dup'
                  WHEN h.doc_id IS NOT NULL THEN 'contaminated'
                  WHEN sm.doc_id IS NULL THEN 'not_sampled'
                  ELSE '' END AS drop_reason,
             t.n_tokens AS n_tokens
      FROM documents d
      LEFT JOIN cb_scrubbed sc ON sc.doc_id = d.doc_id
      LEFT JOIN cb_s2 s2 ON s2.doc_id = d.doc_id
      LEFT JOIN cb_hits h ON h.doc_id = d.doc_id
      LEFT JOIN cb_tok t ON t.doc_id = d.doc_id
      LEFT JOIN cb_sampled sm ON sm.doc_id = d.doc_id
    )
    SELECT doc_id, source, drop_reason,
           CAST(drop_reason = '' AS INT) AS kept,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM cb_reason ORDER BY doc_id
"""
    )


@register(oracle=_corpus_build_oracle_sql(
    _BPE_N_MERGES, 0.5, 40_000
))
def q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the full corpus-construction chain a
    training-data team actually runs, as ONE verified plan:

      1. span scrub   (operators/spandedup, k=8: boilerplate out)
      2. exact dedup  (keep-first on md5 of the SCRUBBED text — the
                       scrub makes more near-dups collapse to exact)
      3. decontaminate (5-gram overlap vs the doc_id % 37 benchmark
                        split, on scrubbed text)
      4. tokenize     (operators/bpe trained ON THE SURVIVORS)
      5. token budget (alpha=0.5, 40k-token target) + md5-bucket
                       sampling membership

    Output: every original doc with its first-failing drop reason
    ('benchmark', 'empty_after_scrub', 'exact_dup', 'contaminated',
    'not_sampled', '' = kept), kept flag, and BPE token count (NULL
    before stage 4). Every stage is individually oracle-verified
    elsewhere; this query pins that they COMPOSE — the oracle replays
    the whole chain in one SQL statement."""
    from ..operators.bpe import bpe_encode, train_bpe
    from ..operators.decontam import contamination_report
    from ..operators.sampling import hash_bucket, token_budget_plan
    from ..operators.spandedup import dedup_spans

    docs = _td(spark, sf_dir).select("doc_id", "text", "source")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    corpus = docs.filter(F.col("doc_id") % 37 != 0)

    # lazy localCheckpoints at stage boundaries: the reason ladder
    # re-joins each stage's output at the end, and Catalyst does NOT
    # dedupe common subplans (NOTES #41) — without these the span
    # chain re-executes once per downstream consumer
    scrubbed = (
        dedup_spans(corpus, k=8)
        .select("doc_id", F.col("dedup_text").alias("text"))
        .join(corpus.select("doc_id", "source"), "doc_id")
        .localCheckpoint(eager=False)
    )
    nonempty = scrubbed.filter(F.col("text") != "")
    # keep-first exact dedup as ONE window over the md5 partition
    # (guide §2.4): the former groupBy-then-self-join paid the agg
    # exchange PLUS a join shuffle of the text rows for the same
    # "doc_id == min(doc_id) within md5(text)" predicate
    w_md5 = Window.partitionBy(F.md5("text"))
    s2 = (
        nonempty.withColumn("_keeper", F.min("doc_id").over(w_md5))
        .filter(F.col("doc_id") == F.col("_keeper"))
        .select("doc_id", "text", "source")
        .localCheckpoint(eager=False)
    )
    hits = contamination_report(s2, bench, n=5).select(
        "doc_id"
    ).localCheckpoint(eager=False)
    s3 = s2.join(hits, "doc_id", "left_anti").localCheckpoint(eager=False)

    merges = train_bpe(s3, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS)
    toks = (
        bpe_encode(s3, merges)
        .select("doc_id", "n_tokens")
        .join(s3.select("doc_id", "source"), "doc_id")
        .localCheckpoint(eager=False)
    )
    plan = token_budget_plan(
        toks, "source", "n_tokens", alpha=0.5, token_budget=40_000
    )
    ppm = {s: int(rate_ppm) for s, _, _, rate_ppm, _ in plan}
    thr = F.lit(0)
    for s in sorted(ppm):
        thr = F.when(F.col("source") == s, F.lit(ppm[s])).otherwise(thr)
    sampled = toks.filter(hash_bucket(F.col("doc_id")) < thr).select("doc_id")

    reason = (
        F.when(F.col("doc_id") % 37 == 0, "benchmark")
        .when(F.col("_empty") == 1, "empty_after_scrub")
        .when(F.col("_s2").isNull(), "exact_dup")
        .when(F.col("_hit").isNotNull(), "contaminated")
        .when(F.col("_samp").isNull(), "not_sampled")
        .otherwise("")
    )
    # a 1-bit emptiness flag, not the scrubbed text itself, rides the
    # reason-ladder join (the payload never re-shuffles); coalesce
    # folds NULL text — which dedup_spans passes through as NULL —
    # into 'empty_after_scrub', matching the oracle's coalesce
    out = (
        docs.join(
            scrubbed.select(
                "doc_id",
                (F.coalesce(F.col("text"), F.lit("")) == "")
                .cast("int")
                .alias("_empty"),
            ),
            "doc_id",
            "left",
        )
        .join(s2.select("doc_id", F.lit(1).alias("_s2")), "doc_id", "left")
        .join(hits.select("doc_id", F.lit(1).alias("_hit")), "doc_id", "left")
        .join(
            toks.select("doc_id", F.col("n_tokens").alias("_ntok")),
            "doc_id",
            "left",
        )
        .join(sampled.select("doc_id", F.lit(1).alias("_samp")), "doc_id", "left")
    )
    return out.select(
        "doc_id",
        "source",
        reason.alias("drop_reason"),
        (reason == "").cast("int").alias("kept"),
        F.col("_ntok").cast("long").alias("n_tokens"),
    ).orderBy("doc_id")


# independent algorithm: per-pair union vocab -> single ASCII bytes
# (chr(1..126)), then DuckDB's BYTE-based levenshtein — on a
# one-byte-per-token encoding, byte edit distance IS token edit
# distance, so this cross-checks the engine's NumPy token DP exactly;
# the 126-distinct-token cap is applied identically on both sides
@register(oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(
               lower(substr(text, 1, 160)), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
      FROM documents),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.w AS wa, b.w AS wb
      FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 17 = 0),
    pc AS (
      SELECT *, list_sort(list_distinct(list_concat(wa, wb))) AS v
      FROM p
      WHERE len(list_distinct(list_concat(wa, wb))) <= 126
        AND len(wa) > 0),
    enc AS (
      SELECT id_a, id_b, len(wa) AS n_ref, len(wb) AS n_hyp,
             array_to_string(list_transform(
               wa, t -> chr(list_indexof(v, t))), '') AS ea,
             array_to_string(list_transform(
               wb, t -> chr(list_indexof(v, t))), '') AS eb
      FROM pc)
    SELECT id_a, id_b,
           CAST(n_ref AS INT) AS n_ref, CAST(n_hyp AS INT) AS n_hyp,
           CAST(levenshtein(ea, eb) AS INT) AS dist,
           levenshtein(ea, eb) / CAST(n_ref AS DOUBLE) AS wer
    FROM enc ORDER BY id_a
""")
def q_wer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level word error rate between candidate transcript pairs
    (operators/evalmetrics.wer_pairs) — the ASR-version-comparison /
    near-dup-adjudication metric. Tokens come from the established
    lower + explicit-WS-class split on a 160-char transcript prefix; candidates are
    adjacent-id pairs (a stand-in for any blocked/capped generator —
    the operator never forms pairs itself); pairs whose UNION vocab
    exceeds 126 distinct tokens are excluded on BOTH sides (disclosed
    cap). The engine runs a row-vectorized NumPy Wagner-Fischer DP
    over Arrow batches; the DuckDB twin maps each pair's union vocab
    to single ASCII BYTES (chr(1..126)) and uses byte-based
    levenshtein — two genuinely independent algorithms that must
    agree integer-exactly (DuckDB's levenshtein is byte-based, which
    is exactly why the per-pair single-byte dictionary makes it a
    valid token-DP oracle)."""
    from ..operators.evalmetrics import wer_pairs

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.substring("text", 1, 160)), WS_SPLIT),
            lambda x: x != F.lit(""),
        ).alias("w"),
    )
    a = toks.select(
        F.col("doc_id").alias("id_a"), F.col("w").alias("tokens_a")
    ).where(F.col("id_a") % 17 == 0)
    b = toks.select(
        F.col("doc_id").alias("id_b"), F.col("w").alias("tokens_b")
    )
    pairs = a.join(b, a.id_a + 1 == b.id_b).where(
        (
            F.size(F.array_distinct(F.concat("tokens_a", "tokens_b")))
            <= 126
        )
        & (F.size("tokens_a") > 0)
    )
    return wer_pairs(pairs).orderBy("id_a")


@register(oracle=f"""
    WITH RECURSIVE pairs AS (
      {_simhash_neardup_oracle_sql(ordered=False)}
    ),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(lab) AS comp FROM reach GROUP BY 1),
    b AS (
      SELECT doc_id, comp,
             CAST(concat('0x', substr(md5(CAST(comp AS VARCHAR)), 1, 12))
                  AS BIGINT) % 1000000 AS bucket
      FROM comp)
    SELECT doc_id, comp,
           CASE WHEN bucket < 800000 THEN 'train'
                WHEN bucket < 900000 THEN 'eval'
                ELSE 'test' END AS split
    FROM b ORDER BY doc_id
""")
def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval/test split
    (operators/dedup.cluster_split): whole near-dup CLUSTERS are
    hashed to a split, so no eval document has a near-duplicate in
    train — the contamination path row-wise splitting leaves open.
    Pairs come from the SimHash banding scale path (same as
    q_dedup_clusters); the assignment is the md5-bucket ladder over
    the component label with integer boundaries 8/1/1. The DuckDB
    twin recomputes the components with a recursive CTE (different
    fixpoint algorithm) and the identical bucket arithmetic, so the
    split assignment itself is cross-checked end to end."""
    from ..operators.dedup import cluster_split, simhash64, simhash_banded_pairs

    docs = _td(spark, sf_dir)
    sig = simhash64(docs, id_col="doc_id", text_col="text")
    pairs = simhash_banded_pairs(sig, max_dist=3)
    return (
        cluster_split(
            docs.select("doc_id"),
            pairs,
            weights={"train": 8, "eval": 1, "test": 1},
        )
        .select("doc_id", "comp", "split")
        .orderBy("doc_id")
    )


# Kneser-Ney twin: DuckDB re-derives tokenization (same '[ \t\n\x0b\f\r]+' split
# discipline as q_quality_features/q_wer_pairs), trigram/context/
# continuation counts, and the interpolated-KN formula independently.
# The arithmetic mirrors operators/lm.kn_word_trigrams term by term
# (same parenthesization -> same IEEE rounding), and p_kn is rounded
# to 6 dp BEFORE the (p_kn DESC, w1, w2, w3) rank; the full trigram
# key makes the ORDER BY a total order, so LIMIT 50 is cut-stable.
@register(oracle=r"""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(coalesce(text, ''),
                                               '[ \t\n\x0b\f\r]+'),
                         t -> t <> '') AS toks
      FROM documents),
    tri AS (
      SELECT toks[i + 1] AS w1, toks[i + 2] AS w2, toks[i + 3] AS w3
      FROM (SELECT toks, unnest(range(0, len(toks) - 2)) AS i
            FROM toks WHERE len(toks) >= 3)),
    c3 AS (
      SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY w1, w2, w3),
    ctx AS (
      SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c2, COUNT(*) AS n1p_ctx
      FROM c3 GROUP BY w1, w2),
    cont AS (SELECT w3, COUNT(*) AS n1p_w3 FROM c3 GROUP BY w3),
    types AS (SELECT COUNT(*) AS n_types FROM c3)
    SELECT c3.w1, c3.w2, c3.w3, c3.c3,
           round(greatest(c3.c3 - 0.75, 0.0) / ctx.c2
                 + (0.75 * ctx.n1p_ctx / ctx.c2)
                   * (cont.n1p_w3 / types.n_types), 6) AS p_kn
    FROM c3
    JOIN ctx USING (w1, w2)
    JOIN cont USING (w3)
    CROSS JOIN types
    ORDER BY p_kn DESC, w1, w2, w3
    LIMIT 50
""")
def q_lm_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Kneser-Ney LM training (operators/lm.kn_word_trigrams):
    word-trigram counts over the documents corpus -> interpolated-KN
    probabilities with true continuation counts (n1+ of contexts a
    word completes / distinct trigram types), top 50 by (p_kn DESC,
    trigram ASC), p_kn 6-dp-rounded BEFORE the rank. This is the
    SQL-checkable twin of the production byte-bucket LM path
    (operators/lm.train_trigram_counts — pytest pins that one
    bit-exactly against functions/textkernels.ppl_model): the DuckDB
    oracle re-derives tokenization, counts, continuation statistics,
    and the KN formula independently, so the smoothing math itself is
    cross-engine-verified. Plan: one corpus-sized explode straight
    into a partial-aggregated groupBy; everything downstream is
    vocabulary-sized."""
    from ..operators.lm import kn_word_trigrams

    docs = _td(spark, sf_dir)
    return kn_word_trigrams(docs, discount=0.75, top_n=50)


# NFC twin: DuckDB rebuilds the same decomposed strings from chr()
# codepoints and runs its OWN normalizer (utf8proc) against the
# engine's CPython unicodedata — two independent UAX #15
# implementations hashed against each other. All codepoints are BMP,
# so Spark's UTF-16 length == DuckDB's codepoint length.
@register(oracle="""
    WITH t AS (
      SELECT doc_id,
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'cafe' || chr(769) || ' visit ' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'A' || chr(778) || 'ngstro' || chr(776) || 'm '
                     || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN 'ni' || chr(241) || 'o ' || CAST(doc_id AS VARCHAR)
          ELSE 'plain ascii ' || CAST(doc_id AS VARCHAR)
        END AS raw
      FROM documents)
    SELECT doc_id,
           nfc_normalize(raw) AS nfc,
           raw <> nfc_normalize(raw) AS changed,
           CAST(length(raw) AS INT) AS n_cp_raw,
           CAST(length(nfc_normalize(raw)) AS INT) AS n_cp_nfc
    FROM t
    ORDER BY doc_id
""")
def q_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (functions/text.nfc_udf) — canonical
    composition so dedup keys / token counts / scrub regexes see one
    byte form. The input is synthesized IN-QUERY from doc_id with
    combining characters (e+U+0301, A+U+030A, o+U+0308) so the oracle
    can rebuild it exactly: DuckDB then runs its OWN normalizer
    (utf8proc nfc_normalize) against CPython's unicodedata — two
    independent implementations of UAX #15 hashed against each other,
    plus codepoint-count deltas (all BMP, so Spark's UTF-16 length ==
    DuckDB's codepoint length)."""
    from ..functions.text import nfc_udf

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 4
    sid = F.col("doc_id").cast("string")
    raw = (
        # DECOMPOSED escapes (base + combining mark) so NFC genuinely
        # composes; case 2 is already-NFC U+00F1, case 3 pure ASCII —
        # both must round-trip unchanged. Escapes, not raw bytes:
        # an editor/tool normalizing this FILE must not alter the test
        F.when(m == 0, F.concat(F.lit("cafe\u0301 visit "), sid))
        .when(m == 1, F.concat(F.lit("A\u030Angstro\u0308m "), sid))
        .when(m == 2, F.concat(F.lit("ni\u00f1o "), sid))
        .otherwise(F.concat(F.lit("plain ascii "), sid))
    )
    return (
        docs.withColumn("raw", raw)
        .withColumn("nfc", nfc_udf(F.col("raw")))
        .select(
            "doc_id",
            "nfc",
            (F.col("raw") != F.col("nfc")).alias("changed"),
            F.length("raw").alias("n_cp_raw"),
            F.length("nfc").alias("n_cp_nfc"),
        )
        .orderBy("doc_id")
    )


# Sanitization: the oracle replays the engine's EXACT three-step chain
# (strip format controls, fold Unicode spaces, fold fullwidth ASCII) in
# DuckDB — RE2 + translate vs Java regex + Spark translate, one spec in
# two engines. The class/translate strings are interpolated from the
# same functions/text.py constants the Spark expressions read, so the
# two sides cannot drift independently; the raw text is rebuilt
# in-query from doc_id via chr() (BMP only — length() semantics agree).
@register(oracle=f"""
    WITH t AS (
      SELECT doc_id,
        CASE CAST(doc_id % 6 AS INT)
          WHEN 0 THEN 'zero' || chr(8203) || 'width' || chr(8205)
                      || ' join ' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'bidi ' || chr(8238) || 'kcatta' || chr(8236)
                      || ' ' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN 'nbsp' || chr(160) || 'and' || chr(8201)
                      || 'thin ' || CAST(doc_id AS VARCHAR)
          WHEN 3 THEN chr(65318) || chr(65335) || chr(65281)
                      || ' text ' || CAST(doc_id AS VARCHAR)
          WHEN 4 THEN 'plain ascii ' || CAST(doc_id AS VARCHAR)
          ELSE chr(65279) || 'hy' || chr(173) || 'phen' || chr(12288)
               || CAST(doc_id AS VARCHAR)
        END AS raw
      FROM documents),
    s AS (
      SELECT doc_id, raw,
             regexp_replace(raw, '{SANITIZE_STRIP_CLASS}', '', 'g') AS stripped
      FROM t),
    c AS (
      SELECT doc_id, raw, stripped,
             translate(
               regexp_replace(stripped, '{SANITIZE_SPACE_CLASS}', ' ', 'g'),
               '{SANITIZE_FW_FROM}', '{SANITIZE_FW_TO.replace(chr(39), chr(39) * 2)}') AS clean
      FROM s)
    SELECT doc_id, clean,
           raw <> clean AS changed,
           CAST(length(raw) AS INT) AS n_cp_raw,
           CAST(length(clean) AS INT) AS n_cp_clean,
           CAST(length(raw) - length(stripped) AS INT) AS n_stripped
    FROM c
    ORDER BY doc_id
""")
def q_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invisible-character / confusable-width sanitization
    (functions/text.sanitize_col) — zero-width characters make
    visually-identical transcripts miss exact-dedup keys, bidi
    override controls are the Trojan-Source reordering vector, and
    fullwidth ASCII slips past keyword rules and scrub regexes. The
    whole chain is JVM regexp_replace + translate (whole-stage
    codegen, no UDF); the oracle replays the IDENTICAL three-step
    chain in DuckDB (RE2 + translate) over the same
    in-query-synthesized hostile text — two regex engines executing
    one spec, hashed against each other. Inputs are built from \\u
    escapes / chr() so a file-level normalizer can't neuter the test
    (the q_nfc_normalize discipline); every char is BMP so Spark's
    UTF-16 length() equals DuckDB's codepoint length()."""
    from ..functions.text import sanitize_col, sanitize_stripped_col

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 6
    sid = F.col("doc_id").cast("string")
    raw = (
        # ZWSP inside a word + ZWJ (dedup-key attack)
        F.when(m == 0, F.concat(F.lit("zero\u200bwidth\u200d join "), sid))
        # RLO ... PDF (Trojan-Source bidi override)
        .when(m == 1, F.concat(F.lit("bidi \u202ekcatta\u202c "), sid))
        # NBSP + thin space (tokenizer splitters miss both)
        .when(m == 2, F.concat(F.lit("nbsp\u00a0and\u2009thin "), sid))
        # fullwidth F W ! (keyword-rule evasion)
        .when(m == 3, F.concat(F.lit("\uff26\uff37\uff01 text "), sid))
        # clean ASCII — must round-trip unchanged (changed = false)
        .when(m == 4, F.concat(F.lit("plain ascii "), sid))
        # BOM prefix + soft hyphen + ideographic space
        .otherwise(F.concat(F.lit("\ufeffhy\u00adphen\u3000"), sid))
    )
    return (
        docs.withColumn("raw", raw)
        .withColumn("clean", sanitize_col(F.col("raw")))
        .withColumn("n_strip_len", F.length(sanitize_stripped_col(F.col("raw"))))
        .select(
            "doc_id",
            "clean",
            (F.col("raw") != F.col("clean")).alias("changed"),
            F.length("raw").alias("n_cp_raw"),
            F.length("clean").alias("n_cp_clean"),
            (F.length("raw") - F.col("n_strip_len")).alias("n_stripped"),
        )
        .orderBy("doc_id")
    )


# Luhn CC scrub: scrub_cc_sql (same module as the Spark expression)
# replays extract -> Luhn-validate (exact integer mod-10) -> fold
# substring-replace, twice, in DuckDB — the two sides cannot drift
# independently because one module emits both.
def _luhn_cc_oracle_sql() -> str:
    from ..functions.scrub import scrub_cc_sql

    return f"""
    WITH t AS (
      SELECT doc_id,
        CASE CAST(doc_id % 6 AS INT)
          WHEN 0 THEN 'card 4532 0151 1283 0366 on file ' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'card 4111-1111-1111-1111 ok ' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN 'num 1234567812345678 plain ' || CAST(doc_id AS VARCHAR)
          WHEN 3 THEN 'pair 4532015112830366 4222222222222 tail ' || CAST(doc_id AS VARCHAR)
          WHEN 4 THEN 'long 12345678901234567890 run ' || CAST(doc_id AS VARCHAR)
          ELSE 'clean text no numbers ' || CAST(doc_id AS VARCHAR)
        END AS raw
      FROM documents),
    c AS (SELECT doc_id, raw, {scrub_cc_sql("raw")} AS clean FROM t)
    SELECT doc_id, clean,
           CAST((length(clean) - length(replace(clean, '<CC>', ''))) / 4 AS INT) AS n_cc,
           raw <> clean AS changed
    FROM c
    ORDER BY doc_id
"""


@register(oracle=_luhn_cc_oracle_sql())
def q_luhn_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated credit-card scrub (functions/scrub.scrub_cc_col) —
    checksum-gated PII redaction: a bare 13-19-digit regex would
    redact invoice ids and tracking numbers wholesale, so candidates
    are regex-extracted, ISO/IEC 7812 mod-10 validated, and only
    validated matches are replaced. The oracle replays the IDENTICAL
    two-pass extract-validate-fold algorithm in DuckDB (scrub_cc_sql —
    RE2 extraction + list_filter Luhn in exact integer arithmetic +
    list_reduce replace), built by the same module that builds the
    Spark expression. Case 3 plants two cards separated by ONE space,
    so the hash also pins the fixed-point second pass; case 2 is a
    Luhn-INVALID 16-digit run that must survive; case 4 is a 20-digit
    run that is never a candidate in any engine."""
    from ..functions.scrub import CC_TAG, scrub_cc_col

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 6
    sid = F.col("doc_id").cast("string")
    raw = (
        F.when(m == 0, F.concat(F.lit("card 4532 0151 1283 0366 on file "), sid))
        .when(m == 1, F.concat(F.lit("card 4111-1111-1111-1111 ok "), sid))
        .when(m == 2, F.concat(F.lit("num 1234567812345678 plain "), sid))
        .when(m == 3, F.concat(F.lit("pair 4532015112830366 4222222222222 tail "), sid))
        .when(m == 4, F.concat(F.lit("long 12345678901234567890 run "), sid))
        .otherwise(F.concat(F.lit("clean text no numbers "), sid))
    )
    clean = scrub_cc_col(F.col("raw"))
    # synthesized raw never contains a literal tag, so the clean-side
    # count alone is the number of replacements
    n_cc = (
        (F.length("clean") - F.length(F.replace(F.col("clean"), F.lit(CC_TAG), F.lit(""))))
        / F.lit(len(CC_TAG))
    ).cast("int")
    return (
        docs.withColumn("raw", raw)
        .withColumn("clean", clean)
        .select(
            "doc_id",
            "clean",
            n_cc.alias("n_cc"),
            (F.col("raw") != F.col("clean")).alias("changed"),
        )
        .orderBy("doc_id")
    )


# URL canonicalization: url_parts_sql (same module as the Spark
# Columns) replays the identical parse/canonicalize/domain spec in
# DuckDB over the same in-query-synthesized hostile URLs.
def _url_canonical_oracle_sql() -> str:
    from ..functions.urls import url_parts_sql_ctes

    ctes, p = url_parts_sql_ctes("t")
    cols = ", ".join(
        f"{p[k]} AS {k}"
        for k in (
            "valid", "scheme", "host", "port", "path", "query",
            "domain", "had_userinfo", "canonical",
        )
    )
    return f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id,
        CASE CAST(doc_id % 8 AS INT)
          WHEN 0 THEN 'HTTP://WWW.Site' || CAST(doc_id AS VARCHAR)
                      || '.COM:80/A/B?b=2&utm_source=x&a=1#f'
          WHEN 1 THEN 'https://user:pw@news' || CAST(doc_id AS VARCHAR)
                      || '.co.uk/item?utm_campaign=z&id='
                      || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN 'https://example' || CAST(doc_id AS VARCHAR) || '.com'
          WHEN 3 THEN 'http://shop' || CAST(doc_id AS VARCHAR)
                      || '.example.com:8080/p?z=1&z=0&'
          WHEN 4 THEN 'ftp://files' || CAST(doc_id AS VARCHAR) || '.com/x'
          WHEN 5 THEN 'http://host' || CAST(doc_id AS VARCHAR) || ':80a/x'
          WHEN 6 THEN 'http://a.b' || CAST(doc_id AS VARCHAR)
                      || '.co.uk:443/x?gclid=a&keep='
                      || CAST(doc_id AS VARCHAR)
          ELSE 'plain text ' || CAST(doc_id AS VARCHAR)
        END AS raw
      FROM documents),
    {ctes}
    SELECT doc_id, {cols}
    FROM u_url
    ORDER BY doc_id
"""


@register(oracle=_url_canonical_oracle_sql())
def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.url_parts) — the first
    exact-dedup key of a web-scale corpus: case folds, default-port
    and fragment stripping, credential-userinfo removal (flagged),
    tracking-param removal + bytewise param sort, www folding,
    registrable-domain extraction (PSL-approximate: last-2, or last-3
    behind a known second-level suffix like co.uk). Pure JVM string
    ops (whole-stage codegen, no UDF); the oracle replays the
    IDENTICAL spec via url_parts_sql — one module emits both engines'
    expressions, and the synthesized inputs cover valid, garbage-port,
    bad-scheme and non-URL rows so the NULL-on-invalid contract is
    exercised, not just the happy path."""
    from ..functions.urls import url_parts

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 8
    sid = F.col("doc_id").cast("string")
    raw = (
        # case + www + default port + tracking + fragment, all at once
        F.when(m == 0, F.concat(
            F.lit("HTTP://WWW.Site"), sid,
            F.lit(".COM:80/A/B?b=2&utm_source=x&a=1#f")))
        # userinfo stripped + flagged; co.uk registrable domain
        .when(m == 1, F.concat(
            F.lit("https://user:pw@news"), sid,
            F.lit(".co.uk/item?utm_campaign=z&id="), sid))
        # no path -> '/'
        .when(m == 2, F.concat(F.lit("https://example"), sid, F.lit(".com")))
        # non-default port kept; duplicate param names sort bytewise;
        # trailing '&' drops its empty param
        .when(m == 3, F.concat(
            F.lit("http://shop"), sid, F.lit(".example.com:8080/p?z=1&z=0&")))
        # non-http scheme -> invalid
        .when(m == 4, F.concat(F.lit("ftp://files"), sid, F.lit(".com/x")))
        # garbage port -> invalid (must not silently vanish)
        .when(m == 5, F.concat(F.lit("http://host"), sid, F.lit(":80a/x")))
        # http on :443 is NOT default -> port kept; deep co.uk host
        .when(m == 6, F.concat(
            F.lit("http://a.b"), sid, F.lit(".co.uk:443/x?gclid=a&keep="),
            sid))
        # no scheme at all -> invalid
        .otherwise(F.concat(F.lit("plain text "), sid))
    )
    p = url_parts(F.col("raw"))
    return (
        docs.withColumn("raw", raw)
        .select(
            "doc_id",
            p["valid"].alias("valid"),
            p["scheme"].alias("scheme"),
            p["host"].alias("host"),
            p["port"].alias("port"),
            p["path"].alias("path"),
            p["query"].alias("query"),
            p["domain"].alias("domain"),
            p["had_userinfo"].alias("had_userinfo"),
            p["canonical"].alias("canonical"),
        )
        .orderBy("doc_id")
    )


def _domain_stats_oracle_sql() -> str:
    from ..functions.urls import url_parts_sql_ctes

    ctes, p = url_parts_sql_ctes("t")
    return f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id,
        CASE CAST(doc_id % 3 AS INT)
          WHEN 0 THEN 'http://www.site' || CAST(doc_id % 7 AS VARCHAR)
                      || '.com/p' || CAST(doc_id % 20 AS VARCHAR)
                      || '?utm_source=x'
          WHEN 1 THEN 'HTTP://site' || CAST(doc_id % 7 AS VARCHAR)
                      || '.COM:80/p' || CAST(doc_id % 20 AS VARCHAR)
          ELSE 'http://site' || CAST(doc_id % 7 AS VARCHAR)
               || '.com/p' || CAST(doc_id % 20 AS VARCHAR) || '#frag'
        END AS raw
      FROM documents),
    {ctes},
    u AS (SELECT {p['domain']} AS domain, {p['canonical']} AS canonical
          FROM u_url)
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonicals,
           domain IN ('site0.com', 'site3.com') AS blocked,
           CAST(CASE WHEN domain IN ('site0.com', 'site3.com') THEN 0
                ELSE count(*) END AS BIGINT) AS kept_urls
    FROM u
    GROUP BY domain
    ORDER BY domain
"""


@register(oracle=_domain_stats_oracle_sql())
def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation aggregate (functions/urls.url_domain) —
    the production group-by that feeds domain priors and blocklist
    filtering (C4/CCNet shape): canonicalize noisy URL variants (www,
    case, default port, fragment, tracking params), group by
    registrable domain, count raw URLs vs distinct canonical URLs
    (the dedup ratio), and apply a broadcast blocklist. Three noise
    forms of the same logical URL must collapse to ONE canonical —
    n_canonicals counts logical pages, n_urls counts crawl rows. The
    aggregation shuffles only (domain, canonical) — at 10^12 rows the
    payload never moves, and domain is a low-cardinality key whose
    skew is the classic hot-domain case (salt upstream if one domain
    dominates; see plans/pipeline salted_scatter)."""
    from ..functions.urls import url_parts

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    g = (F.col("doc_id") % 7).cast("string")
    k = (F.col("doc_id") % 20).cast("string")
    m = F.col("doc_id") % 3
    raw = (
        F.when(m == 0, F.concat(
            F.lit("http://www.site"), g, F.lit(".com/p"), k,
            F.lit("?utm_source=x")))
        .when(m == 1, F.concat(
            F.lit("HTTP://site"), g, F.lit(".COM:80/p"), k))
        .otherwise(F.concat(
            F.lit("http://site"), g, F.lit(".com/p"), k, F.lit("#frag")))
    )
    p = url_parts(F.col("raw"))
    urls = docs.withColumn("raw", raw).select(
        p["domain"].alias("domain"), p["canonical"].alias("canonical")
    )
    blocked = F.col("domain").isin("site0.com", "site3.com")
    return (
        urls.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("canonical").alias("n_canonicals"),
        )
        .select(
            "domain",
            "n_urls",
            "n_canonicals",
            blocked.alias("blocked"),
            F.when(blocked, F.lit(0).cast("long"))
            .otherwise(F.col("n_urls"))
            .alias("kept_urls"),
        )
        .orderBy("domain")
    )


# HTML extraction: strip_html_sql (same module as the Spark Columns)
# replays block-removal -> tag strip -> entity folds -> squeeze in
# DuckDB over the same synthesized pages.
def _html_extract_oracle_sql() -> str:
    from ..functions.htmltext import strip_html_sql

    clean = strip_html_sql("raw")
    return f"""
    WITH t AS (
      SELECT doc_id,
        CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN '<html><head><style>p{{x}}</style><title>Doc '
                      || CAST(doc_id AS VARCHAR) || '</title></head><body><p>'
                      || substr(text, 1, 120) || '</p></body></html>'
          WHEN 1 THEN '<div class=''nav''><ul><li>a</li><li>b</li></ul>'
                      || '</div><script>var x=1;</script><p>'
                      || substr(text, 1, 8) || '</p>'
          WHEN 2 THEN substr(text, 1, 120) || ' &amp; &#65; &#x42; &lt;b&gt; '
                      || CAST(doc_id AS VARCHAR)
          WHEN 3 THEN '<!-- c --><b>' || substr(text, 1, 120)
                      || '</b><script>junk ' || CAST(doc_id AS VARCHAR)
          ELSE substr(text, 1, 120)
        END AS raw
      FROM documents),
    c AS MATERIALIZED (SELECT doc_id, raw, {clean} AS text_clean FROM t)
    SELECT doc_id, text_clean,
           CAST(length(raw) AS INT) AS n_chars_raw,
           CAST(length(text_clean) AS INT) AS n_chars_text,
           length(text_clean) * 4 >= length(raw) AS keep
    FROM c
    ORDER BY doc_id
"""


@register(oracle=_html_extract_oracle_sql())
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML tag strip + entity decode (functions/htmltext) — the
    web-ingest step before any quality heuristic: script/style/comment
    removal, tag strip, decimal/hex/named entity decode (&amp; last,
    the non-double-decode rule), whitespace squeeze, plus the
    text-to-markup ratio CCNet-class boilerplate filters threshold on.
    The keep rule is integer-exact (4*n_text >= n_raw, i.e. ratio >=
    0.25) — no float tolerance anywhere. Pure JVM (regexp_replace +
    HOF entity folds); the oracle replays the IDENTICAL spec via
    strip_html_sql over the same synthesized pages (real document
    text wrapped in markup/entity/boilerplate variants, unterminated
    script included)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 5
    sid = F.col("doc_id").cast("string")
    snip = F.substring(F.col("text"), 1, 120)
    raw = (
        F.when(m == 0, F.concat(
            F.lit("<html><head><style>p{x}</style><title>Doc "), sid,
            F.lit("</title></head><body><p>"), snip,
            F.lit("</p></body></html>")))
        # boilerplate-heavy page: low text ratio, dropped by the rule
        .when(m == 1, F.concat(
            F.lit("<div class='nav'><ul><li>a</li><li>b</li></ul>"
                  "</div><script>var x=1;</script><p>"),
            F.substring(F.col("text"), 1, 8), F.lit("</p>")))
        .when(m == 2, F.concat(
            snip, F.lit(" &amp; &#65; &#x42; &lt;b&gt; "), sid))
        # unterminated script: body survives (documented regex bound)
        .when(m == 3, F.concat(
            F.lit("<!-- c --><b>"), snip, F.lit("</b><script>junk "), sid))
        .otherwise(snip)
    )
    from ..functions.htmltext import strip_html_col

    # materialize text_clean ONCE (lazy localCheckpoint — the tfidf
    # re-explode discipline): three consumers reference it (output,
    # length, keep) and projection collapse would re-run the
    # interpreted regex+fold chain per consumer
    base = (
        docs.withColumn("raw", raw)
        .withColumn("text_clean", strip_html_col(F.col("raw")))
        .localCheckpoint(eager=False)
    )
    return (
        base.select(
            "doc_id",
            "text_clean",
            F.length("raw").alias("n_chars_raw"),
            F.length("text_clean").alias("n_chars_text"),
            (F.length("text_clean") * 4 >= F.length("raw")).alias("keep"),
        )
        .orderBy("doc_id")
    )


_SCRIPT_SAMPLES = {
    0: "pure latin text with plenty of letter mass here ",
    1: "\u0447\u0438\u0441\u0442\u043e \u0440\u0443\u0441\u0441\u043a\u0438\u0439 \u0442\u0435\u043a\u0441\u0442 \u0431\u0435\u0437 \u043f\u0440\u0438\u043c\u0435\u0441\u0435\u0439 ",
    2: "\u65e5\u672c\u8a9e\u306e\u30c6\u30ad\u30b9\u30c8\u3068\u6f22\u5b57\u304b\u306a\u6df7\u5408\u884c ",
    3: "\u0646\u0635 \u0639\u0631\u0628\u064a \u062e\u0627\u0644\u0635 \u0644\u0644\u0627\u062e\u062a\u0628\u0627\u0631 \u0647\u0646\u0627 ",
    # mixed-script spoof: latin AND cyrillic both >= 20% of letters
    4: "sp00f \u0447\u0435\u0440\u0435\u0434\u043e\u0432\u0430\u043d\u0438\u0435 latin and \u043a\u0438\u0440 mixed words here ",
    5: "1234567890 -- 98765 !!! ",
}


# Script mix: script_count_sql (same module as the Spark Columns,
# RE2-flavored classes generated from the same range list) over the
# same chr()-composed synthesis.
def _script_mix_oracle_sql() -> str:
    from ..functions.scripts import script_count_sql

    def sql_str(s: str) -> str:
        parts: list[str] = []
        buf = ""
        for ch in s:
            if ord(ch) < 128:
                buf += ch
            else:
                if buf:
                    parts.append("'" + buf.replace("'", "''") + "'")
                    buf = ""
                parts.append(f"chr({ord(ch)})")
        if buf:
            parts.append("'" + buf.replace("'", "''") + "'")
        return " || ".join(parts) if parts else "''"

    keys = sorted(_SCRIPT_SAMPLES)
    cases = "".join(
        f"          WHEN {k} THEN {sql_str(_SCRIPT_SAMPLES[k])}\n"
        for k in keys[:-1]
    )
    p = script_count_sql("raw")
    # stage the 6 count columns ONCE, then derive n_letters/is_mixed
    # from the ALIASES — the standalone expressions re-embed every
    # regexp_replace per consumer (~33 evaluations/row instead of 6)
    count_keys = [
        k for k in p
        if k.startswith("n_") and k not in ("n_letters", "n_chars")
    ]
    count_cols = ", ".join(f"{p[k]} AS {k}" for k in count_keys)
    letters = "(n_latin + n_cyrillic + n_cjk + n_arabic)"
    major = "(" + " + ".join(
        f"CASE WHEN n_{s} * 5 >= {letters} THEN 1 ELSE 0 END"
        for s in ("latin", "cyrillic", "cjk", "arabic")
    ) + ")"
    return f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id,
        (CASE CAST(doc_id % {len(_SCRIPT_SAMPLES)} AS INT)
{cases}          ELSE {sql_str(_SCRIPT_SAMPLES[keys[-1]])}
        END) || CAST(doc_id AS VARCHAR) AS raw
      FROM documents),
    c AS MATERIALIZED (
      SELECT doc_id, raw, CAST(length(raw) AS INT) AS n_chars,
             {count_cols}
      FROM t)
    SELECT doc_id, n_chars, {", ".join(count_keys)},
           CAST({letters} AS INT) AS n_letters,
           CASE WHEN raw IS NOT NULL
                THEN ({letters} >= 20 AND {major} >= 2) END AS is_mixed
    FROM c
    ORDER BY doc_id
"""


@register(oracle=_script_mix_oracle_sql())
def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script-mix profile (functions/scripts) — the UTS #39
    mixed-script quality signal: per-doc codepoint counts for
    latin/cyrillic/cjk/arabic/digit via the exact length-diff trick
    (no extraction, pure JVM regexp_replace) and an integer-exact
    mixed-script flag (>= 2 scripts each holding >= 20% of letter
    mass). The oracle replays the IDENTICAL counts with RE2-flavored
    classes generated from the same range list; the synthesized texts
    are \\u-escape-built (the q_sanitize discipline) so a file-level
    normalizer can't neuter the test."""
    from ..functions.scripts import script_count_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # modulus and branch list both derive from the dict so adding a
    # sample cannot desync the query from its oracle
    m = F.col("doc_id") % len(_SCRIPT_SAMPLES)
    sid = F.col("doc_id").cast("string")
    keys = sorted(_SCRIPT_SAMPLES)
    sel = F.when(m == keys[0], F.lit(_SCRIPT_SAMPLES[keys[0]]))
    for k in keys[1:-1]:
        sel = sel.when(m == k, F.lit(_SCRIPT_SAMPLES[k]))
    raw = F.concat(sel.otherwise(F.lit(_SCRIPT_SAMPLES[keys[-1]])), sid)
    cols = script_count_cols(F.col("raw"))
    return (
        docs.withColumn("raw", raw)
        .select("doc_id", *[v.alias(k) for k, v in cols.items()])
        .orderBy("doc_id")
    )
