"""Deduplication operators for training-data pipelines.

All variants are expressed with built-in JVM functions (no Python in
the hot path) and share one portable hash basis — `md5` + hex→int —
that evaluates identically in Spark and DuckDB, so every operator has
an exact SQL oracle.

  exact          md5 fingerprint of normalized text, groupBy
  minhash_lsh    salted-md5 minhash signatures -> band keys ->
                 bucket self-join -> candidate pairs (shingle→minhash→
                 band→bucket-join)
  ngram_jaccard  exact Jaccard on distinct shingle sets for candidate
                 pairs (array_intersect/array_union)
  simhash        64-bit sign-aggregated token-hash fingerprint;
                 near-dups = small Hamming distance
  embedding near-dup  cosine >= threshold pairs (brute force against
                 bounded candidate sets; LSH-bucketed scale path in
                 operators/similarity.py)

Scale notes: the bucket self-join shuffles only (band_key, doc_id)
pairs — never full texts; AQE skew-join handles hot buckets (e.g.
boilerplate-heavy shingles); at 10^12 rows add a bucket-size cap
filter (drop buckets with > B members as spam clusters) — exposed as
`max_bucket`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import WS_SPLIT

NORM = WS_SPLIT  # explicit ASCII WS class — identical in Java/RE2/Python


def normalized_text(col: str = "text") -> F.Column:
    return F.lower(F.regexp_replace(F.trim(F.col(col)), NORM, " "))


def fingerprint(col: str = "text") -> F.Column:
    return F.md5(normalized_text(col))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, fp, canonical_id, is_duplicate): canonical = min id per
    fingerprint group."""
    fp = fingerprint(text_col).alias("fp")
    w = Window.partitionBy("fp")
    return (
        df.select(F.col(id_col), fp)
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
    )


def _norm_sql_alias() -> str:
    # temp-column name used inside with_shingles's expr strings
    return "_norm_t"


def with_shingles(df: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    return df.withColumn(_norm_sql_alias(), normalized_text(text_col)).withColumn(
        "shingles",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(length({_norm_sql_alias()}) - {k - 1}, 0)),"
                f" i -> substr({_norm_sql_alias()}, i, {k}))"
            )
        ),
    ).drop(_norm_sql_alias())


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    k: int = 5,
) -> DataFrame:
    """(id, mh_0..mh_{n-1}): per-salt min of the salted shingle hashes."""
    d = with_shingles(df, text_col, k).filter(F.size("shingles") > 0)
    cols = [F.col(id_col)]
    for h in range(n_hashes):
        cols.append(
            F.array_min(
                F.expr(
                    f"transform(shingles, s -> conv(substr(md5('h{h}:' || s), 1, 12), 16, 10))"
                ).cast("array<long>")
            ).alias(f"mh_{h}")
        )
    return d.select(*cols)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band the signature, bucket-join, emit candidate pairs (a < b).
    Only (band_key, id) tuples shuffle."""
    rows_per_band = n_hashes // bands
    parts = []
    for b in range(bands):
        key = F.md5(
            F.concat_ws(
                ":",
                F.lit(str(b)),
                *[F.col(f"mh_{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)],
            )
        ).alias("band_key")
        parts.append(sigs.select(F.col(id_col).alias("id"), key))
    keyed = parts[0]
    for p in parts[1:]:
        keyed = keyed.unionByName(p)
    sized = keyed.withColumn("bsz", F.count("*").over(Window.partitionBy("band_key")))
    keyed = sized.filter(F.col("bsz") <= max_bucket).drop("bsz")
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(b, "band_key")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Exact Jaccard over distinct shingles for the given candidate
    pairs (verification step after LSH)."""
    sh = with_shingles(df, text_col, k).select(
        F.col(id_col).alias("id"), "shingles"
    )
    return (
        pairs.join(sh.withColumnRenamed("shingles", "sh_a"), pairs.id_a == sh.id)
        .drop("id")
        .join(
            sh.withColumnRenamed("shingles", "sh_b").alias("s2"),
            pairs.id_b == F.col("s2.id"),
        )
        .drop("id")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
    )


_SH_LANE = 21  # bits per packed popcount lane; caps docs at 2^21 tokens


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """48-bit SimHash over whitespace tokens using the portable hash
    basis (12 hex chars of md5 -> long). Semantics: each token's bit i
    contributes ±1; fingerprint bit i = sign of the sum — equivalently
    bit i is set iff 2 * popcount_i > n_tokens.

    Aggregation shape (the round-2 bench hot spot): instead of 48
    conditional-sum columns (48 longs of hash-agg state per group,
    48 branches per row), the per-bit popcounts are PACKED 3-per-long
    into 21-bit lanes — 16 packed sums + 1 count = 17 agg columns.
    Lane overflow is impossible below 2^21 (~2M) tokens per doc; at or
    above that a lane popcount could carry into its neighbor, so the
    precondition is ENFORCED, not assumed: docs with n_tok >= 2^21 get
    a NULL fingerprint (downstream banding drops nulls; a corpus
    where 2M-token docs matter should use the unpacked 48-column
    variant or chunk the docs). Decode back to bits is a flat
    projection (codegen'd, no agg state)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(normalized_text(text_col), " ")
        ).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 12), 16, 10).cast("long")
    toks = toks.select("id", h.alias("h"))
    n_lanes = 48 // 3
    packed = []
    for j in range(n_lanes):
        lane = None
        for lidx in range(3):
            i = 3 * j + lidx
            bit = F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1).cast("long"))
            term = F.shiftleft(bit, lidx * _SH_LANE)
            lane = term if lane is None else lane + term
        packed.append(F.sum(lane).alias(f"p{j}"))
    agg = toks.groupBy("id").agg(F.count("*").alias("n_tok"), *packed)
    mask = F.lit((1 << _SH_LANE) - 1).cast("long")
    sim = None
    for j in range(n_lanes):
        for lidx in range(3):
            i = 3 * j + lidx
            cnt = F.shiftright(F.col(f"p{j}"), lidx * _SH_LANE).bitwiseAND(mask)
            bit = F.when(cnt * 2 > F.col("n_tok"), F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            term = F.shiftleft(bit, i)
            sim = term if sim is None else sim + term
    # enforce the lane-capacity precondition: beyond 2^21 tokens the
    # packed popcounts could have carried — NULL, never a corrupt value
    sim = F.when(F.col("n_tok") < F.lit(1 << _SH_LANE), sim)
    return agg.select("id", sim.alias("simhash"))


def simhash_banded_pairs(
    sig: DataFrame,
    max_dist: int = 3,
    bits: int = 48,
    id_col: str = "id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — the SCALE path.

    Pigeonhole banding: split the `bits`-bit signature into
    (max_dist+1) bands; any pair within Hamming distance max_dist must
    agree EXACTLY on at least one band, so candidates are found with a
    per-band bucket equi-join (shuffle carries (band, band_key, id,
    signature) — 20 bytes/row, never text), then verified exactly with
    one bit_count(xor). Output: (id_a, id_b, hamming), id_a < id_b.

    Hot buckets (e.g. the all-zeros band of boilerplate-heavy corpora)
    are AQE skew-join territory up to a point; `max_bucket` caps a
    band bucket's size (as in lsh_candidate_pairs) so an adversarial
    or boilerplate corpus where one band key collects B members cannot
    degenerate to a quadratic O(B^2) join — oversized buckets are
    dropped (their members can still pair through their other bands;
    a pair found by NO band within the cap is treated as a spam
    cluster, the standard LSH-dedup trade)."""
    n_bands = max_dist + 1
    width = bits // n_bands
    # the signature subplan feeds every band branch of the union (and
    # both self-join sides); upstream cost — simhash agg, or the whole
    # synthesis+decode+fingerprint chain for audio_neardup_pairs — is
    # NOT deduped by Catalyst across union branches, so materialize
    # the small (id, simhash) table once (NOTES #41)
    sig = sig.localCheckpoint(eager=False)
    parts = []
    for bnd in range(n_bands):
        lo = bnd * width
        w = width if bnd < n_bands - 1 else bits - lo
        key = F.shiftright(F.col("simhash"), lo).bitwiseAND(
            F.lit((1 << w) - 1).cast("long")
        )
        parts.append(
            sig.select(
                F.col(id_col).alias("id"),
                F.col("simhash"),
                F.lit(bnd).alias("band"),
                key.alias("bkey"),
            )
        )
    keyed = parts[0]
    for p in parts[1:]:
        keyed = keyed.unionByName(p)
    if max_bucket is not None:
        bsz = F.count("*").over(Window.partitionBy("band", "bkey"))
        keyed = keyed.withColumn("_bsz", bsz).filter(
            F.col("_bsz") <= max_bucket
        ).drop("_bsz")
    a = keyed.alias("a")
    b = keyed.alias("b")
    # exact popcount verify BEFORE the distinct (guide §2.3 — filter
    # before the exchange): hamming is a pure function of the pair, so
    # filter-then-distinct equals the former distinct-then-filter, but
    # the distinct's shuffle now carries only TRUE pairs (<= one row
    # per band that found them), not every bucket-colliding candidate
    cand = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.expr("a.simhash ^ b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_dist)
        .distinct()
    )
    return cand


def _unionfind_labels(pairs: DataFrame) -> DataFrame:
    """Driver-side exact union-find over a BOUNDED pair list (the
    caller has already counted it under `small_graph_edges`): path
    halving + union by size, then each component relabeled to its
    minimum member id — the same canonical labeling the distributed
    loop produces. One pass over the edges, O(E α(V)); 1M edges run
    in ~1s of driver CPU vs ~2 Spark jobs per pointer-jumping round."""
    spark = pairs.sparkSession
    pdf = pairs.toPandas()
    parent: dict = {}
    size: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()):
        for v in (a, b):
            if v not in parent:
                parent[v] = v
                size[v] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]
    mins: dict = {}
    for v in parent:
        r = find(v)
        if r not in mins or v < mins[r]:
            mins[r] = v
    id_type = pairs.schema["id_a"].dataType
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("comp", id_type)]
    )
    return spark.createDataFrame(
        [(v, mins[find(v)]) for v in parent], schema
    )


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 25,
    small_graph_edges: int = 1_000_000,
) -> DataFrame:
    """Duplicate-cluster resolution: near-dup PAIRS -> connected
    COMPONENTS, the step that turns pairwise dedup output into "keep
    one canonical doc per cluster". Output: (id, comp) where comp is
    the component's minimum member id (deterministic canonical
    label). `vertices` (one `id` column) adds isolated docs as
    singleton components; omitted, only paired ids appear.

    Spark shape — hash-min label propagation, the standard
    distributed CC (GraphX/Pregel semantics) expressed in DataFrame
    ops: each round every vertex takes the min of its own label and
    its neighbors' labels (one shuffle-join edges x labels + one
    groupBy-min per round), then follows its label pointer one hop
    (pointer jumping: comp <- label(comp), a self-join of the label
    table) — the jump makes the min's reach grow geometrically, so
    rounds needed is O(log diameter), not diameter (a 200-vertex
    chain converges in ~8 rounds; plain hash-min would need 199).
    The loop is driver-side but each round is fully distributed and
    the per-round `changed` check is a cheap new-vs-old anti-check
    on the materialized round. Each round's labels are
    `localCheckpoint`ed: iterative
    self-joins otherwise stack a join per round onto the logical plan
    and the optimizer/codegen cost grows exponentially with depth
    (a 20-round chain OOMs the driver long before the data does).
    Checkpointing truncates lineage to the materialized blocks, so
    every round's plan is one join + one aggregate regardless of
    round number. On a real cluster prefer `sc.setCheckpointDir` +
    `.checkpoint()` for fault tolerance (localCheckpoint blocks die
    with their executor); semantics are identical.

    At the 10^12-doc design point the same loop runs unchanged — the
    O(log n) round bound holds for any graph shape. Raises
    RuntimeError if max_iter rounds don't converge rather than
    returning a wrong (still-moving) labeling.

    Adaptive fast path: when the materialized pair count is at most
    `small_graph_edges` (default 1M; 0 disables), the components are
    solved with an exact driver-side union-find over the bounded
    ids-only pair list instead — identical min-member labeling, no
    per-round job latency. `vertices` is never collected either way.
    """
    # materialize the pair list BEFORE the symmetrize-union: both
    # union branches read `pairs`, so without this the (expensive —
    # banding/LSH) pair-generation lineage executes TWICE inside the
    # edges job. One bounded ids-only frame, computed once. NULL ids
    # are dropped here so both paths agree: the distributed loop's
    # equi-joins never match NULL (the edge is inert), while a NULL
    # reaching the driver union-find would float-promote a long id
    # column in toPandas (3 -> 3.0 -> LongType TypeError) or hit
    # `None < str` in the min-relabel — same semantics, made explicit.
    pairs = (
        pairs.select("id_a", "id_b")
        .where(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
        .localCheckpoint()
    )
    # Small-graph fast path: near-dup PAIR lists are tiny relative to
    # the corpus (|pairs| ≈ dup population, not |docs|); when the
    # materialized count fits under `small_graph_edges`, an exact
    # driver-side union-find replaces ~log(n) rounds × 2 Spark jobs
    # of per-round latency. The collect is BOUNDED BY THE COUNT WE
    # JUST TOOK (ids only, never text), and `vertices` — which can be
    # the full 10^12-row corpus — is NEVER collected: singletons join
    # in distributively below. Pass small_graph_edges=0 to force the
    # distributed loop (tests pin both paths to the same labeling).
    if small_graph_edges and pairs.count() <= small_graph_edges:
        labels = _unionfind_labels(pairs)
        if vertices is not None:
            singles = (
                vertices.select("id")
                .distinct()
                .join(labels.select("id"), "id", "left_anti")
                .withColumn("comp", F.col("id"))
            )
            labels = labels.unionByName(singles)
        return labels
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    ids = edges.select(F.col("src").alias("id"))
    if vertices is not None:
        ids = ids.union(vertices.select("id"))
    edges = edges.localCheckpoint()
    labels = ids.distinct().withColumn("comp", F.col("id")).localCheckpoint()

    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.least(
                F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
            ).alias("comp"),
        )
        # pointer jumping: comp <- label(comp). Labels form pointer
        # chains toward the minimum; following one hop per round ON
        # TOP of the neighbor step makes the reach grow geometrically,
        # so a length-L chain converges in O(log L) rounds instead of
        # L (plain hash-min would blow max_iter on any chain longer
        # than it). comp is always a vertex id, so the lookup is a
        # self-join of the label table.
        ptr = stepped.select(
            F.col("id").alias("_pid"), F.col("comp").alias("_pcomp")
        )
        new_labels = (
            stepped.join(ptr, stepped.comp == ptr._pid, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("_pcomp"), F.col("comp"))
                ).alias("comp"),
            )
        ).localCheckpoint()  # eager: truncates lineage, materializes once
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def canonical_docs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """Keep-one-per-cluster dedup: drop every row whose id belongs to
    a near-dup component but is not its canonical member.

    Default (quality_col None): canonical = minimum id — cheapest and
    resume-stable, one components computation + one anti join (the
    drop list is |dups| - |clusters| rows, tiny vs the corpus).

    With `quality_col`: canonical = the cluster member with the
    HIGHEST quality (ties -> lowest id), which is what production
    dedup actually wants — near-dup clusters mix crawls of different
    completeness/cleanliness and min-id keeps an arbitrary one. Costs
    one extra keyed join (cluster members x their quality — |dups|
    rows, not the corpus) + a per-component window over clusters
    whose size is the dup population only.
    """
    comp = connected_components(pairs)
    if quality_col is None:
        drop = comp.where(F.col("comp") != F.col("id")).select(
            F.col("id").alias(id_col)
        )
        return df.join(drop, id_col, "left_anti")
    ranked = canonical_ranks(df, comp, id_col, quality_col)
    drop = ranked.where(F.col("kept") == 0).select(id_col)
    return df.join(drop, id_col, "left_anti")


def canonical_ranks(
    df: DataFrame,
    comp: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Quality-ranked cluster membership: for each id in `comp`
    ((id, comp) from connected_components), its cluster size, quality
    rank (1 = best: highest quality, ties by lowest id — a TOTAL
    order, so both the engine and any SQL twin pick the same winner),
    and kept flag. The window partitions by component over the dup
    population only; quality joins in via one keyed join of ids +
    one scalar column."""
    q = df.select(
        F.col(id_col).alias("id"), F.col(quality_col).alias("_q")
    )
    labeled = comp.join(q, "id")
    w = Window.partitionBy("comp").orderBy(
        F.col("_q").desc(), F.col("id").asc()
    )
    return labeled.select(
        F.col("id").alias(id_col),
        "comp",
        F.count("*").over(Window.partitionBy("comp")).alias("cluster_size"),
        F.col("_q").alias("quality"),
        F.row_number().over(w).alias("q_rank"),
        (F.row_number().over(w) == 1).cast("int").alias("kept"),
    )


def cluster_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, int],
    id_col: str = "doc_id",
    den: int = 1_000_000,
    max_iter: int = 25,
) -> DataFrame:
    """Leakage-safe train/eval/test split: assign whole NEAR-DUP
    CLUSTERS to splits, never individual rows.

    Splitting a corpus row-wise after (or worse, without) dedup leaks
    near-duplicates of training documents into the eval set — the
    classic contamination path benchmark decontamination
    (operators/decontam.py) exists to close, reopened from inside
    one's own corpus. The guard is structural: hash the near-dup
    COMPONENT label, not the row id, so every member of a cluster
    lands on the same side by construction.

    `weights` maps split name -> positive integer weight, in
    PRECEDENCE ORDER (insertion order is the ladder order; e.g.
    {"train": 8, "eval": 1, "test": 1}). Boundaries are exact
    integers b_k = den * cumsum(w)_k // total over the md5 hash
    bucket in [0, den) (operators/sampling.hash_bucket — the
    engine-portable idiom every sampling oracle already mirrors), so
    a SQL twin reproduces the assignment bit-for-bit and the split is
    resume-stable: re-running on the same corpus, or on a grown
    corpus whose new docs don't merge old clusters, never moves an
    already-assigned cluster.

    Cost on top of connected_components (O(log diameter) rounds over
    the PAIR population): one projection on the label table + one
    keyed equi-join back to the corpus. Output: df's columns +
    `comp` + `split`.
    """
    from .sampling import hash_bucket

    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive integers")
    total = sum(weights.values())
    comp = connected_components(
        pairs,
        vertices=df.select(F.col(id_col).alias("id")),
        max_iter=max_iter,
    )
    bucket = hash_bucket(F.col("comp"), den)
    cum = 0
    expr = None
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        b = den * cum // total
        cond = bucket < F.lit(b)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = (
        expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1])
    )
    labeled = comp.select(
        F.col("id").alias(id_col), "comp", split.alias("split")
    )
    return df.join(labeled, id_col)
