"""BPE trainer/encoder vs independent references: a dict-based
Sennrich-style trainer replay, hand-derivable merge sequences, and
the train==encode prefix property the SQL oracle relies on."""

import hashlib

import pytest
from pyspark.sql import functions as F

from ds2_spark.operators.bpe import (
    SEP,
    bpe_encode,
    encode_word,
    merge_pass,
    train_bpe,
    word_frequencies,
)


def _ref_train(word_counts, n_merges):
    """Independent trainer: same semantics, dict/tuple implementation
    (no DataFrames, no merge_pass reuse for the apply step)."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                counts[sym[i], sym[i + 1]] = counts.get(
                    (sym[i], sym[i + 1]), 0
                ) + c
        if not counts:
            break
        (l, r), best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, best))
        new = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + c
        vocab = new
    return merges


def test_merge_pass_left_to_right_nonoverlap():
    assert merge_pass(list("aaaa"), "a", "a") == ["aa", "aa"]
    assert merge_pass(list("aaa"), "a", "a") == ["aa", "a"]
    assert merge_pass(list("abab"), "a", "b") == ["ab", "ab"]
    assert merge_pass(["x"], "a", "b") == ["x"]
    assert merge_pass([], "a", "b") == []


def test_train_matches_independent_reference(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["low low low lower lowest", "new newer newest low",
             "wider wide wider new", "low newer wide wide"]
        )],
        ["doc_id", "text"],
    )
    wc = {
        r["word"]: r["cnt"]
        for r in word_frequencies(docs).collect()
    }
    assert train_bpe(docs, n_merges=8) == _ref_train(wc, 8)


def test_train_encode_prefix_property(spark):
    """Training's vocab state after j rounds must equal encoding with
    the first j merges — the invariant that lets the SQL oracle
    re-encode with a rank-ordered recursive CTE."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(100)
    merges = [(l, r) for l, r, _ in train_bpe(docs, n_merges=12)]
    for word in ["merge", "partition", "window", "aggregate"]:
        state = list(word)
        for j, (l, r) in enumerate(merges, start=1):
            state = merge_pass(state, l, r)
            assert state == encode_word(word, merges[:j])


def test_encode_detokenizes_and_counts(spark):
    docs = spark.createDataFrame(
        [(0, "banana bandana"), (1, ""), (2, "a")], ["doc_id", "text"]
    )
    merges = [("a", "n"), ("b", "an")]
    rows = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    # banana -> ban|an|a ; bandana -> ban|d|an|a
    stream = "ban an a ban d an a"
    assert rows[0]["n_tokens"] == 7
    assert rows[0]["n_singles"] == 3  # a, d, a
    assert rows[0]["token_hash"] == hashlib.md5(
        stream.encode()
    ).hexdigest()[:16]
    assert rows[1]["n_tokens"] == 0
    assert rows[1]["token_hash"] == hashlib.md5(b"").hexdigest()[:16]
    assert rows[2]["n_tokens"] == 1 and rows[2]["n_singles"] == 1


def test_encode_refuses_reserved_separator(spark):
    docs = spark.createDataFrame([(0, f"bad{SEP}text")], ["doc_id", "text"])
    with pytest.raises(Exception, match="U\\+001F"):
        bpe_encode(docs, [("a", "b")]).collect()


def test_corpus_tokens_never_exceed_chars(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(150)
    merges = [(l, r) for l, r, _ in train_bpe(docs, n_merges=10)]
    out = bpe_encode(docs, merges)
    joined = out.join(docs, "doc_id").select(
        "n_tokens", "n_singles",
        F.length(F.regexp_replace("text", r"\s+", "")).alias("n_chars"),
    )
    bad = joined.filter(
        (F.col("n_tokens") > F.col("n_chars"))
        | (F.col("n_singles") > F.col("n_tokens"))
        | (F.col("n_tokens") <= 0)
    ).count()
    assert bad == 0
    # merges actually fire: strictly fewer tokens than chars overall
    agg = joined.agg(
        F.sum("n_tokens").alias("t"), F.sum("n_chars").alias("c")
    ).first()
    assert agg["t"] < agg["c"]


def test_null_text_tokenizes_as_empty(spark):
    """Hostile input: NULL transcript yields 0 tokens + the
    empty-stream hash (the span-dedup NULL-passthrough policy), not a
    worker crash."""
    docs = spark.createDataFrame(
        [(0, "hello world"), (1, None), (2, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in bpe_encode(docs, [("h", "e")]).collect()}
    assert rows[1]["n_tokens"] == 0
    assert rows[1]["token_hash"] == hashlib.md5(b"").hexdigest()[:16]
    assert rows[2]["n_tokens"] == 0
    assert rows[0]["n_tokens"] == 9  # he,l,l,o + w,o,r,l,d


def _duck_oracle(rows, sql):
    """Run a catalog BPE oracle against an in-memory documents table."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?, 'en', 'src0', 0)", rows
    )
    return con.sql(sql).fetchall()


def test_oracle_parity_on_mid_symbol_adversarial_corpus(spark):
    """The bracketed-encoding regression case: this corpus learns
    merges [(c,a),(a,b)] and contains 'cab', where a trailing-marker-
    only encoding lets SQL replace() match 'a␟b␟' INSIDE the symbol
    'ca' and produce the token 'cab' while the engine (correctly)
    yields ca|b. Engine and oracle must agree on every doc — beyond
    the small-vocab sf fixtures that can't trigger the case. Also
    plants a U+00A0 word (pandas-vs-Java whitespace) and single-char
    residue."""
    from ds2_spark.queries_catalog.text import (
        _BPE_N_MERGES,
        _bpe_encode_oracle_sql,
        _bpe_train_oracle_sql,
    )

    rows = [
        (0, "ca ca ca ca ca ca ca ca ca ca"),
        (1, "xab xab xab xab xab xab xab xab"),
        (2, "cab cab cab cab cab"),
        (3, "hello world plain words"),
        (4, "z q v"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(docs, n_merges=_BPE_N_MERGES, max_words=500)
    engine_train = [
        (i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)
    ]
    assert _duck_oracle(rows, _bpe_train_oracle_sql(_BPE_N_MERGES)) == engine_train
    # the adversarial pair really is in the table
    learned = [(l, r) for _, l, r, _ in engine_train]
    assert ("c", "a") in learned and ("a", "b") in learned

    engine_enc = sorted(
        (r["doc_id"], r["n_tokens"], r["n_singles"], r["token_hash"])
        for r in bpe_encode(docs, [(l, r) for l, r, _ in merges]).collect()
    )
    oracle_enc = sorted(
        tuple(t) for t in _duck_oracle(rows, _bpe_encode_oracle_sql(_BPE_N_MERGES))
    )
    assert engine_enc == oracle_enc
    # the boundary case itself: at the round where (a,b) applies,
    # 'cab' is ca|b and the (a,b) merge must NOT fire across the
    # symbol boundary (a later legitimate (ca,b) merge may still
    # fully merge the word — that's fine and symbol-aligned)
    pairs = [(l, r) for l, r, _ in merges]
    j = pairs.index(("a", "b")) + 1
    assert encode_word("cab", pairs[:j]) == ["ca", "b"]


def test_oracle_parity_when_merges_run_dry(spark):
    """Degenerate corpus: single-char vocabulary dries pair counts
    before round n. The training oracle must emit exactly the learned
    merges (not NULL-poisoned rounds) and the encode oracle must use
    the last reached recursion depth, not the literal round count."""
    from ds2_spark.queries_catalog.text import (
        _BPE_N_MERGES,
        _bpe_encode_oracle_sql,
        _bpe_train_oracle_sql,
    )

    rows = [(0, "a b a b ab"), (1, "b a q")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(docs, n_merges=_BPE_N_MERGES, max_words=500)
    assert 0 < len(merges) < _BPE_N_MERGES
    engine_train = [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)]
    assert _duck_oracle(rows, _bpe_train_oracle_sql(_BPE_N_MERGES)) == engine_train

    engine_enc = sorted(
        (r["doc_id"], r["n_tokens"], r["n_singles"], r["token_hash"])
        for r in bpe_encode(docs, [(l, r) for l, r, _ in merges]).collect()
    )
    oracle_enc = sorted(
        tuple(t) for t in _duck_oracle(rows, _bpe_encode_oracle_sql(_BPE_N_MERGES))
    )
    assert engine_enc == oracle_enc
