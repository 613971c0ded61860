"""Transcript-level Spark stages: language-ID, perplexity, embedding,
quality features, token counts, fingerprints.

Design rules (BASELINE.json input_hint: "no per-row Python"):
  - anything expressible with built-in pyspark.sql.functions is a
    column expression (JVM, whole-stage codegen);
  - the three model kernels (langid / ppl / embed) are Arrow-batched
    pandas UDFs over NumPy kernels in textkernels.py — model tables
    are trained once per executor (lru_cache) and reused across
    batches, the PySpark analog of the reference's per-GPU model load
    (LLM_scoring/scoring.py:149-160).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import textkernels as tk

# Explicit ASCII character classes shared by every engine (NOTES #76):
# Java's \s is [ \t\n\x0B\f\r] but RE2's (DuckDB) lacks \x0B, and
# Python's re adds Unicode whitespace; Java's \p{P} is Unicode
# punctuation-category (excludes $+<=>^`|~) while POSIX [:punct:] is
# the full ASCII graphic-non-alnum set. Spelling the sets out as hex
# ranges makes Spark, DuckDB, and any NumPy twin tokenize identically
# on EVERY input, not just fixture-safe text. Both Java regex and RE2
# interpret \xhh inside a class.
WS_SPLIT = r"[ \t\n\x0b\f\r]+"
NON_WS_CLASS = r"[^ \t\n\x0b\f\r]"
# POSIX punct: 0x21-0x2f 0x3a-0x40 0x5b-0x60 0x7b-0x7e (== [:punct:]).
PUNCT_RANGES = r"\x21-\x2f\x3a-\x40\x5b-\x60\x7b-\x7e"
WS_OR_PUNCT_SPLIT = r"[ \t\n\x0b\f\r" + PUNCT_RANGES + "]+"

_LANGID_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("lang_margin", T.DoubleType()),
        T.StructField("lang_logp", T.DoubleType()),
    ]
)


@F.pandas_udf(_LANGID_SCHEMA)
def langid_udf(texts: pd.Series) -> pd.DataFrame:
    """fastText-style language ID (hashed byte-n-gram NB)."""
    vals = texts.fillna("").tolist()
    idx, margin, top = tk.langid_scores(vals)
    _, langs = tk.langid_model()
    return pd.DataFrame(
        {
            "lang": [langs[i] for i in idx],
            "lang_margin": margin,
            "lang_logp": top,
        }
    )


@F.pandas_udf(T.DoubleType())
def ppl_udf(texts: pd.Series) -> pd.Series:
    """KN-style (absolute-discount) byte-trigram perplexity."""
    return pd.Series(tk.perplexities(texts.fillna("").tolist()))


@F.pandas_udf(T.StringType())
def nfc_udf(texts: pd.Series) -> pd.Series:
    """Unicode NFC normalization (UAX #15) — the standard first step
    of any multilingual text ingest: composes 'e'+U+0301 into U+00E9
    so dedup keys, token counts, scrub regexes, and LM hashes see ONE
    canonical byte form instead of visually-identical variants.
    NULL passes through (stage contract: never invent text).
    Verified cross-implementation: the contract oracle
    (q_nfc_normalize) compares this (CPython unicodedata, i.e. the
    UCD reference tables) against DuckDB's utf8proc nfc_normalize —
    two independent implementations of the same published algorithm."""
    import unicodedata

    return texts.map(
        lambda t: t if t is None else unicodedata.normalize("NFC", t)
    )


def ppl_udf_with_model(model_bc):
    """ppl_udf scoring with a TRAINED model (operators/lm.train_lm)
    instead of the built-in fixture LM. `model_bc` is a
    `sc.broadcast((cnt3, cnt2, discount))` — broadcast, not a plain
    closure, so the ~4 MB dense arrays ship once per executor rather
    than inside every serialized task. Trained on the fixture corpus
    this scores bit-identically to `ppl_udf` (pinned in
    tests/test_lm.py), so swapping models never changes the stage
    shape — only the arrays the same kernel reads."""

    @F.pandas_udf(T.DoubleType())
    def _ppl(texts: pd.Series) -> pd.Series:
        return pd.Series(
            tk.perplexities(texts.fillna("").tolist(), model=model_bc.value)
        )

    return _ppl


def embed_udf(dim: int = tk.EMBED_DIM_DEFAULT):
    """Hashed n-gram sentence embedding (array<float>, L2-normalized) —
    the deterministic analog of the reference's BGE encoder stage
    (docta/core/preprocess.py:33-84)."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        mat = tk.embed_texts(texts.fillna("").tolist(), dim=dim)
        return pd.Series(list(mat))

    return _embed


# ----------------------------------------------------- built-in features

def with_quality_features(df: DataFrame, text_col: str = "transcript") -> DataFrame:
    """Pure column-expression quality features (no Python):
    n_chars, n_tokens, alpha/digit/space/punct ratios, upper ratio."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    trimmed = F.trim(t)
    n = F.length(t)
    safe_n = F.greatest(n, F.lit(1)).cast("double")

    def _ratio(non_class_pattern: str) -> Column:
        # strip everything NOT in the class; what's left over n = ratio
        return F.length(F.regexp_replace(t, non_class_pattern, "")) / safe_n

    return (
        df.withColumn("n_chars", F.length(trimmed))
        .withColumn(
            "n_tokens",
            # count NON-EMPTY pieces: Java's split drops trailing empty
            # strings but DuckDB's regexp_split_to_array keeps them, so a
            # bare size(split(..)) diverges on text ending in whitespace
            # that trim() doesn't strip (trim = spaces only). Filtering
            # empties makes the count engine-independent by construction.
            F.size(F.filter(F.split(trimmed, WS_SPLIT), lambda x: x != F.lit(""))),
        )
        .withColumn("alpha_ratio", _ratio(r"[^\p{L}]"))
        .withColumn("digit_ratio", _ratio(r"[^0-9]"))
        .withColumn("space_ratio", _ratio(NON_WS_CLASS))
        .withColumn("punct_ratio", _ratio(r"[^\p{P}]"))
    )


def token_count_col(text_col: str = "transcript") -> Column:
    """Whitespace+punctuation token count (BPE-ish regex split)."""
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    # non-empty pieces only — see n_tokens comment in with_quality_features
    # (text ending in punctuation would otherwise count a phantom token in
    # DuckDB but not in Java).
    return F.size(F.filter(F.split(t, WS_OR_PUNCT_SPLIT), lambda x: x != F.lit("")))


def fingerprint_col(text_col: str = "transcript") -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (exact-dup key; identical function exists in DuckDB for the oracle)."""
    norm = F.lower(F.regexp_replace(F.trim(F.coalesce(F.col(text_col), F.lit(""))), WS_SPLIT, " "))
    return F.md5(norm)


# ---------------------------------------------------------------------------
# Invisible-character / confusable-width sanitization (ingest front door,
# alongside nfc_udf). Zero-width characters make visually-identical
# transcripts hash to different exact-dedup keys and skew token
# counts; bidi override controls are the "Trojan Source" (Boucher &
# Anderson 2021) vector that reorders displayed text; fullwidth ASCII
# (U+FF01-U+FF5E) defeats keyword rules and scrub regexes that match
# the ASCII forms. All three folds are pure JVM column expressions
# (regexp_replace + translate — whole-stage codegen, no UDF), and the
# same three-step chain runs verbatim in DuckDB for the contract oracle
# (q_sanitize) and in `sanitize_py` (the NumPy-twin building block).
# Sets are spelled as \u escapes so the .py source stays ASCII and a
# file-level normalizer can't silently neuter the contract (the
# q_nfc_normalize discipline). All chars are BMP, so Spark's UTF-16
# length() == DuckDB's codepoint length() on every column derived here.
#
# STRIP — invisible format controls, removed outright:
#   U+00AD soft hyphen; U+180E Mongolian vowel separator;
#   U+200B-U+200F ZWSP/ZWNJ/ZWJ/LRM/RLM; U+202A-U+202E bidi
#   embedding/override; U+2060-U+2064 word joiner + invisible
#   operators; U+2066-U+2069 bidi isolates; U+FEFF ZWNBSP/BOM.
SANITIZE_STRIP_CLASS = (
    "[\u00ad\u180e\u200b-\u200f\u202a-\u202e"
    "\u2060-\u2064\u2066-\u2069\ufeff]"
)
# SPACES -- Unicode space separators (and the two line/para separators)
# folded to ASCII space so WS_SPLIT tokenization and the scrub
# delimiter classes see one space form:
#   U+00A0 NBSP; U+1680 Ogham; U+2000-U+200A quads/thins; U+2028 LS;
#   U+2029 PS; U+202F narrow NBSP; U+205F math space; U+3000
#   ideographic space.
SANITIZE_SPACE_CLASS = (
    "[\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
)
# FULLWIDTH — the 94 fullwidth ASCII graphics fold to their halfwidth
# forms (the NFKC fold restricted to the unambiguous U+FF01-U+FF5E
# block; full NFKC is deliberately NOT applied — it also rewrites
# ligatures/superscripts, a lossy choice an ingest default shouldn't
# make silently).
SANITIZE_FW_FROM = "".join(chr(c) for c in range(0xFF01, 0xFF5F))
SANITIZE_FW_TO = "".join(chr(c) for c in range(0x21, 0x7F))


def sanitize_stripped_col(col: Column) -> Column:
    """Step 1 only (format-control strip) — exposed so callers can
    measure `n_stripped = length(raw) - length(stripped)` without
    re-running the chain."""
    return F.regexp_replace(col, SANITIZE_STRIP_CLASS, "")


def sanitize_col(col: Column) -> Column:
    """Full sanitize: strip format controls, fold Unicode spaces to
    ASCII space, fold fullwidth ASCII to halfwidth. NULL passes
    through (regexp_replace/translate are NULL-preserving). Idempotent:
    no output char is in any matched set."""
    spaced = F.regexp_replace(sanitize_stripped_col(col), SANITIZE_SPACE_CLASS, " ")
    return F.translate(spaced, SANITIZE_FW_FROM, SANITIZE_FW_TO)


_SANITIZE_FW_TRANS = str.maketrans(SANITIZE_FW_FROM, SANITIZE_FW_TO)


def sanitize_py(t: "str | None") -> "str | None":
    """Pure-Python twin of sanitize_col (same three steps, same sets) —
    the independent oracle for pytest parity."""
    import re as _re

    if t is None:
        return None
    t = _re.sub(SANITIZE_STRIP_CLASS, "", t)
    t = _re.sub(SANITIZE_SPACE_CLASS, " ", t)
    return t.translate(_SANITIZE_FW_TRANS)
