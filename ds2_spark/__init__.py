"""ds2_spark — a PySpark-native quality-filter / data-curation engine.

A from-scratch re-expression of the capabilities of UCSC-REAL/DS2
(score-error detection via rating transition matrices, curated-score
calibration, diversity-aware selection — see SURVEY.md) as an
idiomatic Spark DataFrame pipeline over tables of
(audio clip, transcript) pairs:

    clips(clip_id, bytes, sr_hz, dur_ms, codec, transcript)

Everything is declarative DataFrame / SQL first; Python appears only
inside Arrow-vectorized pandas UDF stages (langid, perplexity, audio
decode, blocked kNN) — never row-at-a-time.

Subpackages
-----------
functions   column-level building blocks (text quality, scrub, vectors)
operators   multi-stage operators (HOC, votes, kNN, selection, dedup, ANN)
sources     table IO, checkpoint/lineage/resume protocol
plans       end-to-end pipeline composition
streaming   batch/streaming window demos over the events table
"""

from . import _zipguard

# Python workers import this package when they unpickle a UDF; from
# then on every later task of that worker skips the per-task zip
# directory re-reads (see _zipguard)
_zipguard.install()

__version__ = "0.1.0"

SEED = 42
NUM_CLASSES = 6  # scores live in [0,5]; cf. reference score_curation/tulu_template.py:4
