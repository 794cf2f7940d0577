"""Pipeline configuration.

Mirrors the reference service's knobs (confidence threshold, rule flags —
/root/reference/api.py:59,121, /root/reference/transner/transner/ner.py:77)
plus Spark-scale knobs (salting, bucketing, batch sizes) that have no
reference counterpart.
"""

from __future__ import annotations

from dataclasses import dataclass


# The reference service rejects sentences longer than 150 whitespace words
# (/root/reference/api.py:27,53-55). We route them to a quarantine table
# instead of aborting the job.
MAX_TURN_WORDS = 150

# Rule-based extractions carry a constant confidence of 0.9
# (/root/reference/transner/transner/ner.py:64).
RULE_BASED_SCORE = 0.9

# The served model's confidence threshold (/root/reference/api.py:121).
SERVICE_THRESHOLD = 0.75

# Closed entity-type vocabulary (/root/reference/supported_types.json:1 plus
# the model-side types DOCUMENT/PROCEDURE that the public list omits —
# /root/reference/transner/transner/ner.py:40-46).
SUPPORTED_TYPES = (
    "PERSON",
    "LOCATION",
    "ORGANIZATION",
    "MISCELLANEOUS",
    "DOCUMENT",
    "PROCEDURE",
    "IT_FISCAL_CODE",
    "EU_IBAN",
    "NL_CITIZEN_SERVICE_NUMBER",
    "UK_NATIONAL_ID_NUMBER",
    "EU_PHONE_NUMBER",
    "EMAIL_ADDRESS",
    "IPV4_ADDRESS",
    "URI",
    "RELIGION",
)


@dataclass
class PipelineConfig:
    """End-to-end pipeline configuration.

    The defaults reproduce the reference service: the reference's quirks
    (first-occurrence gazetteer offsets, adjacency-as-overlap, confidence
    string truncation) are always on, and the two rule paths the service
    never emits from stay off — ``apply_nested_loc=False`` (the
    reference's nested-LOC path crashes on a str round, reference
    ner.py:266) and ``apply_dates=False`` (the service never calls date
    detection, reference api.py:59).
    """

    threshold: float = SERVICE_THRESHOLD
    apply_regex: bool = True
    apply_gazetteers: bool = True
    # Nested LOC-in-MISC gazetteer rule: the reference's implementation is
    # dead code (TypeError on first hit); enabling this runs the evident
    # intent (type LOCATION, confidence 0.9). Default off for parity.
    apply_nested_loc: bool = False
    # R4 date detection (reference ner.py:272-309): an optional path the
    # service never calls (api.py:59) — deterministic regex port, default
    # off for parity; see kernels/rules.find_dates.
    apply_dates: bool = False
    max_turn_words: int = MAX_TURN_WORDS
    lowercase: bool = True
    # Gazetteer data files (None → the committed fixtures). Point these
    # at the reference's worldcities.csv / religions.txt to run with the
    # full 15k-city sets (ner.py:117-126 takes the same two files).
    cities_path: str | None = None
    religions_path: str | None = None

    # Triple extraction
    emit_tool_triples: bool = True
    emit_role_mention_triples: bool = False

    # Linking
    link_exact_only: bool = False
    link_jaccard_threshold: float = 0.5
    link_ngram: int = 3
    # False = drop the broadcast hints on the alias-dim joins and let
    # Catalyst/AQE pick a shuffled join (+ runtime skew splitting) — the
    # path a web-scale alias dictionary too large to broadcast actually
    # executes. Results are bit-identical to the broadcast path
    # (tests/test_linking_shuffle_path.py pins both values and plan
    # shape); only the physical join strategy changes.
    link_broadcast_dims: bool = True

    # Scale knobs
    edge_buckets: int = 64          # subject-hash partition buckets for edges
    salt_partitions: int = 16       # salting factor for hot-key joins
    # maxRecordsPerBatch for UDF stages (session-wide). 4096 measures
    # ~8% faster than 1024 on the text-only NER pass (amortized Arrow
    # framing); pipelines carrying large binary media columns through
    # mapInPandas should LOWER this — batch bytes scale with row size
    # and this knob is Spark-session-global, not per-operator.
    arrow_batch_rows: int = 4096
