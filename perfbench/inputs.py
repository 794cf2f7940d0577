"""Seeded inputs and the reference outputs they are checked against.

Inputs come from the program's own transcript generator
(``sources.transcripts.gen_turn``), shifted by a conversation-index
offset drawn from the seed: each seed gives other conversation ids and
other entity picks, while the generator's hot-key rule (every
conversation with ``conv_idx % 5 == 0`` names the same person) keeps
the same ~20% skew. The program only ever sees the parquet files.

The reference is the single-process oracle (``kernels.oracle``),
computed once per seed outside the timed region.
It shares the NER kernel with the program, so it is itself checked
against the independent DuckDB derivation ``oracles_ner.kg_mentions_sql``
on a sample of the corpus: a kernel change that alters mentions fails
that check instead of passing on both sides.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from transner_spark.config import PipelineConfig
from transner_spark.kernels import oracle
from transner_spark.sources.transcripts import gen_turn

TURNS_PER_CONV = 10
# Timestamps advance one hour per conversation index from 2026, and
# pandas' nanosecond timestamps end in 2262: keep every index below ~2M.
_MAX_CONV_BASE = 1_500_000
SQL_SAMPLE_TURNS = 512

MENTION_COLS = list(oracle.MENTION_COLUMNS)
TRIPLE_COLS = list(oracle.TRIPLE_COLUMNS)
EDGE_COLS = list(oracle.EDGE_COLUMNS)


def conv_base(seed: int) -> int:
    return random.Random(seed).randrange(0, _MAX_CONV_BASE)


def make_turns(first_conv: int, n_convs: int) -> pd.DataFrame:
    rows = [
        gen_turn(c, t)
        for c in range(first_conv, first_conv + n_convs)
        for t in range(TURNS_PER_CONV)
    ]
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


# The transcripts schema, with microsecond timestamps as Spark writes
# them. Given explicitly: a small file can have no tool turn at all, and
# an all-null column would otherwise be written as INT32.
TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    """Transcripts parquet in the transcripts schema."""
    table = pa.Table.from_pandas(pdf[TRANSCRIPT_ARROW.names], preserve_index=False)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table.cast(TRANSCRIPT_ARROW), path)
    return path


def kept_turns(pdf: pd.DataFrame, cfg: PipelineConfig) -> pd.DataFrame:
    """The turns the length guard lets through to the NER pass."""
    return pdf[pdf["text"].str.split().str.len() <= cfg.max_turn_words]


def sql_spot_check(
    pdf: pd.DataFrame, mentions: pd.DataFrame, workdir: str, n: int = SQL_SAMPLE_TURNS
) -> bool:
    """Do the oracle's mentions for the first ``n`` turns equal the
    DuckDB SQL derivation of them?"""
    import duckdb

    from transner_spark.data.lexicons import ensure_ner_lexicon_parquet
    from transner_spark.oracles_ner import kg_mentions_sql

    sample = pdf.head(n)
    path = write_parquet(sample, os.path.join(workdir, "sql_sample", "t.parquet"))
    phrases, names = ensure_ner_lexicon_parquet(workdir)
    con = duckdb.connect()
    try:
        got = con.execute(kg_mentions_sql(path, phrases, names)).df()
    finally:
        con.close()
    keys = set(zip(sample["conv_id"], sample["turn_idx"].astype("int64")))
    want = mentions[
        [k in keys for k in zip(mentions["conv_id"], mentions["turn_idx"].astype("int64"))]
    ]
    return multiset(got, MENTION_COLS) == multiset(want, MENTION_COLS)


def reference_parts(pdf: pd.DataFrame, cfg: PipelineConfig) -> dict[str, pd.DataFrame]:
    """The reference mentions and triples of one input file."""
    mentions = oracle.oracle_mentions(pdf, cfg)
    return {"mentions": mentions, "triples": oracle.oracle_triples(pdf, mentions, cfg)}


def reference_edges(pdf: pd.DataFrame, triples: pd.DataFrame, cfg: PipelineConfig) -> pd.DataFrame:
    """The reference edge table of a corpus, from its triples."""
    canon = oracle.oracle_canonical(oracle.oracle_links(triples, cfg))
    return oracle.oracle_edges(pdf, triples, canon)


# -- comparison --------------------------------------------------------


def multiset(df: pd.DataFrame, cols: list[str]) -> Counter:
    """Order-independent content of ``df[cols]``: integers as int,
    timestamps as epoch microseconds, floats compared exactly (program
    and reference run the same float code)."""
    out = {}
    for c in cols:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        out[c] = s.tolist()
    return Counter(zip(*(out[c] for c in cols)))


def digest(content: Counter) -> str:
    """A short, order-independent fingerprint of a multiset of rows."""
    text = "\n".join(sorted(repr(item) for item in content.items()))
    return hashlib.sha256(text.encode()).hexdigest()
