"""Distributed word-frequency table (SURVEY.md F5).

This is the counting step that every public BPE trainer starts with
(Sennrich et al. 2016; sentencepiece and HF tokenizers likewise
aggregate counts before merging): the corpus is reduced to a
WORD-FREQUENCY table by a JVM-side split + groupBy/count. The trained
merge loop and the subword encoder on top of it are a documented
omission (COVERAGE.md F5); the reference tokenizes names with a
pretrained BERT WordPiece vocab (`src/emb_loader.py:193-196`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def word_frequency_table(df: DataFrame, text_col: str,
                         max_words: int = 100_000,
                         lowercase: bool = True) -> DataFrame:
    """Distributed word-frequency table as a DataFrame: split on
    non-letter/digit runs JVM-side, explode, groupBy/count, keep the
    ``max_words`` most frequent (count desc, word asc — a total order,
    so the cut is deterministic). One shuffle over the corpus; partial
    (map-side) aggregation does the heavy lifting, and the sort runs on
    the already-aggregated distinct-word table (Heaps' law: tiny next
    to the corpus), with a TakeOrderedAndProject for the limit."""
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    return (
        df.select(F.explode(F.split(c, r"[^\p{L}\p{N}']+")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w").count()
        .orderBy(F.col("count").desc(), F.col("w"))
        .limit(max_words)
    )
