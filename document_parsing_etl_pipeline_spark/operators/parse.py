"""Document parse stage: normalization + metadata extraction.

Reference parity: docling conversion post-processing and PyMuPDF
metadata extraction (reference services/parser/main.py:58-83 — page
count / file size / extraction date become char/word/line counts and a
size bucket on the text-native documents table).

All ops are narrow per-row projections: no shuffle, fully inside
whole-stage codegen, linear scale to 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN = r"\S+"


def words(c) -> "F.Column":
    r"""The one token rule of the engine: split ``c`` into raw-case tokens.

    A token is a run of characters outside Java's ``\s``, the class
    ``[ \t\n\x0B\f\r]``; whitespace-only or empty text has zero
    tokens, not ``['']``. This equals Python ``str.split()`` only on
    text whose whitespace is all in that class. Measured on Spark 4.1
    and DuckDB:

    - NBSP (U+00A0), NEL (U+0085), U+001C and the Unicode spaces
      U+2003, U+2028 and U+3000 are token characters in both Spark and
      DuckDB, while Python splits on them.
    - ``"a\x0bb"`` is ``['a', 'b']`` in Spark but ``['a\x0bb']`` in
      DuckDB, whose RE2 ``\S`` leaves out the vertical tab.

    So the DuckDB oracles agree with Spark only on text free of
    ``\x0B``, and both agree with ``str.split()`` only where every
    whitespace character is in ``[ \t\n\f\r]``. The test corpora meet
    both conditions (tests/test_text_ops.py checks it).
    """
    return F.regexp_extract_all(c, F.lit(TOKEN), 0)


def tokens(c) -> "F.Column":
    """Lowercased tokens: ``words(lower(c))``."""
    return words(F.lower(c))


def normalized_text(c) -> "F.Column":
    """Lowercased tokens joined by one space."""
    return F.array_join(tokens(c), " ")


def normalize_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-normalize + lowercase → `norm_text`."""
    return docs.withColumn("norm_text", normalized_text(F.col(text_col)))


def document_metadata(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document metadata projection.

    char_count/word_count/size_bucket mirror the reference watcher's
    metadata dict (page_count/file_size analogs for a text corpus).
    """
    word_count = F.size(words(F.col(text_col)))
    return docs.select(
        "doc_id",
        "source",
        "lang",
        F.length(F.col(text_col)).alias("char_count"),
        word_count.alias("word_count"),
        (F.size(F.split(F.col(text_col), r"\n")) ).alias("line_count"),
        F.when(F.length(F.col(text_col)) < 200, F.lit("small"))
        .when(F.length(F.col(text_col)) < 400, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("size_bucket"),
    )
