"""Semantic SQL extension (reference: semantic/query.py:11-65).

Adds to the ``files`` surface, exactly as the reference does inside
DuckDB, but Spark-native:

- ``embed(text)`` scalar UDF -> pandas_udf (Arrow-batched; the model
  instance lives executor-local inside the closure). A call on a string
  literal, ``embed('...')``, never reaches it: the engine folds it
  into the constant vector before planning (``fold_embed_literals``),
  so a top-k query sends no row through a Python worker;
- ``embedding`` column -> left join against the store snapshot
  (broadcast — the embedding side is one row per file), made once per
  (vault listing, store generation) by the engine's snapshot, as the
  reference adds the column once per load; NULL for unindexed paths
  (tested behavior, reference tests/test_query.py:305-326);
- cosine similarity under the DuckDB names is registered by
  functions.sqlfuncs as pure Catalyst SQL UDFs.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from frontmatter_mcp_spark.plans.dialect import OPAQUE_RE, skip_opaque
from frontmatter_mcp_spark.semantic.model import EmbeddingModel
from frontmatter_mcp_spark.sources.markdown import view_path


def register_embed_udf(spark: SparkSession, model: EmbeddingModel) -> None:
    """Register ``embed(text) -> array<float>`` (reference's only UDF,
    semantic/query.py:31-39)."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        return pd.Series(model.encode(list(texts.fillna(""))))

    spark.udf.register("embed", embed)


# `embed(` (not qualified, not the tail of a longer name) just before a
# string literal
_EMBED_OPEN_RE = re.compile(r"(?<![\w.`])embed\s*\(\s*$", re.IGNORECASE)
_CLOSE_RE = re.compile(r"\s*\)")


def fold_embed_literals(sql: str, model: EmbeddingModel) -> str:
    """Replace each ``embed('<string literal>')`` with its vector as a
    constant, ``CAST(ARRAY(<d>D, ...) AS ARRAY<FLOAT>)``. ``repr`` of a
    double round-trips exactly and the double->float cast rounds to
    nearest, as the Arrow float32 conversion of the UDF's result does,
    so the folded values are bit-identical to the UDF's. Any other
    argument (a column, an expression, a literal with a backslash escape
    or followed by an adjacent literal) keeps the UDF. Literals, quoted
    identifiers and comments are skipped whole, so text inside them is
    never rewritten."""
    out: list[str] = []
    pos = code = 0  # sql[:pos] is emitted; sql[code] is outside any literal
    while (m := OPAQUE_RE.search(sql, code)) is not None:
        start, end = m.start(), skip_opaque(sql, m.start())
        call = _EMBED_OPEN_RE.search(sql, code, start)
        close = _CLOSE_RE.match(sql, end)
        literal = sql[start + 1 : end - 1]
        code = end
        # (an unterminated literal runs to the end: no `)` follows it)
        if m.group() != "'" or call is None or close is None or "\\" in literal:
            continue
        vector = model.encode([literal.replace("''", "'")])[0]
        if not all(math.isfinite(x) for x in vector):
            continue
        values = ", ".join(f"{float(x)!r}D" for x in vector)
        out += [sql[pos : call.start()], f"CAST(ARRAY({values}) AS ARRAY<FLOAT>)"]
        pos = code = close.end()
    return "".join(out) + sql[pos:]


def attach_embeddings(parsed: DataFrame, rows: DataFrame) -> DataFrame:
    """Left-join the store's vectors onto the parsed files as an
    ``embedding`` column (reference's ALTER TABLE + UPDATE...FROM,
    semantic/query.py:42-65), matched on the files view's ``path``.
    Broadcast the embedding side; unindexed files get NULL."""
    emb = rows.select(
        F.col("path").alias("_embedding_path"), F.col("vector").alias("embedding")
    )
    return parsed.join(
        F.broadcast(emb), view_path() == emb["_embedding_path"], "left"
    ).drop("_embedding_path")
