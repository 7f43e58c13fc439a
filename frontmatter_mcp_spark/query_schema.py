"""Schema inference for query_inspect (reference: query_schema.py:19-69).

One aggregation over the parsed DataFrame computes, per frontmatter
key: type ("array" iff any non-null raw value was a YAML list, else
"string"), nullable (true iff some matched file lacks the key or has it
null), and up to 5 unique example values. ``path`` is the synthetic
never-null column (reference query_schema.py:46-49).

Example values are sorted (the reference keeps encounter order; a
distributed aggregation has no meaningful encounter order, so sorted is
the deterministic choice).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F


def create_base_schema(
    parsed: DataFrame, file_count: int, max_samples: int = 5
) -> dict[str, Any]:
    """Schema of the ``file_count`` parsed files in ``parsed`` — the
    count the caller already has (engine snapshot), so the only Spark
    work is the one per-key aggregation."""
    if file_count == 0:
        return {"path": {"type": "string", "nullable": False}}

    kv = parsed.filter(F.col("error").isNull()).select(
        F.explode("props").alias("k", "v"), "array_keys"
    )
    per_key = (
        kv.groupBy("k")
        .agg(
            F.count(F.col("v")).alias("non_null"),
            F.slice(F.array_sort(F.collect_set("v")), 1, max_samples).alias("examples"),
            F.max(F.array_contains("array_keys", F.col("k"))).alias("is_array"),
        )
        .collect()
    )

    schema: dict[str, Any] = {"path": {"type": "string", "nullable": False}}
    for r in sorted(per_key, key=lambda r: r.k):
        schema[r.k] = {
            "type": "array" if r.is_array else "string",
            "nullable": bool(r.non_null < file_count),
            "examples": list(r.examples),
        }
    return schema


def add_semantic_schema(schema: dict[str, Any], dim: int) -> dict[str, Any]:
    """Advertise the embedding column when the index is READY
    (reference semantic/query_schema.py:7-18)."""
    out = dict(schema)
    out["embedding"] = {"type": f"FLOAT[{dim}]", "nullable": False}
    return out
