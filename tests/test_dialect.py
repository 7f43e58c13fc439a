"""Dialect shim unit tests (plans/dialect.py)."""

from __future__ import annotations

from frontmatter_mcp_spark.plans.dialect import translate


def test_json_hint_varchar():
    assert (
        translate("SELECT from_json(tags, '[\"VARCHAR\"]') FROM files")
        == "SELECT from_json(tags, 'array<string>') FROM files"
    )


def test_json_hint_empty_string():
    assert "array<string>" in translate("from_json(x, '[\"\"]')")


def test_json_hint_integer():
    assert "array<int>" in translate("from_json(x, '[\"INTEGER\"]')")


def test_comma_unnest_rewrite():
    sql = 'SELECT tag FROM files, UNNEST(from_json(tags, \'["VARCHAR"]\')) AS t(tag)'
    out = translate(sql)
    assert "LATERAL VIEW explode(from_json(tags, 'array<string>')) t AS tag" in out
    assert ", UNNEST" not in out


def test_plain_sql_untouched():
    sql = "SELECT path, COUNT(*) FROM files WHERE date >= '2025-01-01' GROUP BY path"
    assert translate(sql) == sql


def test_order_by_asc_gets_nulls_last():
    assert (
        translate("SELECT * FROM files ORDER BY date")
        == "SELECT * FROM files ORDER BY date NULLS LAST"
    )
    assert (
        translate("SELECT * FROM files ORDER BY date ASC LIMIT 5")
        == "SELECT * FROM files ORDER BY date ASC NULLS LAST LIMIT 5"
    )


def test_order_by_desc_and_explicit_nulls_untouched():
    assert (
        translate("SELECT * FROM files ORDER BY date DESC")
        == "SELECT * FROM files ORDER BY date DESC"
    )
    sql = "SELECT * FROM files ORDER BY date ASC NULLS FIRST"
    assert translate(sql) == sql


def test_order_by_multiple_items_and_functions():
    out = translate("SELECT * FROM files ORDER BY coalesce(a, b), c DESC, d LIMIT 2")
    assert out == (
        "SELECT * FROM files ORDER BY coalesce(a, b) NULLS LAST, c DESC, d NULLS LAST LIMIT 2"
    )


def test_order_by_inside_subquery_and_window():
    out = translate(
        "SELECT rank() OVER (ORDER BY score) FROM (SELECT * FROM files ORDER BY path) t"
    )
    assert "ORDER BY score NULLS LAST" in out
    assert "ORDER BY path NULLS LAST" in out


def test_window_frame_rows_between():
    # NULLS LAST must land BEFORE the frame clause, not after it
    out = translate(
        "SELECT SUM(n) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) FROM files"
    )
    assert (
        out
        == "SELECT SUM(n) OVER (ORDER BY d NULLS LAST ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) FROM files"
    )


def test_window_frame_variants():
    out = translate("SELECT AVG(n) OVER (PARTITION BY k ORDER BY d RANGE UNBOUNDED PRECEDING) FROM files")
    assert "ORDER BY d NULLS LAST RANGE UNBOUNDED PRECEDING" in out
    out = translate("SELECT SUM(n) OVER (ORDER BY d DESC ROWS 3 PRECEDING) FROM files")
    assert "ORDER BY d DESC ROWS 3 PRECEDING" in out  # DESC: untouched
    out = translate("SELECT COUNT(*) OVER (ORDER BY d GROUPS CURRENT ROW) FROM files")
    assert "ORDER BY d NULLS LAST GROUPS CURRENT ROW" in out


def test_column_named_rows_still_gets_modifier():
    # frame keywords only terminate when followed by frame syntax
    out = translate("SELECT * FROM files ORDER BY rows LIMIT 1")
    assert out == "SELECT * FROM files ORDER BY rows NULLS LAST LIMIT 1"


def test_unknown_hint_untouched():
    sql = "SELECT from_json(x, '[\"STRUCTY\"]') FROM files"
    assert translate(sql) == sql


def test_list_function_renames():
    out = translate("SELECT list_filter(tags, t -> t <> 'x') FROM files")
    assert out == "SELECT filter(tags, t -> t <> 'x') FROM files"
    out = translate("SELECT LIST_TRANSFORM(tags, t -> upper(t)) FROM files")
    assert out == "SELECT transform(tags, t -> upper(t)) FROM files"
    # list_distinct is NOT a pure rename: DuckDB drops null elements,
    # Spark's array_distinct keeps one — the shim adds the null filter
    out = translate("SELECT list_sort(list_distinct(tags)) FROM files")
    assert out == (
        "SELECT array_sort(filter(array_distinct(tags), "
        "__ld_x -> __ld_x IS NOT NULL)) FROM files"
    )
    out = translate("SELECT string_split_regex(trim(x), '\\s+') FROM files")
    assert out == "SELECT split(trim(x), '\\s+') FROM files"
    # word boundary: a user identifier CONTAINING a shim name is untouched
    sql = "SELECT my_list_filter(x) FROM files"
    assert translate(sql) == sql


def test_list_lambda_end_to_end_through_engine(spark, tmp_path):
    """A DuckDB-shaped tags query using list lambdas runs unchanged
    against the engine (the reference forwards it verbatim to DuckDB)."""
    from frontmatter_mcp_spark.engine import FrontmatterEngine

    (tmp_path / "a.md").write_text("---\ntags: [python, spark, x]\n---\nbody\n")
    (tmp_path / "b.md").write_text("---\ntags: [x]\n---\nbody\n")
    eng = FrontmatterEngine(spark, tmp_path)
    out = eng.query(
        "*.md",
        """
        SELECT path,
               array_to_string(
                 list_sort(list_filter(from_json(tags, '["VARCHAR"]'), t -> t <> 'x')),
                 ',') AS kept
        FROM files ORDER BY path
        """,
    )
    assert [(r["path"], r["kept"]) for r in out["results"]] == [
        ("a.md", "python,spark"),
        ("b.md", ""),
    ]


def test_list_distinct_null_semantics_match_duckdb(spark):
    """The list_distinct shim must reproduce DuckDB's null-dropping
    semantics (a bare array_distinct rename keeps one NULL)."""
    import duckdb

    q = "SELECT list_sort(list_distinct(array('a', NULL, 'a', 'b'))) AS x"
    got = spark.sql(translate(q)).collect()[0]["x"]
    want = duckdb.sql(
        "SELECT list_sort(list_distinct(['a', NULL, 'a', 'b'])) AS x"
    ).fetchone()[0]
    assert got == want == ["a", "b"]


def test_list_distinct_argument_skips_quoted_parens_and_comments():
    """A paren inside a double-quoted or backslash-escaped string, or in
    a comment, does not end the list_distinct argument."""
    for arg in [
        'split(x, ")")',
        "split(x, 'it\\'s)')",
        "split(x, ',') /* ) */",
    ]:
        out = translate(f"SELECT list_distinct({arg}) FROM files")
        assert out == (
            f"SELECT filter(array_distinct({arg}), __ld_x -> __ld_x IS NOT NULL) FROM files"
        )
