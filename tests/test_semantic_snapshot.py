"""The semantic column as part of the engine's snapshot: the store is
joined once per index generation (not per query), the snapshot follows
the index when it moves, and ``embed('<literal>')`` is folded before
planning to exactly the vector the UDF would produce."""

from __future__ import annotations

import os
import struct
import uuid

import pytest

from frontmatter_mcp_spark.engine import FrontmatterEngine
from frontmatter_mcp_spark.semantic.model import EmbeddingModel
from frontmatter_mcp_spark.semantic.query import fold_embed_literals


@pytest.fixture()
def vault(tmp_path):
    root = tmp_path / "vault"
    root.mkdir()
    for i, (title, body) in enumerate(
        [
            ("spark", "spark catalyst optimizer shuffles partitions"),
            ("cooking", "recipe butter flour sugar oven"),
            ("notes", "meeting notes about the optimizer"),
        ]
    ):
        (root / f"n{i}.md").write_text(f"---\ntitle: {title}\nrank: {i}\n---\n{body}\n")
    (root / "bad.md").write_text("---\ninvalid: [unclosed\n---\nbroken\n")
    return root


def _ready_engine(spark, vault, tmp_path, **kw) -> FrontmatterEngine:
    eng = FrontmatterEngine(spark, vault, semantic=True, cache_dir=tmp_path / "cache", **kw)
    eng.index_refresh()
    eng.index_wait(120)
    assert eng.index_status()["state"] == "ready"
    return eng


def _jobs(spark, fn) -> tuple[int, object]:
    """Spark jobs ``fn`` starts, counted through the status tracker."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _f32_bits(values) -> list[bytes]:
    return [struct.pack("<f", v) for v in values]


def test_snapshot_follows_index_generation(spark, vault, tmp_path):
    eng = _ready_engine(spark, vault, tmp_path)
    sql = "SELECT path, embedding FROM files ORDER BY path"
    before = {r["path"]: r["embedding"] for r in eng.query("**/*.md", sql)["results"]}
    gen0 = eng.store.current_generation()

    p = vault / "n1.md"
    p.write_text("---\ntitle: cooking\nrank: 1\n---\nan entirely different body\n")
    st = p.stat()
    os.utime(p, (st.st_atime, st.st_mtime + 100))
    # the edit alone moves the listing; the store still holds the old vector
    stale = {r["path"]: r["embedding"] for r in eng.query("**/*.md", sql)["results"]}
    assert stale == before
    eng.index_refresh()
    eng.index_wait(120)
    assert eng.store.current_generation() > gen0

    after = {r["path"]: r["embedding"] for r in eng.query("**/*.md", sql)["results"]}
    stored = {r.path: list(r.vector) for r in eng.store.read().collect()}
    assert after["n1.md"] == stored["n1.md"] != before["n1.md"]
    assert after["n0.md"] == stored["n0.md"] == before["n0.md"]
    assert eng.index_status()["indexed_count"] == 3


def test_snapshot_follows_index_state(spark, vault, tmp_path):
    """The column appears when the index turns READY, with no edit to
    the vault in between."""
    eng = FrontmatterEngine(spark, vault, semantic=True, cache_dir=tmp_path / "cache")
    assert "embedding" not in eng.query("**/*.md", "SELECT * FROM files")["columns"]
    assert eng.index_status()["indexed_count"] == 0
    eng.index_refresh()
    eng.index_wait(120)
    out = eng.query("**/*.md", "SELECT path FROM files WHERE embedding IS NOT NULL")
    assert out["row_count"] == 3


@pytest.mark.parametrize("wide_schema_limit", [None, 1])
def test_snapshot_hit_starts_no_semantic_jobs(spark, vault, tmp_path, wide_schema_limit):
    """With the index READY, a query that hits the snapshot starts no
    job beyond those of the same query with semantic search off: no
    store listing, no broadcast of the embedding side. ``wide_schema_limit=1``
    takes the per-query projection path of a wide vault."""
    kw = {"wide_schema_limit": wide_schema_limit}
    semantic = _ready_engine(spark, vault, tmp_path, **kw)
    plain = FrontmatterEngine(spark, vault, **kw)
    sqls = [
        "SELECT path, title FROM files WHERE CAST(rank AS INT) >= 1 ORDER BY path",
        "SELECT title, COUNT(*) AS n FROM files GROUP BY title ORDER BY title",
    ]
    for sql in sqls:
        for eng in (semantic, plain):
            eng.query("**/*.md", sql)  # warm the snapshot
        n_sem, out_sem = _jobs(spark, lambda: semantic.query("**/*.md", sql))
        n_plain, out_plain = _jobs(spark, lambda: plain.query("**/*.md", sql))
        assert out_sem == out_plain
        assert 0 < n_sem <= n_plain, (sql, n_sem, n_plain)
    # the embedding itself is served from the snapshot too
    n_emb, out = _jobs(
        spark,
        lambda: semantic.query(
            "**/*.md", "SELECT path FROM files WHERE embedding IS NOT NULL ORDER BY path"
        ),
    )
    assert [r["path"] for r in out["results"]] == ["n0.md", "n1.md", "n2.md"]
    assert n_emb <= n_plain


def test_index_status_reads_no_spark_when_empty(spark, vault, tmp_path):
    eng = FrontmatterEngine(spark, vault, semantic=True, cache_dir=tmp_path / "cache")
    n, status = _jobs(spark, eng.index_status)
    assert status == {"state": "idle", "indexed_count": 0}
    assert n == 0
    eng = _ready_engine(spark, vault, tmp_path)
    eng.index_status()
    n, status = _jobs(spark, eng.index_status)
    assert status["indexed_count"] == 3 and n == 0  # counted once per generation


def test_query_inspect_hit_is_one_aggregation(spark, vault, tmp_path):
    eng = FrontmatterEngine(spark, vault)
    first = eng.query_inspect("**/*.md")
    n, again = _jobs(spark, lambda: eng.query_inspect("**/*.md"))
    assert again == first
    assert first["file_count"] == 3
    assert len(first["warnings"]) == 1 and "bad.md" in first["warnings"][0]
    assert first["schema"]["rank"] == {"type": "string", "nullable": False, "examples": ["0", "1", "2"]}
    # one groupBy: its shuffle map stage and the result stage
    assert n <= 2


TEXTS = ["spark catalyst", "it''s a ''quoted'' word", "café naïve 日本語 ümlaut", ""]


@pytest.mark.parametrize("sql_text", TEXTS)
def test_folded_embed_is_bit_identical_to_udf(spark, vault, tmp_path, sql_text):
    eng = FrontmatterEngine(spark, vault, semantic=True, cache_dir=tmp_path / "cache")
    sql = f"SELECT embed('{sql_text}') AS v"
    folded = fold_embed_literals(sql, eng.model)
    assert "embed(" not in folded and "AS ARRAY<FLOAT>" in folded
    via_udf = spark.sql(sql).collect()[0].v
    via_fold = spark.sql(folded).collect()[0].v
    assert len(via_udf) == eng.model.get_dimension()
    assert _f32_bits(via_fold) == _f32_bits(via_udf)


def test_fold_leaves_non_literal_embed_untouched():
    model = EmbeddingModel()
    for sql in [
        "SELECT embed(title) FROM files",
        "SELECT 'embed(''x'')' AS s FROM files",
        "SELECT \"embed('x')\" AS s",
        "SELECT `embed('x')` FROM t",
        "SELECT x FROM files -- embed('x')",
        "SELECT embed('a' 'b')",
        "SELECT embed('a\\'b')",
        "SELECT my_embed('x'), t.embed('x')",
    ]:
        assert fold_embed_literals(sql, model) == sql
    folded = fold_embed_literals(
        "SELECT embed(title), 'embed(''x'')', EMBED ( 'x' ) FROM files", model
    )
    assert folded.startswith("SELECT embed(title), 'embed(''x'')', CAST(ARRAY(")
    assert folded.endswith(") AS ARRAY<FLOAT>) FROM files")


def test_semantic_topk_matches_udf_scores(spark, vault, tmp_path):
    """End to end: the engine's folded top-k gives the scores the UDF
    path gives over the same view."""
    eng = _ready_engine(spark, vault, tmp_path)
    sql = (
        "SELECT path, array_cosine_similarity(embedding, embed('catalyst optimizer')) AS score "
        "FROM files WHERE embedding IS NOT NULL ORDER BY score DESC, path LIMIT 2"
    )
    out = eng.query("**/*.md", sql)
    via_udf = [r.asDict() for r in spark.sql(sql).collect()]  # the view `files` is registered
    assert out["results"] == via_udf
    assert [r["path"] for r in out["results"]][0] in ("n0.md", "n2.md")
