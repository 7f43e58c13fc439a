"""FrontmatterEngine — the public tool surface of the engine.

Mirrors the reference MCP server's 11 tools (server.py:121-675) with the
same parameters and response dicts, so behavior is externally checkable:

  query(glob, sql)            -> {results, row_count, columns[, warnings]}
  query_inspect(glob)         -> {file_count, schema}
  update(path, set, unset)    -> {path, frontmatter[, warnings]}
  batch_update(glob, set, unset)
  batch_array_add/remove/replace/sort/unique(glob, property, ...)
                              -> {updated_count, updated_files[, warnings]}
  index_status/index_wait/index_refresh (when semantic search enabled)

Execution model: the ``files`` table is a DataFrame pipeline
(listing -> mapInPandas parse -> key-union pivot -> temp view) and user
SQL goes verbatim (modulo the documented dialect shim) to ``spark.sql``
— Catalyst plans it, exactly as the reference hands SQL to DuckDB
(query.py:72). A one-entry snapshot cache plays the role of the
reference's mtime parse cache: an unchanged vault never re-parses. Its
key is (glob + listing signature, embedding-store generation when the
index is READY else None), so the semantic ``embedding`` column is
joined once per index generation, as the reference adds it once per
load, and a query that hits the snapshot runs only its own Spark jobs.
Only inputs are cached: every query's result is computed afresh.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from frontmatter_mcp_spark import files as fm
from frontmatter_mcp_spark import mutations as mut
from frontmatter_mcp_spark import query_schema as qs
from frontmatter_mcp_spark.functions.sqlfuncs import register_sql_functions
from frontmatter_mcp_spark.plans.dialect import translate
from frontmatter_mcp_spark.semantic.indexer import EmbeddingIndexer, IndexerState
from frontmatter_mcp_spark.semantic.model import EmbeddingModel
from frontmatter_mcp_spark.semantic.query import (
    attach_embeddings,
    fold_embed_literals,
    register_embed_udf,
)
from frontmatter_mcp_spark.semantic.store import EmbeddingStore
from frontmatter_mcp_spark.sources import markdown as md


def _build_response(base: dict[str, Any], warnings: list[str]) -> dict[str, Any]:
    """Attach warnings only when non-empty (reference server.py:39-46)."""
    if warnings:
        return {**base, "warnings": warnings}
    return base


def _referenced_identifiers(sql: str) -> set[str]:
    """Lexical superset of the identifiers a SQL string references —
    bare words plus backtick/double-quoted names, with '*' recorded for
    SELECT *. Used only to NARROW the wide-vault projection, so over-
    approximation is safe (an extra column costs a map lookup; a missed
    one would break the query)."""
    import re

    ids = set(re.findall(r"`([^`]+)`", sql))
    ids |= set(re.findall(r'"([^"]+)"', sql))
    ids |= set(re.findall(r"\b\w+\b", sql))
    if "*" in sql:
        ids.add("*")
    return ids


@dataclass
class _Snapshot:
    """The cached inputs of the ``files`` view for one snapshot key."""

    parsed: DataFrame  # cached parse; depends on the listing alone
    base: DataFrame  # ``parsed``, or a cached copy with ``embedding`` joined
    files_df: DataFrame | None  # the full pivot; None when the vault is wide
    keys: list[str]
    warnings: list[str]
    file_count: int


class FrontmatterEngine:
    #: key-count threshold above which the files view stops pivoting
    #: EVERY frontmatter key into a column and instead projects only the
    #: keys each query references (SURVEY §7.4: thousands of distinct
    #: keys would otherwise build a thousands-of-columns row — Catalyst
    #: analysis cost and row width both blow up)
    WIDE_SCHEMA_LIMIT = 512

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str | Path,
        semantic: bool = False,
        model: EmbeddingModel | None = None,
        cache_dir: str | Path | None = None,
        wide_schema_limit: int | None = None,
        max_rows: int | None = None,
        distributed_mutation_threshold: int = 1000,
    ) -> None:
        self.spark = spark
        self.base_dir = Path(base_dir)
        self.max_rows = max_rows
        self.distributed_mutation_threshold = distributed_mutation_threshold
        self.wide_schema_limit = (
            wide_schema_limit if wide_schema_limit is not None else self.WIDE_SCHEMA_LIMIT
        )
        from frontmatter_mcp_spark.session import ship_package_to_executors

        ship_package_to_executors(spark)  # user-supplied sessions too
        register_sql_functions(spark)
        # (listing signature, READY store generation or None)
        self._snapshot_key: tuple | None = None
        self._snapshot: _Snapshot | None = None

        self.semantic_enabled = semantic
        self.indexer: EmbeddingIndexer | None = None
        self.store: EmbeddingStore | None = None
        if semantic:
            self.model = model or EmbeddingModel()
            from frontmatter_mcp_spark.settings import DEFAULT_CACHE_DIR_NAME

            cache = (
                Path(cache_dir)
                if cache_dir
                else self.base_dir / DEFAULT_CACHE_DIR_NAME
            )
            self.store = EmbeddingStore(
                spark, cache, self.model.name, self.model.get_dimension()
            )
            self.indexer = EmbeddingIndexer(
                spark, self.base_dir, "**/*.md", self.store, self.model
            )
            register_embed_udf(spark, self.model)

    @classmethod
    def from_settings(
        cls, spark: SparkSession, settings: "Settings | None" = None
    ) -> "FrontmatterEngine":
        """Build an engine from FRONTMATTER_* environment variables —
        the reference server's construction path (settings.py:12-51 +
        dependencies.py:19-46): base dir, semantic enable flag, model
        name, and cache dir all come from the environment."""
        from frontmatter_mcp_spark.settings import get_settings

        s = settings or get_settings()
        model = None
        if s.enable_semantic:
            model = EmbeddingModel(model_name=s.embedding_model)
        return cls(
            spark,
            s.base_dir,
            semantic=s.enable_semantic,
            model=model,
            cache_dir=s.cache_dir if s.enable_semantic else None,
            max_rows=s.max_rows,
        )

    # ------------------------------------------------------------------
    # files-table construction with the snapshot cache (A3/A4)
    # ------------------------------------------------------------------
    def _listing_signature(self, glob: str) -> tuple:
        paths = fm.collect_files(self.base_dir, glob)
        return (
            glob,
            tuple((p.relative_to(self.base_dir).as_posix(), p.stat().st_mtime) for p in paths),
        )

    def _index_generation(self) -> int | None:
        """The store generation the ``embedding`` column shows: None
        (no column) unless the index is READY."""
        if self.indexer is not None and self.indexer.state == IndexerState.READY:
            return self.store.current_generation()
        return None

    def _snapshot_for(self, glob: str) -> _Snapshot:
        sig = self._listing_signature(glob)
        # a second pass rebuilds once if the background indexer
        # committed while the first one materialized the join
        for _ in range(2):
            key = (sig, self._index_generation())
            if key == self._snapshot_key:
                break
            self._load_snapshot(glob, key)
        assert self._snapshot is not None
        return self._snapshot

    def _load_snapshot(self, glob: str, key: tuple) -> None:
        old = self._snapshot
        if old is not None and self._snapshot_key[0] == key[0]:
            # same listing, new generation: keep the parse, re-join
            if old.base is not old.parsed:
                old.base.unpersist()
            parsed, keys, warnings, file_count = old.parsed, old.keys, old.warnings, old.file_count
        else:
            self.invalidate()
            # the body is the indexer's input, never the view's
            parsed = md.parsed_df(self.spark, self.base_dir, glob).drop("body")
            parsed.cache()
            keys, warnings, file_count = md.parse_summary(parsed)
        base = parsed
        if key[1] is not None:
            _, rows = self.store.current()
            base = attach_embeddings(parsed, rows).cache()
            base.count()  # materialize while the generation's files are live
        # narrow vaults pivot every key once; wide vaults (>
        # wide_schema_limit keys) defer to a per-query projection of
        # only the referenced keys
        files_df = md.files_dataframe(base, keys) if len(keys) <= self.wide_schema_limit else None
        self._snapshot_key = key
        self._snapshot = _Snapshot(parsed, base, files_df, keys, warnings, file_count)

    def _build_files(self, glob: str, sql: str) -> tuple[DataFrame, list[str]]:
        snap = self._snapshot_for(glob)
        if snap.files_df is not None:
            return snap.files_df, snap.warnings
        refs = _referenced_identifiers(sql)
        use = snap.keys if "*" in refs else sorted(set(snap.keys) & refs)  # SELECT *: full width
        return md.files_dataframe(snap.base, use), snap.warnings

    def invalidate(self) -> None:
        snap = self._snapshot
        if snap is not None:
            snap.parsed.unpersist()
            if snap.base is not snap.parsed:
                snap.base.unpersist()
        self._snapshot = None
        self._snapshot_key = None

    # ------------------------------------------------------------------
    # query tools
    # ------------------------------------------------------------------
    def query(self, glob: str, sql: str) -> dict[str, Any]:
        """The main entry point (reference server.py:121-169)."""
        files_df, warnings = self._build_files(glob, sql)
        files_df.createOrReplaceTempView("files")
        spark_sql = translate(sql)
        if self.semantic_enabled:
            spark_sql = fold_embed_literals(spark_sql, self.model)
        result = self.spark.sql(spark_sql)
        if self.max_rows is None:
            # the reference's response contract: the full result, collected
            rows = [r.asDict(recursive=True) for r in result.collect()]
        else:
            # driver-OOM escape hatch for vault-scale SELECT *: stream
            # partitions through the driver and stop at the cap instead of
            # materializing the whole result (collect() of an unbounded
            # query over a 100 TB corpus would OOM the driver)
            import itertools

            it = result.toLocalIterator(prefetchPartitions=False)
            rows = [r.asDict(recursive=True) for r in itertools.islice(it, self.max_rows + 1)]
            if len(rows) > self.max_rows:
                rows = rows[: self.max_rows]
                warnings = warnings + [
                    f"result truncated to max_rows={self.max_rows}; add a "
                    "LIMIT (with ORDER BY for determinism) to control which "
                    "rows are returned"
                ]
        return _build_response(
            {"results": rows, "row_count": len(rows), "columns": result.columns},
            warnings,
        )

    def query_inspect(self, glob: str) -> dict[str, Any]:
        """Schema advertisement (reference server.py:87-118)."""
        snap = self._snapshot_for(glob)
        schema = qs.create_base_schema(snap.parsed, snap.file_count)
        if (
            self.semantic_enabled
            and self.indexer is not None
            and self.indexer.state == IndexerState.READY
        ):
            schema = qs.add_semantic_schema(schema, self.model.get_dimension())
        return _build_response(
            {"file_count": snap.file_count, "schema": schema}, snap.warnings
        )

    # ------------------------------------------------------------------
    # mutation tools (driver-side filesystem ops; warnings contract)
    # ------------------------------------------------------------------
    def update(
        self,
        path: str,
        set: dict[str, Any] | None = None,  # noqa: A002 — reference param name
        unset: list[str] | None = None,
    ) -> dict[str, Any]:
        abs_path = fm.resolve_path(self.base_dir, path)
        out = fm.update_file(abs_path, self.base_dir, set, unset)
        self.invalidate()
        return out

    def _dispatch_mutation(
        self, glob: str, distributed: bool | None
    ) -> tuple[bool, list[Path] | None]:
        """Auto-dispatch rule for the batch mutation tools: an explicit
        flag wins; otherwise rewrite executor-parallel once the glob
        matches at least `distributed_mutation_threshold` files (below
        that, Spark job overhead exceeds the driver loop; both paths
        produce byte-identical files and responses — tested). Returns
        the listing the decision walked (None when the explicit flag
        skipped it) so the driver-loop path reuses it instead of
        re-walking the vault."""
        if distributed is not None:
            return distributed, None
        files = fm.collect_files(self.base_dir, glob)
        return len(files) >= self.distributed_mutation_threshold, files

    def batch_update(
        self,
        glob: str,
        set: dict[str, Any] | None = None,  # noqa: A002
        unset: list[str] | None = None,
        distributed: bool | None = None,
    ) -> dict[str, Any]:
        use_dist, files = self._dispatch_mutation(glob, distributed)
        if use_dist:
            return self.batch_update_distributed(glob, set, unset)
        updated, warnings = [], []
        for p in files if files is not None else fm.collect_files(self.base_dir, glob):
            rel = p.relative_to(self.base_dir).as_posix()
            try:
                out = fm.update_file(p, self.base_dir, set, unset)
                # every successfully processed file counts as updated,
                # even a no-op set (reference server.py:294-306)
                updated.append(out["path"])
            except Exception as e:  # noqa: BLE001 — partial success contract
                warnings.append(f"Failed to update {rel}: {e}")
        self.invalidate()
        return _build_response(
            {"updated_count": len(updated), "updated_files": updated}, warnings
        )

    def batch_update_distributed(
        self,
        glob: str,
        set: dict[str, Any] | None = None,  # noqa: A002
        unset: list[str] | None = None,
    ) -> dict[str, Any]:
        """Scale path for A12: the per-file rewrite runs as a mapInPandas
        stage on executors (same semantics and warnings contract as
        batch_update). In local mode both paths touch the same
        filesystem; on a cluster this is the one that works when the
        vault lives on shared/object storage mounted on executors."""
        from frontmatter_mcp_spark.sources.markdown import listing_df

        base_dir = self.base_dir
        set_props, unset_props = set, unset

        def rewrite(batches):
            import pandas as pd

            from frontmatter_mcp_spark import files as _fm

            for pdf in batches:
                paths, changed, warnings = [], [], []
                for abs_path, rel in zip(pdf["abs_path"], pdf["path"]):
                    try:
                        _fm.update_file(Path(abs_path), base_dir, set_props, unset_props)
                        paths.append(rel)
                        # success == updated (reference server.py:294-306)
                        changed.append(True)
                        warnings.append(None)
                    except Exception as e:  # noqa: BLE001 — partial success
                        paths.append(rel)
                        changed.append(False)
                        warnings.append(f"Failed to update {rel}: {e}")
                yield pd.DataFrame({"path": paths, "changed": changed, "warning": warnings})

        status = listing_df(self.spark, self.base_dir, glob).mapInPandas(
            rewrite, schema="path string, changed boolean, warning string"
        )
        rows = status.collect()
        self.invalidate()
        updated = sorted(r.path for r in rows if r.changed)
        warnings = [r.warning for r in rows if r.warning]
        return _build_response(
            {"updated_count": len(updated), "updated_files": updated}, warnings
        )

    def _batch_array_op(
        self, glob: str, prop: str, op, files: list[Path] | None = None
    ) -> dict[str, Any]:
        updated, warnings = [], []
        for p in files if files is not None else fm.collect_files(self.base_dir, glob):
            rel = p.relative_to(self.base_dir).as_posix()
            try:
                content = p.read_text(encoding="utf-8")
                doc = fm.parse_document(content)
                metadata, body = dict(doc["metadata"]), doc["body"]
                current = metadata.get(prop)
                new_value, changed, warning = op(current, rel)
                if warning:
                    warnings.append(warning)
                if changed:
                    metadata[prop] = new_value
                    p.write_text(fm.dump_document(metadata, body), encoding="utf-8")
                    updated.append(rel)
            except Exception as e:  # noqa: BLE001
                warnings.append(f"Failed to update {rel}: {e}")
        self.invalidate()
        return _build_response(
            {"updated_count": len(updated), "updated_files": updated}, warnings
        )

    def _batch_array_op_distributed(self, glob: str, prop: str, op) -> dict[str, Any]:
        """Executor-parallel variant of _batch_array_op: the per-file
        parse → mutate → rewrite runs as a mapInPandas stage over the
        listing (same design as batch_update_distributed, engine.py:186).
        `op` is a pure (current, rel) -> (new, changed, warning) closure
        from mutations.py, shipped to executors by cloudpickle. A
        million-file vault mutates at cluster parallelism instead of
        single-threaded on the driver; semantics and the warnings /
        partial-success contract are identical (asserted by
        tests/test_engine_mutations.py against the driver path)."""
        from frontmatter_mcp_spark.sources.markdown import listing_df

        def rewrite(batches):
            import pandas as pd

            from frontmatter_mcp_spark import files as _fm

            for pdf in batches:
                paths, changed, warns = [], [], []
                for abs_path, rel in zip(pdf["abs_path"], pdf["path"]):
                    try:
                        p = Path(abs_path)
                        doc = _fm.parse_document(p.read_text(encoding="utf-8"))
                        metadata, body = dict(doc["metadata"]), doc["body"]
                        new_value, chg, warning = op(metadata.get(prop), rel)
                        if chg:
                            metadata[prop] = new_value
                            p.write_text(
                                _fm.dump_document(metadata, body), encoding="utf-8"
                            )
                        paths.append(rel)
                        changed.append(chg)
                        warns.append(warning)
                    except Exception as e:  # noqa: BLE001 — partial success
                        paths.append(rel)
                        changed.append(False)
                        warns.append(f"Failed to update {rel}: {e}")
                yield pd.DataFrame({"path": paths, "changed": changed, "warning": warns})

        status = listing_df(self.spark, self.base_dir, glob).mapInPandas(
            rewrite, schema="path string, changed boolean, warning string"
        )
        rows = status.collect()
        self.invalidate()
        updated = sorted(r.path for r in rows if r.changed)
        warnings = sorted(r.warning for r in rows if r.warning)
        return _build_response(
            {"updated_count": len(updated), "updated_files": updated}, warnings
        )

    def batch_array_add(
        self,
        glob: str,
        property: str,  # noqa: A002
        value: Any,
        allow_duplicates: bool = False,
        distributed: bool | None = None,
    ) -> dict[str, Any]:
        return self._run_array_op(
            glob,
            property,
            distributed,
            lambda cur, rel: mut.add_value(
                cur, value, path=rel, prop=property, allow_duplicates=allow_duplicates
            ),
        )

    def _run_array_op(
        self, glob: str, prop: str, distributed: bool | None, op
    ) -> dict[str, Any]:
        use_dist, files = self._dispatch_mutation(glob, distributed)
        if use_dist:
            return self._batch_array_op_distributed(glob, prop, op)
        return self._batch_array_op(glob, prop, op, files=files)

    def batch_array_remove(
        self, glob: str, property: str, value: Any, distributed: bool | None = None  # noqa: A002
    ) -> dict[str, Any]:
        return self._run_array_op(
            glob,
            property,
            distributed,
            lambda cur, rel: mut.remove_value(cur, value, path=rel, prop=property),
        )

    def batch_array_replace(
        self,
        glob: str,
        property: str,  # noqa: A002
        old_value: Any,
        new_value: Any,
        distributed: bool | None = None,
    ) -> dict[str, Any]:
        return self._run_array_op(
            glob,
            property,
            distributed,
            lambda cur, rel: mut.replace_value(
                cur, old_value, new_value, path=rel, prop=property
            ),
        )

    def batch_array_sort(
        self, glob: str, property: str, reverse: bool = False, distributed: bool | None = None  # noqa: A002
    ) -> dict[str, Any]:
        return self._run_array_op(
            glob,
            property,
            distributed,
            lambda cur, rel: mut.sort_values(cur, path=rel, prop=property, reverse=reverse),
        )

    def batch_array_unique(
        self, glob: str, property: str, distributed: bool | None = None  # noqa: A002
    ) -> dict[str, Any]:
        return self._run_array_op(
            glob,
            property,
            distributed,
            lambda cur, rel: mut.unique_values(cur, path=rel, prop=property),
        )

    # ------------------------------------------------------------------
    # index tools (reference server.py:172-234)
    # ------------------------------------------------------------------
    def index_status(self) -> dict[str, Any]:
        if not self.indexer:
            return {"state": "disabled"}
        return self.indexer.status()

    def index_wait(self, timeout: float | None = None) -> dict[str, Any]:
        if not self.indexer:
            return {"state": "disabled"}
        completed = self.indexer.wait(timeout)
        return {**self.indexer.status(), "completed": completed}

    def index_refresh(self) -> dict[str, Any]:
        if not self.indexer:
            return {"state": "disabled"}
        started = self.indexer.refresh()
        return {**self.indexer.status(), "started": started}
