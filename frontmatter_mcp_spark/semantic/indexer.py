"""Differential background indexer (reference: semantic/indexer.py:14-162).

State machine IDLE -> INDEXING -> READY, driven by a daemon thread so
tool calls never block (reference runs the same shape). The differential
diff — stale = new-or-modified paths, deleted = cached-but-gone — is
computed with Spark joins instead of Python dict diffs:

    listing (path, mtime, body)   LEFT JOIN  store (path, mtime)
      -> stale where store.path IS NULL OR store.mtime < listing.mtime
    store ANTI JOIN listing -> deleted

Encoding runs in a ``mapInPandas`` stage with an executor-local model
instance (lazy init per worker, reference's lazy-load behavior at
model.py:28-37) so the embedding work scales with executors.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from enum import Enum
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from frontmatter_mcp_spark.semantic.model import EmbeddingModel
from frontmatter_mcp_spark.semantic.store import STORE_SCHEMA, EmbeddingStore
from frontmatter_mcp_spark.sources.markdown import parsed_df


def encode_bodies(df: DataFrame, model: EmbeddingModel) -> DataFrame:
    """(path, mtime, body) -> (path, mtime, vector): Arrow-batched
    mapInPandas encode with an executor-local model instance (lazy init
    per worker, the reference's lazy-load behavior at model.py:28-37) —
    the embedding work scales with executors. Shared by the batch
    indexer and the streaming index maintainer."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vectors = model.encode(list(pdf["body"]))
            yield pd.DataFrame(
                {"path": pdf["path"], "mtime": pdf["mtime"], "vector": vectors}
            )

    return df.mapInPandas(encode, schema=STORE_SCHEMA)


def stream_index_vault(
    spark: SparkSession,
    base_dir: str | Path,
    store: EmbeddingStore,
    model: EmbeddingModel,
    checkpoint_dir: str | Path,
):
    """Continuous index maintenance: the ``frontmatter`` streaming
    source (each micro-batch emits only mtime-advanced files) feeding
    the embedding store through ``foreachBatch`` — the streaming
    counterpart of EmbeddingIndexer.refresh(), for vaults that change
    faster than a poll-and-diff cycle.

    Per batch: keep the latest (mtime, body) per path (a replayed or
    slow micro-batch can carry two versions of one file), encode with
    the shared mapInPandas stage, and ``store.upsert``. Crash safety
    composes from two halves: Spark replays an uncommitted micro-batch
    from the checkpointed offset, and the store's upsert is
    insert-or-replace by path under a manifest flip — re-upserting the
    same rows is a no-op — so the index converges to exactly the vault
    state despite restarts. Empty bodies are skipped (the reference
    skips them, indexer.py:134-148); deletions are out of scope for the
    append-only stream (the batch indexer's diff handles them on its
    next refresh).

    Returns the StreamingQuery; the caller drives it
    (``processAllAvailable`` locally, a real trigger in production).
    """
    from frontmatter_mcp_spark.sources.datasource import FrontmatterDataSource

    spark.dataSource.register(FrontmatterDataSource)  # idempotent re-register
    stream = (
        spark.readStream.format("frontmatter")
        .option("path", str(base_dir))
        .option("includeBody", "true")
        .load()
    )
    docs = stream.select(
        F.col("path"),
        F.col("_mtime").alias("mtime"),
        F.trim(F.col("_body")).alias("body"),
    ).filter(F.col("body").isNotNull() & (F.col("body") != ""))

    def encode_and_upsert(batch_df: DataFrame, batch_id: int) -> None:
        latest = (
            batch_df.groupBy("path")
            .agg(F.max(F.struct("mtime", "body")).alias("s"))
            .select("path", F.col("s.mtime").alias("mtime"), F.col("s.body").alias("body"))
        )
        store.upsert(encode_bodies(latest, model))

    return (
        docs.writeStream.foreachBatch(encode_and_upsert)
        .option("checkpointLocation", str(checkpoint_dir))
        .start()
    )


class IndexerState(str, Enum):
    IDLE = "idle"
    INDEXING = "indexing"
    READY = "ready"


class EmbeddingIndexer:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str | Path,
        glob: str,
        store: EmbeddingStore,
        model: EmbeddingModel,
    ) -> None:
        self.spark = spark
        self.base_dir = Path(base_dir)
        self.glob = glob
        self.store = store
        self.model = model
        self._state = IndexerState.IDLE
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self._error: str | None = None

    # -- state machine -----------------------------------------------------
    @property
    def state(self) -> IndexerState:
        with self._lock:
            return self._state

    def status(self) -> dict:
        st = self.state
        out = {"state": st.value, "indexed_count": self.store.count()}
        if self._error:
            out["error"] = self._error
        return out

    def start(self) -> bool:
        """Spawn the background index job; no-op if one is running
        (reference duplicate-start behavior)."""
        with self._lock:
            if self._state == IndexerState.INDEXING:
                return False
            self._state = IndexerState.INDEXING
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return True

    def wait(self, timeout: float | None = None) -> bool:
        t = self._thread
        if t is not None:
            t.join(timeout)
            return not t.is_alive()
        return True

    def refresh(self) -> bool:
        return self.start()

    # -- the index job -----------------------------------------------------
    def _run(self) -> None:
        try:
            self._index_files()
            self._error = None
        except Exception as e:  # noqa: BLE001
            self._error = f"{type(e).__name__}: {e}"
        finally:
            with self._lock:
                self._state = IndexerState.READY

    def _encode_stage(self, stale: DataFrame) -> DataFrame:
        # model is tiny and pickled into the closure; executor-local use
        return encode_bodies(stale, self.model)

    def _index_files(self) -> None:
        parsed = parsed_df(self.spark, self.base_dir, self.glob).filter(
            F.col("error").isNull()
        )
        # bodies: reference embeds the markdown body, skipping empty ones
        # (indexer.py:134-148)
        current = parsed.select(
            "path", "mtime", F.trim(F.col("body")).alias("body")
        ).filter(F.col("body") != "")
        _, indexed = self.store.current()
        cached = indexed.select(
            F.col("path").alias("c_path"), F.col("mtime").alias("c_mtime")
        )
        joined = current.join(cached, current.path == cached.c_path, "left")
        stale = joined.filter(
            F.col("c_path").isNull() | (F.col("c_mtime") < F.col("mtime"))
        ).select("path", "mtime", "body")
        deleted_rows = (
            indexed.join(parsed.select("path"), "path", "left_anti")
            .select("path")
            .collect()
        )
        # Materialize the encode stage to a staging parquet BEFORE mutating
        # the store: `stale` lazily references the current store snapshot,
        # and delete/upsert swap that snapshot's files out from under any
        # still-unevaluated plan (lazy-eval vs snapshot-swap hazard). With
        # a transactional table (Delta) this becomes a single MERGE.
        staging = str(self.store.store_dir / "staging.parquet")
        self._encode_stage(stale).write.mode("overwrite").parquet(staging)
        try:
            if deleted_rows:
                self.store.delete([r.path for r in deleted_rows])
            encoded = self.spark.read.schema(STORE_SCHEMA).parquet(staging)
            if encoded.limit(1).count() > 0:
                self.store.upsert(encoded)
        finally:
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
