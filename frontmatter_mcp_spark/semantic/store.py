"""Parquet-backed embedding store (reference: semantic/cache.py:14-240).

The reference persists embeddings in a DuckDB file DB
``embeddings(path PK, mtime, vector FLOAT[dim])`` plus model metadata;
the Spark-native equivalent is an immutable, manifest-committed parquet
layout, hash-bucketed by path::

    store_dir/manifest.json               <- THE commit point
    store_dir/embeddings.parquet/
        gen-000001/bucket=NN/part-*.parquet
        gen-000002/bucket=MM/part-*.parquet

Upsert/delete are **bucket-incremental**: only the buckets containing
touched paths are merged and rewritten — into a fresh immutable
generation directory — so a refresh that re-embeds k files writes
O(k/N_BUCKETS) of the store instead of all of it. The manifest maps
each bucket to the generation holding its current data; flipping the
manifest (write-aside + ``os.replace``, atomic on POSIX) commits every
touched bucket at once. That restores the reference's cross-bucket
snapshot isolation (its single-file DuckDB transaction,
cache.py:56-70,127-141) without a lakehouse table format: a reader
resolves the manifest once and sees the store entirely before or
entirely after a multi-bucket upsert, never mixed. This is the same
manifest-points-at-immutable-files commit protocol Iceberg/Delta use,
scaled down to one JSON file.

Superseded bucket directories are retired through the manifest and
physically deleted ``retention_commits`` commits later (default 1), so
a reader holding a manifest that many commits stale still resolves
every file it plans to scan (the scaled-down analogue of snapshot
expiry — raise it for longer-running concurrent readers).

**Multi-writer coordination**: every commit runs under an exclusive
``flock`` on ``store_dir/writer.lock`` and re-reads the manifest AFTER
acquiring it, so two writer processes on the same (shared) filesystem
serialize their read-merge-flip cycles instead of silently dropping
each other's buckets — the file-lock analogue of the lakehouse
optimistic-CAS commit (here pessimistic: merges re-read bucket state
under the lock, so there is nothing to retry). The reference's DuckDB
file DB gets the equivalent from DuckDB's own file locking.

**Time travel**: each commit also writes its manifest into
``manifests/manifest-NNNNNN.json``; ``read(at_generation=G)`` resolves
that snapshot as long as its bucket dirs survive the retention window
(history files past retention are pruned with them) — the scaled-down
Iceberg snapshot log.

Long-running writers strand live buckets across ever more generation
directories (one new generation per commit, each holding only the few
buckets that commit touched — the lakehouse small-file problem).
``compact()`` folds the buckets living in the OLDEST generations into
one fresh generation whenever the live-generation count exceeds a
bound; upsert/delete trigger it automatically, so the directory count
a reader must list — and the small-file count under it — stays
O(max_live_generations), not O(commits). Compaction reads only the
stranded old-generation buckets, never the whole store, so its cost is
incremental at any scale.

The bucket id is the first 4 md5 hex digits of the path mod N_BUCKETS —
engine-portable and stable across Spark versions — and is recomputed
from ``path`` at read time, so bucket pruning is pure path selection:
reading 3 buckets lists 3 directories, no partition discovery pass.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

STORE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("mtime", T.DoubleType(), False),
        T.StructField("vector", T.ArrayType(T.FloatType()), False),
    ]
)

N_BUCKETS = 64

_EMPTY_MANIFEST: dict = {"gen": 0, "buckets": {}, "retired": []}


def path_bucket(col: Column) -> Column:
    """Stable, engine-portable bucket id for a path."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("int") % N_BUCKETS


def _retired_entry(e: list) -> tuple[str, int, int]:
    """(gen, bucket, retired_at_commit) from a manifest retired entry;
    2-element entries predate the retention policy (retired_at 0 —
    immediately past any grace window)."""
    return str(e[0]), int(e[1]), int(e[2]) if len(e) > 2 else 0


class EmbeddingStore:
    # live-generation bound before upsert/delete trigger a compaction
    MAX_LIVE_GENERATIONS = 16

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str | Path,
        model_name: str,
        dim: int,
        retention_commits: int = 1,
    ) -> None:
        self.spark = spark
        self.store_dir = Path(store_dir)
        self.data_dir = self.store_dir / "embeddings.parquet"
        self.meta_path = self.store_dir / "metadata.json"
        self.manifest_path = self.store_dir / "manifest.json"
        self.history_dir = self.store_dir / "manifests"
        self.lock_path = self.store_dir / "writer.lock"
        self.model_name = model_name
        self.dim = dim
        self.retention_commits = max(1, retention_commits)
        self._lock_state = threading.local()
        # per-generation memos of current() and count()
        self._current: tuple[int, DataFrame] | None = None
        self._count: tuple[int, int] | None = None
        self.store_dir.mkdir(parents=True, exist_ok=True)
        # open-time maintenance mutates shared state (clear() on model
        # change; _recover() deletes staging/unreferenced dirs) — without
        # the writer lock, opening a second handle could rmtree another
        # process's in-flight staging write or just-renamed generation
        with self._writer_lock():
            self._check_model_metadata()
            self._recover()

    @contextlib.contextmanager
    def _writer_lock(self):
        """Exclusive flock serializing the whole read-merge-flip cycle
        across writer PROCESSES on a shared filesystem (pessimistic
        analogue of the lakehouse CAS commit — merges re-read bucket
        state under the lock, so there is no retry path). Re-entrant
        within one THREAD of this instance (compact() runs inside
        upsert's lock); the depth counter is thread-local, so a second
        thread sharing the instance falls through to the flock and
        blocks — flock conflicts between file descriptions, which two
        open() calls in one process are — instead of being mistaken for
        a re-entrant call and skipping the lock."""
        depth = getattr(self._lock_state, "depth", 0)
        if depth > 0:
            self._lock_state.depth = depth + 1
            try:
                yield
            finally:
                self._lock_state.depth -= 1
            return
        import fcntl

        self.lock_path.touch(exist_ok=True)
        with open(self.lock_path) as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            self._lock_state.depth = 1
            try:
                yield
            finally:
                self._lock_state.depth = 0
                fcntl.flock(fh, fcntl.LOCK_UN)

    # -- model-change invalidation (reference cache.py metadata tables) ----
    def _check_model_metadata(self) -> None:
        if self.meta_path.exists():
            meta = json.loads(self.meta_path.read_text())
            if meta.get("model") != self.model_name or meta.get("dim") != self.dim:
                self.clear()
        self.meta_path.write_text(json.dumps({"model": self.model_name, "dim": self.dim}))

    # -- manifest ----------------------------------------------------------
    def _load_manifest(self) -> dict:
        try:
            return json.loads(self.manifest_path.read_text())
        except (OSError, ValueError):
            return dict(_EMPTY_MANIFEST)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = Path(str(self.manifest_path) + ".tmp")
        tmp.write_text(json.dumps(manifest, sort_keys=True))
        os.replace(tmp, self.manifest_path)
        # snapshot log: every committed manifest is also kept under its
        # generation number while the dirs it references survive the
        # retention window (the scaled-down Iceberg snapshot log)
        self.history_dir.mkdir(exist_ok=True)
        (self.history_dir / f"manifest-{manifest['gen']:06d}.json").write_text(
            json.dumps(manifest, sort_keys=True)
        )
        for old in self.history_dir.glob("manifest-*.json"):
            try:
                g = int(old.stem.split("-", 1)[1])
            except ValueError:
                continue
            if manifest["gen"] - g > self.retention_commits:
                old.unlink(missing_ok=True)

    def _load_manifest_at(self, generation: int) -> dict:
        p = self.history_dir / f"manifest-{generation:06d}.json"
        if not p.exists():
            raise ValueError(
                f"snapshot {generation} is not in the retention window "
                f"(retention_commits={self.retention_commits}); "
                f"available: {sorted(h.stem for h in self.history_dir.glob('manifest-*.json')) if self.history_dir.exists() else []}"
            )
        return json.loads(p.read_text())

    def _bucket_dir(self, gen: str, bucket: int) -> Path:
        return self.data_dir / gen / f"bucket={bucket}"

    # -- crash recovery ----------------------------------------------------
    def _recover(self) -> None:
        """Delete data the manifest does not reference: stray staging
        dirs, a generation renamed into place whose manifest flip never
        landed, and retired bucket dirs whose physical deletion crashed
        mid-way. The manifest is the sole source of truth, so recovery
        never has to *restore* anything — unreferenced files are garbage
        by construction."""
        if not self.data_dir.exists():
            return
        m = self._load_manifest()
        live = {(g, int(b)) for b, g in m["buckets"].items()}
        grace = {(g, b) for g, b, _ in map(_retired_entry, m["retired"])}
        referenced = live | grace
        for gen_dir in self.data_dir.glob("gen-*"):
            if gen_dir.name.endswith(".staging"):
                shutil.rmtree(gen_dir, ignore_errors=True)
                continue
            kept = False
            for bdir in gen_dir.glob("bucket=*"):
                b = int(bdir.name.split("=", 1)[1])
                if (gen_dir.name, b) in referenced:
                    kept = True
                else:
                    shutil.rmtree(bdir, ignore_errors=True)
            if not kept:
                shutil.rmtree(gen_dir, ignore_errors=True)

    # -- reads -------------------------------------------------------------
    def _read_with_bucket(
        self, buckets: list[int] | None = None, manifest: dict | None = None
    ) -> DataFrame | None:
        """Snapshot resolved through the manifest (optionally restricted
        to ``buckets`` — pruning is pure path selection), or None when
        empty. ``bucket`` is recomputed from ``path``, not stored."""
        m = self._load_manifest() if manifest is None else manifest
        entries = [
            (int(b), g)
            for b, g in m["buckets"].items()
            if buckets is None or int(b) in buckets
        ]
        dirs = [str(self._bucket_dir(g, b)) for b, g in entries]
        if not dirs:
            return None
        return (
            self.spark.read.schema(STORE_SCHEMA)
            .parquet(*dirs)
            .withColumn("bucket", path_bucket(F.col("path")))
        )

    def read(self, at_generation: int | None = None) -> DataFrame:
        """Current snapshot — or, with ``at_generation``, the store as of
        that committed generation (time travel; raises a directed error
        once the snapshot has aged past the retention window). Empty
        (schema-stable) when nothing indexed."""
        manifest = (
            None if at_generation is None else self._load_manifest_at(at_generation)
        )
        df = self._read_with_bucket(manifest=manifest)
        if df is None:
            return self.spark.createDataFrame([], STORE_SCHEMA)
        return df.select("path", "mtime", "vector")

    def current_generation(self) -> int:
        return int(self._load_manifest()["gen"])

    def current(self) -> tuple[int, DataFrame]:
        """``(generation, rows)`` of the committed store, resolved once
        per generation. ``read()`` lists every live bucket directory —
        past 32 paths that is a parallel listing job — so readers of the
        current snapshot share one resolved frame until a commit moves
        the generation. The label is read before the rows, so the rows
        are never older than it and a reader that sees the generation
        move re-resolves; racing threads (the background indexer) at
        worst resolve one generation twice."""
        gen = self.current_generation()
        if self._current is None or self._current[0] != gen:
            self._current = (gen, self.read())
        return self._current

    def count(self) -> int:
        """Indexed rows: no Spark job when nothing is indexed, else one
        count per generation over the ``current()`` frame."""
        if not self._load_manifest()["buckets"]:
            return 0
        gen, rows = self.current()
        if self._count is None or self._count[0] != gen:
            self._count = (gen, rows.count())
        return self._count[1]

    # -- writes ------------------------------------------------------------
    def _affected_buckets(self, paths_df: DataFrame) -> list[int]:
        rows = paths_df.select(path_bucket(F.col("path")).alias("b")).distinct().collect()
        return sorted(r.b for r in rows)

    def _commit(self, merged: DataFrame, buckets: list[int]) -> None:
        """Write the merged rows of ``buckets`` into a fresh generation
        (the staging write executes the full merge plan while every
        directory it reads is immutable), then commit all touched
        buckets at once by flipping the manifest. Bucket dirs the new
        manifest supersedes enter its ``retired`` list stamped with this
        commit number; entries ``retention_commits`` commits old are
        deleted now — that many commits of grace for concurrent readers.
        A touched bucket with no surviving rows simply leaves the
        manifest."""
        if not buckets:
            return
        m = self._load_manifest()
        commit_no = m["gen"] + 1
        gen = f"gen-{commit_no:06d}"
        staging = self.data_dir / (gen + ".staging")
        shutil.rmtree(staging, ignore_errors=True)
        (
            merged.withColumn("bucket", path_bucket(F.col("path")))
            .repartition("bucket")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(str(staging))
        )
        # a prior attempt that crashed between this rename and its
        # manifest flip leaves the gen dir stranded (unreferenced by
        # construction — the manifest's gen counter never advanced);
        # os.replace onto a non-empty dir raises ENOTEMPTY and would
        # wedge every subsequent write until the store is reopened
        shutil.rmtree(self.data_dir / gen, ignore_errors=True)
        os.replace(staging, self.data_dir / gen)

        written = {
            int(d.name.split("=", 1)[1]) for d in (self.data_dir / gen).glob("bucket=*")
        }
        newly_retired = []
        new_buckets = dict(m["buckets"])
        for b in buckets:
            prev = new_buckets.pop(str(b), None)
            if prev is not None:
                newly_retired.append([prev, b, commit_no])
            if b in written:
                new_buckets[str(b)] = gen
        if not written:
            shutil.rmtree(self.data_dir / gen, ignore_errors=True)
        carried, expired = [], []
        for g, b, at in map(_retired_entry, m["retired"]):
            if commit_no - at >= self.retention_commits:
                expired.append((g, b))
            else:
                carried.append([g, b, at])
        self._write_manifest(
            {
                "gen": commit_no,
                "buckets": new_buckets,
                "retired": carried + newly_retired,
            }
        )
        # physical deletion of retirements past the grace window
        for old_gen, b in expired:
            shutil.rmtree(self._bucket_dir(old_gen, b), ignore_errors=True)
            gen_dir = self.data_dir / old_gen
            if gen_dir.exists() and not any(gen_dir.glob("bucket=*")):
                shutil.rmtree(gen_dir, ignore_errors=True)

    def live_generations(self) -> list[str]:
        """Generation dirs the current manifest references as live."""
        return sorted(set(self._load_manifest()["buckets"].values()))

    def vacuum(self) -> int:
        """Prune retired bucket dirs and snapshot-log entries that have
        aged past the CURRENT retention policy, without committing new
        data. Scheduled deletion runs only at commit time, so an
        operator who LOWERS retention_commits on an existing store (or
        stops writing entirely) calls this to reclaim space now.
        Returns the number of bucket dirs physically removed."""
        with self._writer_lock():
            m = self._load_manifest()
            commit_no = int(m["gen"])
            carried, expired = [], []
            for g, b, at in map(_retired_entry, m["retired"]):
                if commit_no - at >= self.retention_commits:
                    expired.append((g, b))
                else:
                    carried.append([g, b, at])
            if expired:
                self._write_manifest(
                    {"gen": commit_no, "buckets": m["buckets"], "retired": carried}
                )
                for old_gen, b in expired:
                    shutil.rmtree(self._bucket_dir(old_gen, b), ignore_errors=True)
                    gen_dir = self.data_dir / old_gen
                    if gen_dir.exists() and not any(gen_dir.glob("bucket=*")):
                        shutil.rmtree(gen_dir, ignore_errors=True)
            if self.history_dir.exists():
                for old in self.history_dir.glob("manifest-*.json"):
                    try:
                        g = int(old.stem.split("-", 1)[1])
                    except ValueError:
                        continue
                    if commit_no - g > self.retention_commits:
                        old.unlink(missing_ok=True)
            return len(expired)

    def compact(self, max_live_gens: int | None = None) -> bool:
        """Fold buckets stranded in old generations into one fresh
        generation whenever live data is spread over more than
        ``max_live_gens`` generation dirs. Only the buckets living in
        the oldest generations are read and rewritten (the newest
        ``max_live_gens - 1`` generations are untouched), so each pass
        is incremental — never a full-store rewrite. Returns whether a
        compaction ran."""
        limit = self.MAX_LIVE_GENERATIONS if max_live_gens is None else max_live_gens
        with self._writer_lock():
            m = self._load_manifest()
            gens = sorted(set(m["buckets"].values()))
            if len(gens) <= limit:
                return False
            keep = set(gens[-(limit - 1):]) if limit > 1 else set()
            old_buckets = sorted(
                int(b) for b, g in m["buckets"].items() if g not in keep
            )
            current = self._read_with_bucket(old_buckets)
            if current is None:
                return False
            self._commit(current.select("path", "mtime", "vector"), old_buckets)
            return True

    def upsert(self, records: DataFrame) -> None:
        """Insert-or-replace by path (reference cache.py:127-141): new
        records win over existing rows with the same path. Only the hash
        buckets containing the new paths are read and rewritten."""
        records = records.select("path", "mtime", "vector")
        buckets = self._affected_buckets(records)
        if not buckets:
            return
        with self._writer_lock():
            current = self._read_with_bucket(buckets)
            if current is None:
                merged = records
            else:
                merged = (
                    current.select("path", "mtime", "vector")
                    .join(records.select("path"), "path", "left_anti")
                    .unionByName(records)
                )
            self._commit(merged, buckets)
            self.compact()

    def delete(self, paths: list[str]) -> None:
        if not paths:
            return
        paths_df = self.spark.createDataFrame([(p,) for p in paths], "path string")
        buckets = self._affected_buckets(paths_df)
        with self._writer_lock():
            current = self._read_with_bucket(buckets)
            if current is None:
                return
            survivors = current.select("path", "mtime", "vector").filter(
                ~F.col("path").isin(paths)
            )
            self._commit(survivors, buckets)
            self.compact()

    def clear(self) -> None:
        with_manifest = Path(str(self.manifest_path) + ".tmp")
        for p in (self.manifest_path, with_manifest):
            try:
                os.remove(p)
            except OSError:
                pass
        shutil.rmtree(self.history_dir, ignore_errors=True)
        shutil.rmtree(self.data_dir, ignore_errors=True)
