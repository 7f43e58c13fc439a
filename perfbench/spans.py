"""Spans recorded from outside the program.

``Tracer.install`` wraps the calls the engine makes through a module
or class attribute at each layer boundary; every wrapper records one
span (name, start, end, parent, op id) into an in-memory list that is
read once the run ends. ``layer_times`` turns the spans of one op into
self time per layer: a span's duration minus what its child spans
cover, with Spark's generic calls (``SparkSession.sql``,
``DataFrame.collect``) charged to the layer that made them.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

ENGINE_TOOLS = (
    "query", "query_inspect", "update", "batch_update", "batch_array_add",
    "batch_array_remove", "batch_array_replace", "batch_array_sort",
    "batch_array_unique", "index_status", "index_wait", "index_refresh",
)

# span name -> layer; None marks a generic Spark call charged to its caller
LAYER = {
    "op": "client",
    "server.serve": "server",
    "files.collect_files": "files.listing",
    "markdown.parsed_df": "markdown.parse",
    "markdown.parse_summary": "markdown.parse",
    "markdown.files_dataframe": "markdown.pivot",
    "dialect.translate": "dialect.translate",
    "semantic.attach_embeddings": "semantic.attach",
    "semantic.store_read": "semantic.store_read",
    "files.update_file": "mutation.update_file",
    "pipeline.build": "pipeline.build",
    "pipeline.collect": "pipeline.collect",
    "spark.sql": None,
    "spark.collect": None,
    "spark.toLocalIterator": None,
    **{f"engine.{t}": "engine" for t in ENGINE_TOOLS},
}
# the layer a generic call takes when its caller is the engine itself
GENERIC_OWN = {"spark.sql": "sql.plan", "spark.collect": "sql.execute", "spark.toLocalIterator": "sql.execute"}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1
    info: dict[str, Any] = field(default_factory=dict)


class Tracer:
    def __init__(self, job_ids) -> None:
        """``job_ids``: callable giving the next Spark job id, recorded
        around the spans that run the parse job."""
        self.spans: list[Span] = []
        self.op = -1
        self._job_ids = job_ids
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sp = Span(name, time.perf_counter(), parent=stack[-1] if stack else -1, op=self.op)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        stack.append(idx)
        if name == "markdown.parse_summary":
            sp.info["jobs_lo"] = self._job_ids()
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            if "jobs_lo" in sp.info:
                sp.info["jobs_hi"] = self._job_ids()

    def _wrap(self, owner: object, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = original(*args, **kwargs)
                if name == "files.collect_files":
                    sp.info["n"] = len(out)
                return out

        self._undo.append((owner, attr, original))
        setattr(owner, attr, traced)

    def install(self, spark) -> None:
        from frontmatter_mcp_spark import engine, files
        from frontmatter_mcp_spark.semantic.store import EmbeddingStore
        from frontmatter_mcp_spark.server import MCPServer
        from frontmatter_mcp_spark.sources import markdown

        self._wrap(MCPServer, "serve", "server.serve")
        for tool in ENGINE_TOOLS:
            self._wrap(engine.FrontmatterEngine, tool, f"engine.{tool}")
        self._wrap(files, "collect_files", "files.collect_files")
        self._wrap(markdown, "collect_files", "files.collect_files")
        self._wrap(markdown, "parsed_df", "markdown.parsed_df")
        self._wrap(markdown, "parse_summary", "markdown.parse_summary")
        self._wrap(markdown, "files_dataframe", "markdown.files_dataframe")
        self._wrap(engine, "translate", "dialect.translate")
        self._wrap(engine, "attach_embeddings", "semantic.attach_embeddings")
        self._wrap(EmbeddingStore, "read", "semantic.store_read")
        self._wrap(files, "update_file", "files.update_file")
        self._wrap(type(spark), "sql", "spark.sql")
        df_cls = type(spark.range(1))
        self._wrap(df_cls, "collect", "spark.collect")
        self._wrap(df_cls, "toLocalIterator", "spark.toLocalIterator")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    # -- analysis ---------------------------------------------------------
    def _layer(self, idx: int) -> str:
        sp = self.spans[idx]
        layer = LAYER[sp.name]
        if layer is not None:
            return layer
        p = sp.parent
        while p >= 0 and LAYER[self.spans[p].name] is None:
            p = self.spans[p].parent
        caller = self._layer(p) if p >= 0 else "client"
        return GENERIC_OWN[sp.name] if caller in ("engine", "server", "client") else caller

    def layer_times(self) -> dict[int, dict[str, float]]:
        """op id -> layer -> self milliseconds, over the spans of each
        op's own thread (helper-thread spans are covered by the wait of
        the span that started them)."""
        child_ms: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent >= 0:
                child_ms[sp.parent] += (sp.end - sp.start) * 1e3
        rooted = [False] * len(self.spans)
        for i, sp in enumerate(self.spans):
            rooted[i] = sp.name == "op" if sp.parent < 0 else rooted[sp.parent]
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, sp in enumerate(self.spans):
            if rooted[i]:
                self_ms = (sp.end - sp.start) * 1e3 - child_ms[i]
                out[sp.op][self._layer(i)] += self_ms
        return out
