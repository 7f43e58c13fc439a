"""Seeded Markdown vault generator and its independent answer model.

``Vault`` writes ``n_dirs`` x ``files_per_dir`` notes under a root
directory and keeps its own record of what each file holds: the
frontmatter as Python values, or a marker for a file with no
frontmatter or with malformed YAML. Every mutation the benchmark sends
to the server is also applied to this record, with the documented tool
semantics re-stated here, so expected answers never come from the code
under test. ``files_frame`` renders the record as the all-strings
``files`` table the tools promise (``path`` plus one column per key,
lists as JSON, everything else ``str()``), and ``expect`` runs the
same SQL on DuckDB over it.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from pathlib import Path
from typing import Any

import duckdb
import pandas as pd

NO_FRONTMATTER = "no-frontmatter"
MALFORMED = "malformed"

STATUSES = ["draft", "review", "published", "archived"]
TAGS = [f"tag{i:02d}" for i in range(24)]
AUTHORS = ["ana", "bo", "cy", "dee", "eli", "fay", "gus", "hal"]
WORDS = (
    "spark vault query frontmatter index vector table column join filter "
    "batch stream window order group schema parse plan execute cache note "
    "draft review archive search embed cosine rank token shard merge"
).split()
RARE_KEYS = [f"x_rare{i:03d}" for i in range(150)]


def _date(rng: random.Random) -> dt.date:
    return dt.date(2023, 1, 1) + dt.timedelta(days=rng.randrange(730))


def _yaml_scalar(v: Any) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def render(meta: dict[str, Any], body: str) -> str:
    """Hand-written YAML (block lists, bare dates/ints/bools), so the
    bytes on disk do not come from the program's own serializer."""
    lines = ["---"]
    for k, v in meta.items():
        if isinstance(v, list) and not v:
            lines.append(f"{k}: []")
        elif isinstance(v, list):
            lines.append(f"{k}:")
            lines.extend(f"  - {_yaml_scalar(x)}" for x in v)
        else:
            lines.append(f"{k}: {_yaml_scalar(v)}")
    lines.append("---")
    return "\n".join(lines) + "\n" + body


def serialize(v: Any) -> str | None:
    """The tools' documented value rule: NULL stays NULL, a list is
    JSON text, anything else is its str()."""
    if v is None:
        return None
    if isinstance(v, list):
        return json.dumps(v, ensure_ascii=False)
    return str(v)


class Vault:
    def __init__(self, root: Path, seed: int, n_dirs: int, files_per_dir: int) -> None:
        self.root = Path(root)
        self.seed = seed
        self.n_dirs = n_dirs
        self.files_per_dir = files_per_dir
        # path -> frontmatter dict, or NO_FRONTMATTER / MALFORMED
        self.meta: dict[str, Any] = {}
        self.body: dict[str, str] = {}
        self._generate()

    # -- generation ------------------------------------------------------
    def _generate(self) -> None:
        rng = random.Random(self.seed)
        for d in range(self.n_dirs):
            (self.root / f"d{d:02d}").mkdir(parents=True, exist_ok=True)
            for i in range(self.files_per_dir):
                rel = f"d{d:02d}/note{i:03d}.md"
                body = " ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 40))) + "\n"
                roll = rng.random()
                # every vault has at least one note of each odd kind
                if roll < 0.02 or (d, i) == (0, 3):
                    text, meta = body, NO_FRONTMATTER
                elif roll < 0.035 or (d, i) == (0, 7):
                    text, meta = f"---\ntitle: [unclosed\nstatus: draft\n---\n{body}", MALFORMED
                else:
                    meta = self._random_meta(rng, d, i)
                    text = render(meta, body)
                (self.root / rel).write_text(text, encoding="utf-8")
                self.meta[rel] = meta
                self.body[rel] = body

    @staticmethod
    def _random_meta(rng: random.Random, d: int, i: int) -> dict[str, Any]:
        meta: dict[str, Any] = {
            "title": f"note {d} {i}",
            "status": rng.choice(STATUSES),
            "priority": rng.randint(1, 5),
            "draft": rng.random() < 0.3,
            "tags": rng.sample(TAGS, rng.randint(0, 4)),
        }
        if rng.random() < 0.8:
            meta["date"] = _date(rng)
        if rng.random() < 0.6:
            meta["author"] = rng.choice(AUTHORS)
        if rng.random() < 0.3:
            meta["rating"] = rng.randint(0, 100) / 10
        # long tail: a few keys each, drawn with a skew toward low ids
        for _ in range(rng.randint(0, 3)):
            meta[RARE_KEYS[int(len(RARE_KEYS) * rng.random() ** 2)]] = rng.randint(0, 9)
        return meta

    # -- record views ----------------------------------------------------
    def paths(self, prefix: str = "") -> list[str]:
        return sorted(p for p in self.meta if p.startswith(prefix))

    def parseable(self, prefix: str = "") -> list[str]:
        return [p for p in self.paths(prefix) if self.meta[p] != MALFORMED]

    def malformed(self, prefix: str = "") -> list[str]:
        return [p for p in self.paths(prefix) if self.meta[p] == MALFORMED]

    def files_frame(self, prefix: str = "") -> pd.DataFrame:
        rows = []
        for p in self.parseable(prefix):
            m = self.meta[p]
            rec = {"path": p}
            if isinstance(m, dict):
                rec.update({k: serialize(v) for k, v in m.items()})
            rows.append(rec)
        df = pd.DataFrame(rows)
        return df.astype(object).where(df.notna(), None)

    def expect(self, prefix: str, sql: str) -> tuple[list[str], list[dict[str, Any]]]:
        """Expected (column names, rows) of ``sql`` over the record's
        files table, run on DuckDB."""
        con = duckdb.connect()
        try:
            frame = self.files_frame(prefix)
            con.register("files_frame", frame)
            cols = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in frame.columns)
            con.execute(f"CREATE TABLE files AS SELECT {cols} FROM files_frame")
            cur = con.execute(sql)
            names = [c[0] for c in cur.description]
            return names, [dict(zip(names, r)) for r in cur.fetchall()]
        finally:
            con.close()

    # -- mutation model (the tools' documented semantics) ----------------
    def _meta_for_write(self, path: str) -> dict[str, Any] | None:
        m = self.meta[path]
        if m == MALFORMED:
            return None
        return {} if m == NO_FRONTMATTER else m

    def apply_update(self, path: str, set_props: dict[str, Any]) -> bool:
        """Merge ``set_props``; False when the file cannot be parsed."""
        m = self._meta_for_write(path)
        if m is None:
            return False
        self.meta[path] = {**m, **set_props}
        return True

    def apply_array_add(self, path: str, prop: str, value: Any) -> bool:
        """Append ``value`` unless present; True when the file changed."""
        m = self._meta_for_write(path)
        if m is None:
            return False
        cur = m.get(prop)
        if cur is None:
            new = [value]
        elif not isinstance(cur, list) or value in cur:
            return False
        else:
            new = cur + [value]
        self.meta[path] = {**m, prop: new}
        return True

    def apply_array_remove(self, path: str, prop: str, value: Any) -> bool:
        m = self._meta_for_write(path)
        if m is None:
            return False
        cur = m.get(prop)
        if not isinstance(cur, list) or value not in cur:
            return False
        new = list(cur)
        new.remove(value)
        self.meta[path] = {**m, prop: new}
        return True
