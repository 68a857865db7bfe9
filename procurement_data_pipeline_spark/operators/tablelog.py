"""The versioned-table log format — names, version parsing, manifest fold.

One definition of the on-disk contract :mod:`.versioning` writes, for
every reader. Pure Python with no SparkSession and no IO of its own:
:class:`TableLog` takes the three reads it needs as callables, so
``versioning`` reads through :mod:`procurement_data_pipeline_spark.storage`
(Hadoop FS) and the streaming source, whose planner runs in a
data-source worker without a session, reads through local/pyarrow IO.

Layout: version N's data files live in ``{table}/commit-{N:08d}-{tag}/``;
under ``{table}/_log/``:

* ``v{N:08d}.json`` — version N's manifest: FULL (``files`` names every
  data file) or DELTA (``delta_of`` + ``adds``/``removes``/``stats_adds``/
  ``deletes_adds`` against an earlier version);
* ``c{N:08d}.json`` — a vacuum-written checkpoint: version N already
  folded, so resolution never needs an expired base;
* anything else (publish temps, a stray ``v7.bak.json``) is not a
  version and is skipped by :func:`versions`.
"""

from __future__ import annotations

import json
import re
import uuid
from collections.abc import Callable, Iterable

LOG_DIR = "_log"
_WIDTH = 8  # v00000001.json … — lexicographic == numeric order
_DELTA_KEYS = ("delta_of", "adds", "removes", "stats_adds", "deletes_adds")


def log_dir(table_path: str) -> str:
    return table_path.rstrip("/") + "/" + LOG_DIR


def manifest_uri(table_path: str, version: int) -> str:
    return f"{log_dir(table_path)}/v{version:0{_WIDTH}d}.json"


def checkpoint_uri(table_path: str, version: int) -> str:
    return f"{log_dir(table_path)}/c{version:0{_WIDTH}d}.json"


def new_commit_dir(table_path: str, version: int) -> str:
    """A fresh directory for the data files version ``version`` writes;
    :func:`birth_version` reads the version back out of it."""
    return f"{table_path.rstrip('/')}/commit-{version:0{_WIDTH}d}-{uuid.uuid4().hex[:8]}"


def parse_version(name: str, prefix: str = "v", suffix: str = ".json") -> int | None:
    """N for a file named ``{prefix}{N}{suffix}`` with N all ASCII digits;
    None for every other name."""
    if not (name.startswith(prefix) and name.endswith(suffix)):
        return None
    digits = name[len(prefix) : len(name) - len(suffix)]
    return int(digits) if digits.isascii() and digits.isdigit() else None


def versions(names: Iterable[str], prefix: str = "v", suffix: str = ".json") -> list[int]:
    """The sorted versions among directory entry ``names``."""
    return sorted(
        v for v in (parse_version(n, prefix, suffix) for n in names) if v is not None
    )


def fold(base: dict, delta: dict) -> dict:
    """Apply delta manifest ``delta`` to its RESOLVED base: the full
    manifest of the delta's version."""
    removes = set(delta.get("removes", []))
    files = [f for f in base["files"] if f not in removes] + list(delta["adds"])
    out = {k: v for k, v in delta.items() if k not in _DELTA_KEYS}
    out["files"] = files
    # birth-version map folds like the file list: carried files keep the
    # base's record, a delta's adds are born at ITS version (implied —
    # delta manifests carry no births key)
    births = {f: b for f, b in base.get("births", {}).items() if f not in removes}
    births.update({f: delta["version"] for f in delta["adds"]})
    if births:
        out["births"] = births
    # equality-delete entries accumulate down the chain (a data append
    # must never resurrect merge-on-read-deleted rows)
    deletes = list(base.get("deletes", [])) + list(delta.get("deletes_adds", []))
    if deletes:
        out["deletes"] = deletes
    if delta.get("stats_cols"):
        base_stats = base.get("stats", {})
        out["stats"] = {
            **{f: base_stats[f] for f in files if f in base_stats},
            **delta.get("stats_adds", {}),
        }
    return out


class TableLog:
    """The log of the table at ``table_path``, read through ``exists``,
    ``read_text`` (both take a URI) and ``list_names`` (a directory URI →
    its entry names; empty when missing)."""

    def __init__(
        self,
        table_path: str,
        exists: Callable[[str], bool],
        read_text: Callable[[str], str],
        list_names: Callable[[str], list[str]],
    ):
        self.path = table_path
        self._exists = exists
        self._read_text = read_text
        self._list_names = list_names

    def versions(self) -> list[int]:
        return versions(self._list_names(log_dir(self.path)))

    def read(self, version: int) -> dict:
        """Version ``version``'s manifest as written (full or delta)."""
        uri = manifest_uri(self.path, version)
        if not self._exists(uri):
            raise ValueError(
                f"version {version} does not exist at {self.path} "
                f"(available: {self.versions() or 'none'}; it may have been vacuumed)"
            )
        return json.loads(self._read_text(uri))

    def resolve(self, version: int) -> dict:
        """The manifest with ``files`` (and ``stats``) MATERIALIZED: full
        manifests return as-is; delta manifests fold onto their resolved
        base, preferring a checkpoint so expired bases are never needed.
        Writers force a full manifest every few versions, so resolution
        is a handful of small JSON reads — never data IO."""
        man = self.read(version)
        if "delta_of" not in man:
            return man
        ckpt = checkpoint_uri(self.path, version)
        if self._exists(ckpt):
            return json.loads(self._read_text(ckpt))
        return fold(self.resolve(man["delta_of"]), man)


# anchored to the file's IMMEDIATE PARENT directory: a '/commit-7-backup/'
# segment inside the user's table_path must never poison the parse (a
# first-match search made every file's birth look like 7 and silently
# skipped delete entries, resurrecting deleted rows)
_BIRTH_RE = re.compile(r"/commit-(\d+)-[^/]*/[^/]+$")


def birth_version(file_uri: str) -> int:
    """The version whose commit wrote this data file (embedded in the
    commit-dir path segment — the file's immediate parent). Files of
    unknown provenance return 0 — masked by EVERY delete entry, the
    conservative direction (a delete can only ever remove too much of an
    unknown file, never resurrect)."""
    m = _BIRTH_RE.search(file_uri)
    return int(m.group(1)) if m else 0


def file_birth(births: dict | None, file_uri: str) -> int:
    """Birth version of a data file: the manifest's explicit ``births``
    map when recorded (survives any file relocation, because whoever
    rewrites the file list also carries the map), else the commit-dir
    path parse for files written before the map existed. Unknown either
    way degrades to 0 — masked by every entry, the conservative
    direction."""
    if births:
        b = births.get(file_uri)
        if b is not None:
            return int(b)
    return birth_version(file_uri)
