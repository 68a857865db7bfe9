"""The versioned-table log format — names, version parsing, the manifest
builder every commit uses and the fold every reader uses.

One definition of the on-disk contract :mod:`.versioning` writes, for
every writer and reader. Pure Python with no SparkSession and no IO of
its own: :class:`TableLog` takes the three reads it needs as callables, so
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


# Incremental (delta) manifests — the 100 TB metadata shape. A full
# manifest names EVERY file of its version, so at ~1M files each append
# would serialize an O(table) JSON; Delta/Iceberg instead log per-commit
# adds/removes with periodic full checkpoints. Same here: once a table
# has ≥ _DELTA_MIN_FILES files, append/merge commits write only their
# adds/removes (+ per-file stats for the adds) keyed by ``delta_of``; a
# full manifest is still forced every _CHECKPOINT_EVERY versions so a
# read resolves at most that many small JSONs. Overwrite / rollback /
# optimize replace the file list wholesale and stay full. ``vacuum``
# materializes a ``c{N}.json`` checkpoint for any retained delta whose
# base manifest is being expired, so resolution never needs an expired
# version.
_DELTA_MIN_FILES = 64
_CHECKPOINT_EVERY = 16

# Every key any manifest form can carry. ``extra`` user metadata is checked
# against THIS set, not against the keys of the manifest instance being
# built: a delta manifest carries no 'files'/'stats' key, so checking the
# instance would let extra={'stats': ...} through — and a stats-less
# table's plan_scan would then skip files based on injected n_rows==0
# entries. Reserved means reserved in every mode.
RESERVED_KEYS = frozenset(
    {
        "version",
        "op",
        "base_version",
        "files",
        "n_files",
        "schema",
        "stats",
        "stats_cols",
        "delta_of",
        "adds",
        "removes",
        "stats_adds",
        "cluster_by",
        "zorder_cols",
        "merge",
        "commit_id",
        "base_commit_id",
        "deletes",
        "deletes_adds",
        "committed_at_ms",
        "births",
        "clone_src",
        "clone_src_version",
        "constraints",
        "optimize_scope",
        "dropped_cols",
    }
)


def check_extra(extra: dict | None) -> None:
    """Refuse user metadata that would shadow a manifest key."""
    reserved = RESERVED_KEYS & set(extra or ())
    if reserved:
        raise ValueError(
            f"extra metadata shadows reserved manifest keys: {sorted(reserved)}"
        )


# "take it from the base manifest" for build_manifest's stats_cols and
# constraints (None is a real value there: no stats, no constraints)
_CARRY = object()


def build_manifest(
    base: dict | None,
    version: int,
    op: str,
    carried: list[str] = (),
    new: list[str] = (),
    *,
    schema: str | None = None,
    deletes: list[dict] | None = None,
    deletes_adds: list[dict] = (),
    stats_cols=_CARRY,
    constraints=_CARRY,
    stats: dict | None = None,
    fields: dict | None = None,
    delta: bool = False,
    delta_min_files: int | None = None,
    checkpoint_every: int | None = None,
) -> dict:
    """The manifest publishing version ``version`` — the write-side
    inverse of :func:`fold`, without lineage (the publisher adds it).

    ``base`` is the RESOLVED manifest the commit builds on (None: the
    table starts from nothing — a first write, an overwrite, a deep
    clone). The new file list is ``carried`` (files of ``base``, which
    keep their births) followed by ``new`` (born at ``version``).
    Everything else carries from ``base`` unless replaced: ``schema``;
    ``deletes`` (a replacement delete-entry list; default: the base's
    entries plus ``deletes_adds``); ``stats_cols`` and ``constraints``;
    ``dropped_cols``. ``stats`` holds per-file stats the caller computed
    (the new files', or any override); the base's entries for carried
    files carry only while the stats column set is unchanged. ``fields``
    are op-specific keys (``merge``, ``zorder_cols``, ...) set last.

    With ``delta`` the commit is written as a DELTA against ``base`` when
    the table is big enough (``delta_min_files``, default
    _DELTA_MIN_FILES), the version is not a checkpoint multiple
    (``checkpoint_every``, default _CHECKPOINT_EVERY), the stats column
    set is unchanged (a change is a one-commit backfill) and the delete
    list is not replaced; ``fold(base, result)`` then equals the FULL
    form."""
    prev = base or {}
    carried, new = list(carried), list(new)
    if stats_cols is _CARRY:
        stats_cols = prev.get("stats_cols")
    if constraints is _CARRY:
        constraints = prev.get("constraints")
    same_stats = (list(stats_cols) if stats_cols else None) == prev.get("stats_cols")
    dmin = _DELTA_MIN_FILES if delta_min_files is None else delta_min_files
    every = _CHECKPOINT_EVERY if checkpoint_every is None else checkpoint_every
    is_delta = (
        delta
        and base is not None
        and deletes is None
        and same_stats
        and len(base["files"]) >= dmin
        and version % every != 0
    )
    out = {
        "version": version,
        "op": op,
        "base_version": prev.get("version"),
        "n_files": len(carried) + len(new),
        "schema": schema if schema is not None else prev["schema"],
    }
    if is_delta:
        keep = set(carried)
        out["delta_of"] = base["version"]
        out["adds"] = new
        out["removes"] = [f for f in base["files"] if f not in keep]
        if deletes_adds:
            out["deletes_adds"] = list(deletes_adds)
    else:
        out["files"] = carried + new
        births = prev.get("births")
        out["births"] = {
            **{f: file_birth(births, f) for f in carried},
            **{f: version for f in new},
        }
        # carried entries still mask carried files' rows: dropping them
        # would resurrect deleted rows
        if deletes is None:
            deletes = list(prev.get("deletes", [])) + list(deletes_adds)
        if deletes:
            out["deletes"] = list(deletes)
    # recorded on BOTH forms, so inheritance never needs more than the
    # previous manifest
    if prev.get("dropped_cols"):
        out["dropped_cols"] = prev["dropped_cols"]
    if constraints:
        out["constraints"] = list(constraints)
    if stats_cols:
        out["stats_cols"] = list(stats_cols)
        if is_delta:
            out["stats_adds"] = dict(stats or {})
        else:
            base_stats = prev.get("stats", {}) if same_stats else {}
            out["stats"] = {
                **{f: base_stats[f] for f in carried if f in base_stats},
                **(stats or {}),
            }
    out.update(fields or {})
    return out


def changes(raw: dict, prev: dict | None) -> tuple[list[str], list[str], list[dict]]:
    """What the commit whose manifest is ``raw`` did: ``(adds, removes,
    new delete entries)``. A delta manifest says so itself; a full one
    is diffed against ``prev``, the RESOLVED manifest of the version
    before it (unused, and may be None, for a delta)."""
    if "delta_of" in raw:
        return (
            list(raw["adds"]),
            list(raw.get("removes", [])),
            list(raw.get("deletes_adds", [])),
        )
    before, after = set(prev["files"]), set(raw["files"])
    seen = {json.dumps(d, sort_keys=True) for d in prev.get("deletes", [])}
    return (
        [f for f in raw["files"] if f not in before],
        [f for f in prev["files"] if f not in after],
        [
            d
            for d in raw.get("deletes", [])
            if json.dumps(d, sort_keys=True) not in seen
        ],
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
