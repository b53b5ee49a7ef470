"""Scratch artifacts: the parquet the engine writes once so that a registry
query and its DuckDB oracle read the same bytes.

An ``Artifact`` declares a name, the package modules its bytes depend on,
the input tables it reads, and its build. Two paths come from it:

- the root, ``<tmpdir>/bioie_<name>_sf<sf>_<key>``. The key hashes the
  name, the source of the declared modules as this process imported them,
  the build's own code, and every file of every input table. Any change
  to these builds a new root, so stale bytes are never reused; an
  unchanged key reuses the root across processes.
- the alias, ``<tmpdir>/bioie_<name>_<label>``: a symlink that
  ``materialize`` re-points at the root, atomically, every time it runs.
  The label is the sf for artifacts that read only the synthetic corpus,
  and the input tables' real paths for the others (``scale_factor`` maps
  any directory without ``sfX`` to 0.01, so an sf label would let two
  such directories share an alias). Oracle SQL renders the alias only,
  so its text does not change when source changes. Two processes running
  different code re-point the same alias; run them one at a time.

Keying on (code, input snapshot) is the snapshot-set model of RQL
(EDBT 2018, PAPERS.md).
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import tempfile
import types
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from .sources.checkpoint import _TMP, write_once

_PKG = os.path.dirname(os.path.abspath(__file__))


def _snapshot_package_sources() -> dict[str, bytes]:
    """Every .py of the package, read ONCE at import: keys hash these bytes,
    so a process whose files are edited underneath it keeps keying on the
    code it imported and runs, and never writes its output into the root
    of the code on disk."""
    snap: dict[str, bytes] = {}
    for path in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True):
        with open(path, "rb") as f:
            snap[os.path.abspath(path)] = f.read()
    return snap


_SRC_SNAPSHOT = _snapshot_package_sources()


def scale_factor(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.01


def _table_path(sf_dir: str, table: str) -> str:
    return os.path.realpath(os.path.join(sf_dir, f"{table}.parquet"))


def table_ident(sf_dir: str, table: str) -> str:
    """Identity of an input parquet table: its real path plus the (relative
    name, size, mtime in ns) of every file under it, so a single file and
    a Spark-written directory alike roll the key when the data is swapped,
    regenerated or read from another directory."""
    p = _table_path(sf_dir, table)
    if os.path.isfile(p):
        files = [p]
    else:
        files = sorted(os.path.join(d, f) for d, _, names in os.walk(p) for f in names)
    if not files:
        return f"{p}:missing"
    parts = []
    for f in files:
        st = os.stat(f)
        parts.append(f"{os.path.relpath(f, p)}:{st.st_size}:{st.st_mtime_ns}")
    return p + "|" + ";".join(parts)


_CONSTANTS = (str, bytes, int, float, tuple, frozenset)
_LITERALS = (*_CONSTANTS, dict, type(None))


def _code_digest(h, obj, globs=None) -> None:
    """Feed a build into the key: the bytecode and names of its code, and
    of every function it closes over, plus each literal it holds, closes
    over or reads from a module global (``_PACK_MAX_TOKENS``), without line
    numbers: an edit to what the build computes rolls the key, and moving
    the build in its file does not. Other closed-over values (frames,
    lists) are state, not code, and stay out."""
    if isinstance(obj, _LITERALS):
        # a frozenset's repr order follows the per-process str hash
        h.update(repr(sorted(map(repr, obj)) if isinstance(obj, frozenset) else obj).encode())
        return
    code = getattr(obj, "__code__", obj)
    if not isinstance(code, types.CodeType):
        return
    globs = getattr(obj, "__globals__", globs) or {}
    h.update(code.co_code)
    h.update(repr(code.co_names).encode())
    for name in code.co_names:
        # immutable values only: a module-level dict or list is state
        # (``queries._KG_CACHE``) and would move the key as it fills
        if name in globs and isinstance(globs[name], _CONSTANTS):
            _code_digest(h, globs[name])
    for c in code.co_consts:
        _code_digest(h, c, globs)
    for cell in getattr(obj, "__closure__", None) or ():
        _code_digest(h, cell.cell_contents)


@dataclass(frozen=True)
class Artifact:
    """A write-once scratch artifact (module docstring). ``build(spark,
    sf_dir, out)`` writes the artifact's files under ``out``: a scratch
    sibling that ``write_once`` renames into the root, or, for a ``staged``
    artifact, the root itself, under which the build writes its own
    write-once stages (``checkpoint.materialize``) and so resumes stage by
    stage. ``modules`` are package-relative dotted names."""

    name: str
    modules: tuple[str, ...]
    tables: tuple[str, ...]
    build: Callable
    staged: bool = False

    def root(self, sf_dir: str) -> str:
        h = hashlib.md5(self.name.encode())
        for mod in self.modules:
            h.update(_SRC_SNAPSHOT[os.path.join(_PKG, *mod.split(".")) + ".py"])
        _code_digest(h, self.build)
        for t in self.tables:
            h.update(table_ident(sf_dir, t).encode())
        return os.path.join(
            tempfile.gettempdir(),
            f"bioie_{self.name}_sf{scale_factor(sf_dir)}_{h.hexdigest()[:8]}",
        )

    def alias(self, sf_dir: str) -> str:
        label = "+".join(
            _table_path(sf_dir, t).removesuffix(".parquet").strip("/").replace("/", "_")
            for t in self.tables
        )
        return os.path.join(
            tempfile.gettempdir(),
            f"bioie_{self.name}_{label or f'sf{scale_factor(sf_dir)}'}",
        )

    def materialize(self, spark, sf_dir: str) -> str:
        """Build the root unless it is complete, re-point the alias at it,
        and return the alias."""
        root = self.root(sf_dir)
        if self.staged:
            self.build(spark, sf_dir, root)
        else:
            write_once(root, lambda out: self.build(spark, sf_dir, out))
        alias = self.alias(sf_dir)
        tmp = f"{alias}{_TMP}{uuid.uuid4().hex[:12]}"
        os.symlink(root, tmp)
        os.replace(tmp, alias)
        return alias


def artifact(name: str, modules, tables=(), staged: bool = False):
    """Decorator: declare the decorated build function as an Artifact."""
    return lambda build: Artifact(name, tuple(modules), tuple(tables), build, staged)
