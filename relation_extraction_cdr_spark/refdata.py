"""Where the engine finds the reference repository's data files.

A few queries, scripts and tests read data that ships with the
reference implementation rather than with this engine: the real 2017
MeSH tree (``data_loaders/2017MeshTree.txt``), the ALPS corpus
(``data/alps/``), the converted ELECTRA config and the pickled
tokenizer (``models_saved/``).  All of them resolve their paths here, so
the dependency is declared once: the checkout's root is the
``CDR_REFERENCE_ROOT`` environment variable, default ``/root/reference``.
"""

from __future__ import annotations

import os
from pathlib import Path

ROOT_ENV = "CDR_REFERENCE_ROOT"
DEFAULT_ROOT = "/root/reference"

MESH_TREE = "data_loaders/2017MeshTree.txt"


class ReferenceDataAbsent(FileNotFoundError):
    """A reference data file the caller needs is not present."""


def reference_path(rel: str = "") -> Path:
    """``rel`` under the reference root (present or not)."""
    return Path(os.environ.get(ROOT_ENV, DEFAULT_ROOT)) / rel


def absent_reason(rel: str = "") -> str | None:
    """None when ``rel`` exists, else the message a missing file raises
    and tests skip with."""
    p = reference_path(rel)
    if p.exists():
        return None
    return f"reference data not present: {p} (set {ROOT_ENV} to the reference checkout)"


def require_reference(rel: str) -> Path:
    """``rel``'s path, or ReferenceDataAbsent naming it."""
    reason = absent_reason(rel)
    if reason is not None:
        raise ReferenceDataAbsent(reason)
    return reference_path(rel)
