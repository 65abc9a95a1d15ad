"""Small pieces shared by the workloads and the runner."""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np


@dataclass(eq=False)
class Op:
    """One timed call. ``run`` is timed; ``check`` runs untimed on its
    result and returns an error message or None. The runner may stop at
    the deadline only after an op with ``boundary`` set, so a run never
    ends part-way through a round of a fixed mix. Ops compare by identity,
    so a workload's end-of-run checks can name the op they blame."""

    kind: str  # "write" or "read"
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    boundary: bool = True


def percentile(values, p: float) -> float:
    return float(np.percentile(values, p)) if len(values) else 0.0


def walk_files(path: str):
    for root, _, files in os.walk(path):
        for f in files:
            yield os.path.join(root, f)


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``: what the directory costs on disk."""
    return sum(os.path.getsize(f) for f in walk_files(path))


def parquet_files(path: str) -> list[str]:
    return [f for f in walk_files(path) if f.endswith(".parquet")]
