"""Correctness comparators used by the benchmark's gates.

All of them work on plain Python / pandas values, so they run outside the
timed regions and are unit-tested without Spark.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime

import numpy as np
import pandas as pd

PR_FLOOR = 0.95


def precision_recall(got: set, want: set) -> tuple[float, float]:
    tp = len(got & want)
    return tp / max(len(got), 1), tp / max(len(want), 1)


def pr_gate(got: set, want: set, floor: float = PR_FLOOR) -> dict:
    p, r = precision_recall(got, want)
    return {"ok": p >= floor and r >= floor, "precision": p, "recall": r,
            "got": len(got), "want": len(want)}


def sets_gate(got, want) -> dict:
    """Exact equality of two collections of member sets."""
    g = {frozenset(x) for x in got}
    w = {frozenset(x) for x in want}
    return {"ok": g == w, "missing": len(w - g), "extra": len(g - w)}


def _canon(v):
    """A hashable, order-stable form of one cell value."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NaT:
        return None
    if isinstance(v, (pd.Timestamp, datetime, date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, np.generic):
        return v.item()
    return v


def row_hash(pdf: pd.DataFrame, exclude: tuple[str, ...] = ()) -> str:
    """Order-insensitive digest of a table: rows are canonicalized over
    the sorted non-excluded columns, digested one by one, and the sorted
    digests are hashed together (a multiset hash — duplicate rows count)."""
    cols = sorted(c for c in pdf.columns if c not in exclude)
    digests = sorted(
        hashlib.sha256(repr(tuple(_canon(v) for v in row))
                       .encode("utf-8")).hexdigest()
        for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(cols).encode("utf-8"))
    for d in digests:
        h.update(d.encode("ascii"))
    return h.hexdigest()


def order_gate(expected: list, got: list) -> dict:
    """Same uuids in the same order, and at least one result."""
    return {"ok": bool(expected) and list(expected) == list(got),
            "expected": len(expected), "got": len(got)}


def _ts(v):
    return None if pd.isna(v) else pd.Timestamp(v)


def versioned_edges_gate(edges: pd.DataFrame, entities: pd.DataFrame,
                         golden_edges: pd.DataFrame) -> dict:
    """Final ``(group, subj, pred, obj, valid_at, invalid_at)`` of the
    edges with a ``valid_at`` vs ``golden_edges``, at P/R >= PR_FLOOR."""
    name = dict(zip(entities["uuid"], entities["name_norm"]))
    pos = edges[edges["valid_at"].notna()]
    got = {(r.group_id, name.get(r.source_node_uuid), r.name,
            name.get(r.target_node_uuid), _ts(r.valid_at), _ts(r.invalid_at))
           for r in pos.itertuples()}
    want = {(r.conv_id, r.subj, r.pred, r.obj, _ts(r.valid_at),
             _ts(r.invalid_at)) for r in golden_edges.itertuples()}
    return pr_gate(got, want)


def components_gate(entities: pd.DataFrame,
                    golden_components: pd.DataFrame) -> dict:
    """Entity member sets == the golden alias partition."""
    from graphiti_spark import rules

    members: dict = {}
    for r in golden_components.itertuples():
        members.setdefault((r.conv_id, r.comp), set()).add(
            rules.entity_uuid(r.conv_id, r.name_norm))
    return sets_gate(entities["member_uuids"], members.values())
