"""Driver tier: run an iterative operator's loop on the driver when its
input is small.

Several datapipes operators loop over Spark jobs (graph connected
components and PageRank, dedup connected components, the k-means and BPE
trainers) or attach a dictionary whose size is data-dependent (the
dictionary encoders). Each probes its input with :func:`bounded_rows` —
one ``limit(cap + 1)`` collect, never a corpus count — and, when the whole
input fits under its cap, runs the same algorithm on the collected rows
with no per-round Spark jobs. Each operator keeps its own cap, a module
constant read at call time, because the per-row driver cost differs per
operator; a cap of 0 turns the driver tier off.

Tier contract. The driver tier returns the converged answer. The
distributed tier returns that same answer or fails loudly: an operator
bounded by ``max_iterations`` rejects a bound below 1 with ``ValueError``
and raises ``RuntimeError`` when its distributed loop reaches the bound
without converging. It never returns a different answer.

Ids reach the driver tier only when :func:`driver_ids_ok` holds: Python's
ordering and equality on ``int`` and ``str`` replicate Spark's, so a
driver-side minimum equals the engine-side ``MIN``; any other id type,
and NULL, takes the distributed tier.
"""

from __future__ import annotations

import logging
from typing import Any, Dict, Iterable, List, Optional, Tuple

from pyspark.sql import DataFrame, Row

_LOGGER = logging.getLogger(__name__)


def driver_ids_ok(rows: List[Row], *cols: str) -> bool:
    """True when every value of ``cols`` in ``rows`` is a non-NULL int or
    str (bool excluded). A NULL id falls back to the distributed tier:
    Spark orders and joins NULL in ways a Python key does not replicate."""
    return all(
        isinstance(r[c], (int, str)) and not isinstance(r[c], bool)
        for r in rows
        for c in cols
    )


def bounded_rows(
    df: DataFrame, cap: int, op: str, *id_cols: str
) -> Optional[List[Row]]:
    """All rows of ``df`` when there are at most ``cap`` of them, else None.

    Runs one ``df.limit(cap + 1).collect()`` job, so the driver never
    receives more than ``cap + 1`` rows whatever the true size; ``cap <= 0``
    returns None without a job. With ``id_cols``, rows whose ids fail
    :func:`driver_ids_ok` also return None. Logs one INFO line with the
    op, the rows seen, the cap and the tier chosen; a caller that uses the
    probe as a guard raises on None."""
    rows = df.limit(cap + 1).collect() if cap > 0 else []
    seen = len(rows)
    ok = 0 < cap and seen <= cap and driver_ids_ok(rows, *id_cols)
    _LOGGER.info(
        "driver_tier op=%s rows_seen=%d cap=%d tier=%s",
        op, seen, cap, "driver" if ok else "distributed",
    )
    return rows if ok else None


def min_label_union_find(pairs: Iterable[Tuple[Any, Any]]) -> Dict[Any, Any]:
    """``{node: smallest node of its component}`` over undirected ``pairs``
    — the label the distributed min-propagation loops converge to. A
    ``(n, n)`` pair registers an isolated node."""
    parent: Dict[Any, Any] = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root wins, so every root is its component's minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}
