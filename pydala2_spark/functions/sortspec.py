"""Sort-specification parsing.

Capability parity with the reference's multi-backend sort-spec parser
(`/root/reference/pydala/table.py:131-235`), which accepts
``"a, b desc"`` | ``["a", "b"]`` | ``[("a", "asc"), ("b", "desc")]``.
Here there is only one backend, so the spec compiles straight to Spark
Column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SortSpec = str | list[str] | list[tuple[str, str]] | None


def to_sort_columns(sort_by: SortSpec) -> list[Column]:
    """Compile a sort spec into a list of Spark Columns.

    >>> to_sort_columns("a, b desc")   # [col(a).asc(), col(b).desc()]
    """
    if sort_by is None:
        return []
    items: list[tuple[str, str]] = []
    if isinstance(sort_by, str):
        for part in sort_by.split(","):
            part = part.strip()
            if not part:
                continue
            tokens = part.split()
            col = tokens[0]
            order = tokens[1].lower() if len(tokens) > 1 else "asc"
            items.append((col, order))
    else:
        for entry in sort_by:
            if isinstance(entry, str):
                tokens = entry.strip().split()
                col = tokens[0]
                order = tokens[1].lower() if len(tokens) > 1 else "asc"
                items.append((col, order))
            else:
                col, order = entry
                items.append((col, order.lower()))
    cols = []
    for col, order in items:
        if order not in ("asc", "desc"):
            raise ValueError(f"invalid sort order {order!r} for column {col!r}")
        c = F.col(col)
        cols.append(c.desc() if order == "desc" else c.asc())
    return cols
