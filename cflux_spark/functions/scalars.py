"""Scalar/column helpers: tag access, label matchers, time conversion.

Reference equivalents (SURVEY.md §2.8): ClickHouse
``arrayFirstIndex(x -> x='k', labelname)`` + ``labelvalue[i]`` map-lookup
emulation (cflux.js:759) becomes a real map lookup; the PromQL-style
matcher table (=, !=, =~, !~) exists in the reference as dead code
(labelParser, cflux.js:140-148) — implemented for real here.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def props_map(props: Column | str) -> Column:
    """Parse a JSON labels string into map<string,string> (C9)."""
    c = F.col(props) if isinstance(props, str) else props
    return F.from_json(c, "map<string,string>")


def props_tag(props: Column | str, key: str) -> Column:
    """Extract one tag value from a JSON labels string (F5/C5)."""
    return F.get_json_object(F.col(props) if isinstance(props, str) else props, f"$.{key}")


def label_matcher(value: Column, op: str, pattern: str) -> Column:
    """PromQL-style matcher: = != =~ !~ (cflux.js:140-148, dead code
    there; first-class here)."""
    if op == "=":
        return value == F.lit(pattern)
    if op == "!=":
        return value != F.lit(pattern)
    if op == "=~":
        return value.rlike(pattern)
    if op == "!~":
        return ~value.rlike(pattern)
    raise ValueError(f"unknown matcher op {op!r}")


_ORDER_OPS = {">": operator.gt, ">=": operator.ge, "<": operator.lt, "<=": operator.le}


def matcher_cond(
    filters: list[tuple], or_groups: list[list[tuple]], col_of: Callable[[str], Column]
) -> Column | None:
    """WHERE matchers ``(key, op, value)`` as one condition: ``filters``
    ANDed with each OR group of ``or_groups``; None when there are none.
    ``col_of(key)`` is the column a key names. The ops are
    ``label_matcher``'s four, which also serve ``=``/``!=`` on field
    values, and the field ordering comparisons."""
    def one(key: str, op: str, value) -> Column:
        col = col_of(key)
        return _ORDER_OPS[op](col, value) if op in _ORDER_OPS else label_matcher(col, op, value)

    groups = [[f] for f in filters] + list(or_groups)
    conds = [reduce(operator.or_, (one(*m) for m in g)) for g in groups]
    return reduce(operator.and_, conds) if conds else None
