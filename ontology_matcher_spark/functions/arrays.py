"""Array/string kernels — Spark-SQL expressions of the reference's
list utilities (SURVEY.md §2.4 A2-A4, §2.7). All JVM-side
(whole-stage-codegen), no Python boundary.

Each kernel has ONE implementation, as SQL text (``*_sql``): plan
builders compose these into a single string per projection, because
pyspark pays ~14 py4j round trips per ``F.col`` and ~35 per
``F.when`` but only ~3-6 for a whole ``F.expr``. The Column functions
are thin ``F.expr`` wrappers taking a column name or ``F.col(name)``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: typed empty string array (a bare ``array()`` is array<void>)
EMPTY_ARR = "CAST(array() AS array<string>)"


def q(s: str) -> str:
    """Python string → Spark SQL string literal. Backslashes are
    escaped too: the parser unescapes them, so an unescaped regex like
    ``\\.`` would silently lose its backslash."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_PIPE_RE = q(r"\|")  # split() takes a regex


_COLUMN_REF = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")


def _sql(c: Column | str) -> str:
    """A column name / SQL text as is; a Column must be a plain column
    reference (``F.col("a")``, ``F.col("t.a")``): its rendering is
    valid SQL only then (an alias renders as ``a AS b``, a quoted name
    loses its backticks), so anything else is refused."""
    if isinstance(c, str):
        return c
    text = c._jc.toString()
    if not _COLUMN_REF.fullmatch(text):
        raise TypeError(
            f"expected a column name or F.col(name), got Column {text!r}"
        )
    return text


def split_pipe_sql(c: str) -> str:
    """Pipe-joined string → array<string> with empties removed.

    '' and NULL both become []. array_remove, not filter(): lambda
    higher-order functions are CodegenFallback (interpreted per row,
    allocation-heavy) — this stays inside whole-stage codegen."""
    return f"array_remove(split(coalesce({c}, ''), {_PIPE_RE}), '')"


def join_lst_sql(arr: str) -> str:
    """The reference's join_lst (of.py:544-553): members may themselves
    be pipe-joined — split each on '|', flatten, dedup, SORT (replaces
    the reference's nondeterministic Python-set order), rejoin with '|'.

    HOF-free formulation (hot path — runs once per output row per
    multi-value field): members are pipe-joined strings, so joining
    them all with '|' (array_join skips NULL members) and splitting
    ONCE flattens without the interpreted transform/flatten/filter
    chain."""
    parts = f"array_remove(split(array_join({arr}, '|'), {_PIPE_RE}), '')"
    return f"array_join(sort_array(array_distinct({parts})), '|')"


def concat_unique_sql(a: str, b: str) -> str:
    """Set-union of two array operands, order-preserving
    (ref concat, of.py:555-568)."""
    return (
        f"array_distinct(concat(coalesce({a}, {EMPTY_ARR}), "
        f"coalesce({b}, {EMPTY_ARR})))"
    )


def split_pipe(col: Column | str) -> Column:
    return F.expr(split_pipe_sql(_sql(col)))


def sql_join_lst(arr: Column | str) -> Column:
    return F.expr(join_lst_sql(_sql(arr)))


def concat_unique(a: Column | str, b: Column | str) -> Column:
    return F.expr(concat_unique_sql(_sql(a), _sql(b)))
