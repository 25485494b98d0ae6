"""SQL spelling of names and literals for one-shot parsed expressions.

Hot expressions (score aggregates, the BM25 scan plan, RRF ranks, MATCH
filters) are built by parsing ONE SQL string with ``F.expr`` /
``selectExpr``: a single py4j round-trip, where the Column API pays one
per call (``F.array(*[F.lit(x) for x in vec])`` is ~51 ms of driver
latency for a dim-64 vector, the parsed form ~0.7 ms; local[32],
Spark 4.1). This module is the one place that spells values into that
SQL, and every helper returns a spelling for any input:

- ``ident``: any column name, backtick-quoted with inner backticks
  doubled, so names with spaces, dots or backticks resolve as one
  column;
- ``str_lit``: any string, with ``\\`` and ``'`` escaped;
- ``double_lit``: ``repr(x)`` plus ``D``. ``repr`` is Python's shortest
  round-tripping form and Spark's double parser rounds correctly, so the
  parsed value equals ``F.lit(float(x))`` bitwise. Non-finite values are
  spelled ``CAST('NaN'|'Infinity'|'-Infinity' AS DOUBLE)``, which
  constant-folds to the same double;
- ``in_sql``: membership in a literal set, as a predicate that is never
  NULL, or no predicate at all for an empty set.
"""

from __future__ import annotations

import math
from typing import Iterable, Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

_NON_FINITE = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def ident(name: str) -> str:
    """Backtick-quoted column name; inner backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def str_lit(s: str) -> str:
    """Single-quoted string literal; SQL unescapes it back to ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double_lit(x: float) -> str:
    """DOUBLE literal, bit-equal to ``F.lit(float(x))``."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    return f"CAST('{_NON_FINITE[repr(x)]}' AS DOUBLE)"


def in_sql(name: str, values: Iterable) -> Optional[str]:
    """``name IN (…)`` over the distinct non-NULL integers or strings of
    ``values``, or None when there are none, so the caller adds no
    predicate. The predicate is FALSE, never NULL, for a NULL ``name``
    (NULL matches no value, as in a join), so ``NOT`` of it keeps NULL
    rows. Spark hashes a list of more than ten literals as InSet: one
    lookup per row, not a scan of the list."""
    lits = sorted({str_lit(v) if isinstance(v, str) else str(int(v))
                   for v in values if v is not None})
    if not lits:
        return None
    col = ident(name)
    return f"({col} IS NOT NULL AND {col} IN ({','.join(lits)}))"


def double_array_sql(values: Sequence[float]) -> str:
    """SQL text of an ARRAY<DOUBLE> literal, for composing into larger
    one-shot expressions (score aggregates build their whole
    aggregate/zip_with tree as one parsed string)."""
    xs = [double_lit(x) for x in values]
    if not xs:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + ",".join(xs) + ")"


def double_array_lit(values: Sequence[float]) -> Column:
    """ARRAY<DOUBLE> literal."""
    return F.expr(double_array_sql(values))


def double_matrix_lit(rows: Sequence[Sequence[float]]) -> Column:
    """ARRAY<ARRAY<DOUBLE>> literal (PQ codebooks, centroid tables)."""
    body = [double_array_sql(r) for r in rows]
    if not body:
        return F.array().cast("array<array<double>>")
    return F.expr("array(" + ",".join(body) + ")")
