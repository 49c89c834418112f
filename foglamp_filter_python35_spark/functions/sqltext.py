"""Safe rendering of Python values into parsed Spark SQL text.

Builders that emit one ``F.expr`` string instead of a Column-API tree
(one py4j round trip instead of dozens) must render column names and
float literals themselves.  Both go through here so that input from
outside the program — a column name holding a backtick, a plane value
that is not a finite number — can never change the meaning of the SQL.
"""

from __future__ import annotations

import math


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier: an embedded
    backtick is doubled, so any column name round-trips to itself."""
    return "`" + name.replace("`", "``") + "`"


def double_lit(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE literal.  ``repr`` is Python's
    shortest round-trip form and Spark parses ``D`` literals with Java's
    ``parseDouble``, so the literal is the same IEEE value bit for bit.
    A non-finite value has no literal form (``infD``/``nanD`` would parse
    as an identifier or fail at run time) and raises here, at build."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite double literal: {x!r}")
    return f"{x!r}D"
