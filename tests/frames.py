"""Small test DataFrames built from pandas.

A DataFrame made by ``spark.createDataFrame(<list of tuples>, ddl)`` is a
Python RDD: every write or collect of it starts a Python worker.  One
built from a pandas frame goes through Arrow and starts none.
"""

from __future__ import annotations

import pandas as pd

_INTEGER_TYPES = ("BIGINT", "LONG", "INT", "INTEGER", "SMALLINT", "TINYINT")


def frame(spark, rows, ddl: str):
    """The DataFrame of the tuples ``rows`` under the schema ``ddl``.

    Integer columns use pandas' nullable ``Int64``, so ``None`` stays
    NULL.  Not for DOUBLE columns holding NaN: on the way through pandas
    a NaN becomes NULL."""
    fields = [f.strip().split(None, 1) for f in _split_fields(ddl)]
    pdf = pd.DataFrame(list(rows), columns=[name for name, _ in fields])
    for name, typ in fields:
        if typ.strip().upper() in _INTEGER_TYPES:
            pdf[name] = pdf[name].astype("Int64")
    return spark.createDataFrame(pdf, ddl)


def _split_fields(ddl: str) -> list[str]:
    """``ddl`` split at its top-level commas (``DECIMAL(10,2)`` stays
    whole)."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(ddl):
        depth += {"(": 1, ")": -1}.get(ch, 0)
        if ch == "," and depth == 0:
            out.append(ddl[start:i])
            start = i + 1
    return out + [ddl[start:]]
