"""Two non-negative ids packed into one ``long`` key.

Pair-counting queries shuffle one 8-byte key per pair instead of two id
columns: ``(a << 32) | b``.  That is only a key while both ids fit in 31
bits; a larger id would silently merge distinct pairs, so
:func:`pack_pair` fails the job on one instead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PAIR_ID_LIMIT = 1 << 31


def pack_pair(a: Column | str, b: Column | str) -> Column:
    """``(a << 32) | b`` as a ``long``; raises when either id is outside
    ``[0, 2^31)``.  NULL in, NULL out."""
    a = (F.col(a) if isinstance(a, str) else a).cast("long")
    b = (F.col(b) if isinstance(b, str) else b).cast("long")
    out_of_range = (a < 0) | (a >= PAIR_ID_LIMIT) | (b < 0) | (b >= PAIR_ID_LIMIT)
    return F.when(
        out_of_range,
        F.raise_error(
            F.concat(
                F.lit("pack_pair: id outside [0, 2^31): "),
                a.cast("string"),
                F.lit(", "),
                b.cast("string"),
            )
        ),
    ).otherwise(F.shiftleft(a, 32).bitwiseOR(b))


def unpack_pair(uv: Column | str) -> tuple[Column, Column]:
    """The ``(a, b)`` ids of a :func:`pack_pair` key."""
    uv = F.col(uv) if isinstance(uv, str) else uv
    return F.shiftright(uv, 32), uv.bitwiseAND(F.lit((1 << 32) - 1))
