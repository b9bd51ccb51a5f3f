"""Scalar cast functions — `string_to<T>` parity.

Reference: ``include/hipipe/core/utility/string.hpp:32-125`` (lexical
casts), tolerant bool sets at ``string.hpp:60-66``
(``true|True|TRUE|1|y|Y|yes|Yes|YES|on|On|ON`` and the false mirror —
the reference's set literals carry stray padding spaces, an artifact of
the aligned code block; matching is on the trimmed token). The
reference's base64 helpers (``include/hipipe/core/base64.hpp:22-26``)
are Spark's ``F.base64`` / ``F.unbase64``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TRUE = ["true", "1", "y", "yes", "on"]
_FALSE = ["false", "0", "n", "no", "off"]


def string_to_bool(col: Column) -> Column:
    """Tolerant bool parse; unrecognized → null (the relational reading of
    the reference's throw, ``string.hpp:79-82``)."""
    lc = F.lower(F.trim(col))
    return (
        F.when(lc.isin(_TRUE), F.lit(True))
        .when(lc.isin(_FALSE), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def string_to(col: Column, dtype: str) -> Column:
    """`string_to<T>` — cast-on-read (``dataframe.hpp:531-556``)."""
    if dtype in ("bool", "boolean"):
        return string_to_bool(col)
    return col.cast(dtype)
