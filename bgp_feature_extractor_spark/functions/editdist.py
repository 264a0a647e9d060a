"""Levenshtein distance over two array<int> token columns, inside the JVM.

The reference computes an O(m*n) pure-Python DP per announcement
(`bgpmetrics_as.py:77-102`, called at 455/529/648). Spark's builtin
``levenshtein()`` works on strings and counts code points, so each token
array is encoded as a string of one code point per token and the distance
is taken between the two strings — no Python stage, no Arrow round trip.

Encoding (pure column expressions): an id below 0xD800 is its own code
point; an id from 0xD800 to 0x10F7FF maps to id + 0x800, skipping the
surrogate block. Each code point becomes 8 hex digits, the digits are
concatenated behind a big-endian byte-order mark and decoded as UTF-32.
The explicit mark matters: without it the decoder would read a leading
U+FEFF (token id 0xF6FF) as a mark and drop it. Any id outside
[0, 0x10F7FF], or a null element, raises; it is never silently mapped.

Null-safe: a null array on either side yields a null distance; an empty
array yields the length of the other side, as in the reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_TOKEN_ID = 0x10F7FF  # + 0x800 surrogate skip == 0x10FFFF, the last code point
_BOM = "0000FEFF"


def _code_point(x: Column) -> Column:
    bad = x.isNull() | (x < 0) | (x > MAX_TOKEN_ID)
    msg = F.concat(
        F.lit("edit distance: token id "),
        F.coalesce(x.cast("string"), F.lit("NULL")),
        F.lit(f" is outside the encodable range [0, 0x{MAX_TOKEN_ID:X}]"),
    )
    return F.when(bad, F.raise_error(msg)).when(x < 0xD800, x).otherwise(x + 0x800)


def token_string(tokens: Column) -> Column:
    """One code point per token id, as a string column."""
    digits = F.transform(tokens, lambda x: F.lpad(F.hex(_code_point(x)), 8, "0"))
    return F.decode(F.unhex(F.concat(F.lit(_BOM), F.concat_ws("", digits))), "UTF-32")


def with_edit_distance(df, new_col: str, old_col: str, out_col: str = "edit_dist"):
    """Attach edit distance where both sides are present (REANN/NADA rows,
    bgpmetrics_as.py:455,529); null elsewhere."""
    a, b = F.col(new_col), F.col(old_col)
    dist = F.when(
        a.isNotNull() & b.isNotNull(), F.levenshtein(token_string(a), token_string(b))
    )
    return df.withColumn(out_col, dist)
