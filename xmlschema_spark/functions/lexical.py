"""Lexical-space helpers: whitespace facets, lexical casts, union decode.

All JVM-side Catalyst expressions (no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ws_replace(col: Column) -> Column:
    """whiteSpace='replace': tab/LF/CR -> space
    (reference: simple_types.py:447-452)."""
    return F.regexp_replace(col, "[\t\n\r]", " ")


def ws_collapse(col: Column) -> Column:
    """whiteSpace='collapse': replace + squeeze runs + trim
    (reference: simple_types.py:453-463)."""
    return F.trim(F.regexp_replace(col, "\\s+", " "))


def normalize_ws(col: Column, mode: str | None) -> Column:
    if mode in (None, "preserve"):
        return col
    if mode == "replace":
        return ws_replace(col)
    if mode == "collapse":
        return ws_collapse(col)
    raise ValueError(f"bad whiteSpace mode {mode!r}")


def boolean_lexical(col: Column) -> Column:
    """xs:boolean lexical map 'true'/'1' -> true, 'false'/'0' -> false,
    else null (reference: helpers.py:26-29,268-280)."""
    c = ws_collapse(col)
    return (
        F.when(c.isin("true", "1"), F.lit(True))
        .when(c.isin("false", "0"), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def hex_binary_ok(col: Column) -> Column:
    """xs:hexBinary lexical check (reference: helpers.py:240-248):
    even-length hex string."""
    return col.rlike("^([0-9a-fA-F]{2})*$")


def base64_binary_ok(col: Column) -> Column:
    """xs:base64Binary lexical check (reference: helpers.py:251-257):
    canonical groups of 4 with = padding; unbase64 round-trip guards it."""
    c = F.regexp_replace(col, "\\s", "")
    return c.rlike("^([A-Za-z0-9+/]{4})*([A-Za-z0-9+/]{2}[AEIMQUYcgkosw048]=|[A-Za-z0-9+/][AQgw]==)?$")


def union_decode(col: Column, member_types: list[str]) -> Column:
    """XsdUnion: first member type that decodes wins
    (reference: simple_types.py:1178-1211). Ordered try_cast coalesce;
    result is a string-tagged struct so heterogeneous members coexist.
    All-null => no member matched => violation upstream."""
    branches = []
    for t in member_types:
        casted = col.cast("string")
        ok = casted.try_cast(t)
        branches.append(
            F.when(ok.isNotNull(), F.struct(F.lit(t).alias("member"),
                                            ok.cast("string").alias("value")))
        )
    return F.coalesce(*branches)
