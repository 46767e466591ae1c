"""F5: charset detection as a vectorized batch operator.

The reference detects charsets with cchardet over the whole payload
(warcit/warcit.py:670-684) or takes tika's value with default-8bit
suppression (:686-708).  cchardet is not in this container, so the
detector here is a deterministic three-step heuristic with the same
output vocabulary (``ascii`` / ``UTF-8`` / ``WINDOWS-1252``):

1. pure 7-bit payload -> ``ascii``  (which the suppression rules then
   drop, warcit.py:683-684 — the contract under test);
2. valid UTF-8 -> ``UTF-8``;
3. anything else -> ``WINDOWS-1252`` (every byte string decodes).

The *rules* layered on top (functions/mime.charset_suffix_expr) are the
reference contract; the detector is a pluggable batch function — swap in
cchardet per Arrow batch on a real deployment without touching the plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warcit_spark.functions.mime import charset_suffix_expr


def _real_detector():
    """Import-gated reference-grade detector (cchardet, else chardet —
    both expose ``detect(bytes) -> {'encoding': ...}``).  Returns None in
    environments without either, in which case the deterministic heuristic
    below runs, so a deployment with either library installed gets
    warcit.py:670-684 detection without code changes."""
    try:
        import cchardet  # noqa: import-gated; absent in sandbox

        return cchardet.detect
    except ImportError:
        pass
    try:
        import chardet  # noqa: import-gated; absent in sandbox

        return chardet.detect
    except ImportError:
        return None


def detect_charsets_batch(payloads: pd.Series) -> pd.Series:
    detect = _real_detector()

    def one(b) -> str | None:
        if b is None:
            return None
        b = bytes(b)
        if not b:
            return None
        if detect is not None:
            # reference semantics (warcit.py:672-678): falsy result or
            # missing encoding -> no charset
            result = detect(b)
            return (result or {}).get("encoding") or None
        try:
            b.decode("ascii")
            return "ascii"
        except UnicodeDecodeError:
            pass
        try:
            b.decode("utf-8")
            return "UTF-8"
        except UnicodeDecodeError:
            return "WINDOWS-1252"

    return payloads.map(one)


def with_detected_charset(
    df: DataFrame, payload_col: str = "content", out_col: str = "detected_charset"
) -> DataFrame:
    """Annotate rows with the detected charset (pandas UDF, Arrow batches)."""
    udf = F.pandas_udf(detect_charsets_batch, "string")
    return df.withColumn(out_col, udf(F.col(payload_col)))


def content_type_with_charset(
    df: DataFrame,
    mime_col: str = "mime",
    payload_col: str = "content",
    mapfile_ct_col: str | None = None,
) -> DataFrame:
    """Full F5 pipeline: detect only where the rules could use the result
    (text/* rows — column pruning keeps payloads of other rows unread),
    then apply the suppression rules and build the final Content-Type."""
    mapfile_ct = (
        F.col(mapfile_ct_col) if mapfile_ct_col else F.lit(None).cast("string")
    )
    udf = F.pandas_udf(detect_charsets_batch, "string")
    detected = F.when(
        F.col(mime_col).startswith("text/"), udf(F.col(payload_col))
    )
    suffix = charset_suffix_expr(F.col(mime_col), mapfile_ct, detected)
    return df.withColumn(
        "content_type", F.concat(F.col(mime_col), suffix)
    )
