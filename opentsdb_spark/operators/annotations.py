"""Annotations — time-bounded notes on a series (TSUID) or global.

Reference: src/meta/Annotation.java (fields tsuid/start/end/description/
notes/custom; global when tsuid is empty), served by /api/annotation
(src/tsd/AnnotationRpc.java). The reference's getGlobalAnnotations /
getAnnotations scan the data table over a time range; here annotations are
a small DataFrame filtered natively and merged onto query output at the
serialization layer (matching how HttpJsonSerializer attaches them).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame

from opentsdb_spark.session import tiny_df
from pyspark.sql import functions as F
from pyspark.sql import types as T

ANNOTATION_SCHEMA = T.StructType(
    [
        T.StructField("tsuid", T.StringType(), True),  # null => global
        T.StructField("start_time", T.TimestampType(), False),
        T.StructField("end_time", T.TimestampType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("notes", T.StringType(), True),
        T.StructField("custom", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def _key_pred(tsuid: str | None, start_ms: int):
    """Annotation identity = (tsuid, start_time); tsuid null = global
    (reference src/meta/Annotation.java:60-74 row-key construction)."""
    t = F.col("tsuid").eqNullSafe(F.lit(tsuid))
    return t & (F.unix_millis("start_time") == start_ms)


def upsert_annotation(
    annotations: DataFrame,
    tsuid: str | None,
    start_ms: int,
    end_ms: int | None = None,
    description: str | None = None,
    notes: str | None = None,
    custom: dict[str, str] | None = None,
    replace: bool = False,
) -> DataFrame:
    """Create or update one annotation (reference AnnotationRpc.java POST/
    PUT handling: PUT replaces the whole record, POST merges provided fields
    onto the stored ones via syncToStorage overwrite=false).

    Pure frame rewrite: the non-key rows pass through untouched; the (at
    most one) old row left-joins onto the new values for field coalescing.
    Annotation frames are metadata-sized — this is not a data-path op."""
    spark = annotations.sparkSession
    new = tiny_df(
        spark, [(tsuid, start_ms, end_ms, description, notes, custom)],
        "tsuid string, __start_ms long, __end_ms long, description string, "
        "notes string, custom map<string,string>",
    ).select(
        "tsuid",
        F.timestamp_millis("__start_ms").alias("start_time"),
        F.timestamp_millis("__end_ms").alias("end_time"),
        "description", "notes", "custom",
    )
    rest = annotations.where(~_key_pred(tsuid, start_ms))
    if replace:
        return rest.unionByName(new)
    old = annotations.where(_key_pred(tsuid, start_ms)).select(
        *[F.col(c).alias(f"o_{c}") for c in annotations.columns]
    )
    merged = new.join(old, F.lit(True), "left").select(
        "tsuid", "start_time",
        F.coalesce("end_time", "o_end_time").alias("end_time"),
        F.coalesce("description", "o_description").alias("description"),
        F.coalesce("notes", "o_notes").alias("notes"),
        F.coalesce("custom", "o_custom").alias("custom"),
    )
    return rest.unionByName(merged)


def delete_annotation(annotations: DataFrame, tsuid: str | None, start_ms: int) -> DataFrame:
    """DELETE /api/annotation (reference AnnotationRpc.java:141-156)."""
    return annotations.where(~_key_pred(tsuid, start_ms))


def bulk_delete_annotations(
    annotations: DataFrame,
    start_ms: int,
    end_ms: int,
    tsuids: tuple[str, ...] = (),
    global_: bool = False,
) -> DataFrame:
    """Bulk delete by time range x (tsuids | global) — reference
    AnnotationRpc bulk endpoint / Annotation.deleteRange
    (src/meta/Annotation.java:260-319: deletes annotations whose START
    falls inside the range)."""
    if not tsuids and not global_:
        # reference AnnotationRpc bulk delete 400s without a target — a
        # silent no-op here would report totalDeleted: 0 as success
        raise ValueError("bulk annotation delete needs 'tsuids' or the global flag")
    in_range = (F.unix_millis("start_time") >= start_ms) & (
        F.unix_millis("start_time") <= end_ms
    )
    target = F.lit(False)
    if tsuids:
        target = target | F.col("tsuid").isin(list(tsuids))
    if global_:
        target = target | F.col("tsuid").isNull()
    return annotations.where(~(in_range & target))


# characters written as \uXXXX escapes inside a SQL string literal: quotes
# and backslashes could end or alter it, and ``$`` could start a ${...}
# variable reference, which Spark's parser substitutes before lexing
_SQL_UNSAFE = re.compile(r"[^A-Za-z0-9 ._\-=,{}]")


def _sql_escape(m: re.Match) -> str:
    b = m.group().encode("utf-16-be")
    return "".join(f"\\u{b[i]:02x}{b[i + 1]:02x}" for i in range(0, len(b), 2))


def _isin(col: str, values) -> Column:
    """``col IN (values)`` parsed from one SQL string. ``Column.isin`` makes
    one Py4J call per value (~0.5 ms each), so a request matching a thousand
    series would spend more building the filter than running the lookup."""
    lits = ",".join("'" + _SQL_UNSAFE.sub(_sql_escape, v) + "'" for v in values)
    return F.expr(f"`{col}` IN ({lits})")


def annotations_in_range(
    annotations: DataFrame,
    start_ms: int,
    end_ms: int,
    tsuids: tuple[str, ...] = (),
    include_global: bool = True,
) -> DataFrame:
    """Annotations overlapping [start, end] for the given series (and/or
    global ones) — the /api/annotation query path, and /api/query's lookup
    with the series ids its resolution matched. The identity filter is an
    ``IN`` list of literals, so only the annotation frame is read. With
    neither ``tsuids`` nor ``include_global`` no identity filter applies."""
    overlap = (F.unix_millis("start_time") <= end_ms) & (
        F.coalesce(F.unix_millis("end_time"), F.unix_millis("start_time")) >= start_ms
    )
    df = annotations.where(overlap)
    preds = []
    if tsuids:
        preds.append(_isin("tsuid", tsuids))
    if include_global:
        preds.append(F.col("tsuid").isNull())
    if preds:
        p = preds[0]
        for q in preds[1:]:
            p = p | q
        df = df.where(p)
    return df
