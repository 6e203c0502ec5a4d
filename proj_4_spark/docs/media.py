"""media_ref geo-tag codec + span-sequence invariant.

The media_ref encoding is defined in FIXTURES.md §1:
  media://{doc_id}/{k}?lon={lon:.9f}&lat={lat:.9f}&crs={crs}

Extraction is pure JVM-side (regexp_extract inside whole-stage codegen),
and so is the geodetic transform downstream: the document pipeline's
webmerc step is a Catalyst twin (``describe_route`` reads ``fwd``), so
the pipeline starts no Python worker (SURVEY.md §7.0 "no per-row
Python").
"""

from __future__ import annotations

from proj_4_spark.sqltext import codegen_barrier
from proj_4_spark.templates import templated


def _extract(key: str, value: str) -> str:
    """regexp_extract of one media_ref query parameter, as SQL text."""
    return f"regexp_extract(span.media_ref, '[?&]{key}=({value})', 1)"


def explode_media_points(docs_df):
    """documents(doc_id, spans) -> one row per media span with parsed
    lon/lat (degrees, EPSG:4326 per fixture contract).

    Plan shape: posexplode(arrays_zip(spans.kind, spans.media_ref,
    spans.offset)) -> filter kind='media' -> regexp projections, all
    JVM-side; the zip keeps span ``text`` out of a parquet scan's
    ReadSchema.  An unparseable lon/lat is NULL (``try_cast``, under
    ANSI too), an error row downstream.  Built as SQL text
    (proj_4_spark/sqltext.py) and analysed once per template key: the
    session, `docs_df`'s output attributes (name, type, nullability,
    metadata, qualifier) and the ANSI and case-sensitivity confs
    (proj_4_spark/templates.py); every call rebinds that plan onto
    `docs_df`, so it needs a Classic session.  The observation at the
    region barrier is named once per template.
    """
    return templated(_explode, (), docs_df)


def _explode(docs_df):
    out = (docs_df.selectExpr(
               "doc_id", "posexplode(arrays_zip(spans.kind, spans.media_ref, "
               "spans.offset)) AS (span_idx, span)")
           .where("span.kind = 'media'")
           .selectExpr(
               "doc_id", "span.offset AS span_offset",
               f"try_cast({_extract('lon', '-?[0-9.]+')} AS DOUBLE) AS lon",
               f"try_cast({_extract('lat', '-?[0-9.]+')} AS DOUBLE) AS lat",
               f"{_extract('crs', '[A-Za-z0-9:]+')} AS crs"))
    # r8: close the whole-stage-codegen region here.  Fused with a
    # downstream projection twin (the doc-geo pipeline's webmerc leg)
    # the combined method reached 10,218 bytecodes — past HotSpot's
    # 8000-byte JIT ceiling, so the hottest headline region ran
    # interpreted.  The barrier costs one row-count accumulator and
    # splits explode+regex from the projection math (both sub-8k).
    return codegen_barrier(out)


def span_fingerprint(docs_df, col: str = "span_fp"):
    """Per-row fingerprint of the span sequence (kind, text, media_ref,
    order) — the invariant the engine must preserve end-to-end
    (BASELINE.json input_hint "span-sequence equality").

    xxhash64 over the canonical concatenation; computed JVM-side.
    """
    from pyspark.sql import functions as F

    canon = F.transform(
        "spans",
        lambda s: F.concat_ws(
            "\x1f", s["kind"], s["text"], s["media_ref"], s["offset"].cast("string")
        ),
    )
    return docs_df.withColumn(col, F.xxhash64(F.concat_ws("\x1e", canon)))


def assert_span_equality(spark, before_df, after_df) -> int:
    """Count rows whose span sequence changed between two document
    DataFrames (must be 0).  Join on doc_id, compare fingerprints.
    At scale both sides bucket/partition by doc_id so this is a
    co-partitioned join."""
    from pyspark.sql import functions as F

    b = span_fingerprint(before_df, "fp_before").select("doc_id", "fp_before")
    a = span_fingerprint(after_df, "fp_after").select("doc_id", "fp_after")
    return (
        b.join(a, "doc_id", "full_outer")
        .where(
            F.col("fp_before").isNull()
            | F.col("fp_after").isNull()
            | (F.col("fp_before") != F.col("fp_after"))
        )
        .count()
    )
