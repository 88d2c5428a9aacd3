"""Reference-parity signs operators: project, multi-geometry explode, filter.

The canonical geometry encoding is ``(geom_type: string, coordinates: string)``
where ``coordinates`` is compact JSON — this sidesteps GeoJSON's ragged array
nesting (Point ``[x,y]`` vs MultiPolygon ``[[[[x,y]…]…]…]``) which has no
single Spark array type. Geometry stays an opaque, cheap-to-move string;
the only structural operation the reference performs on it is peeling one
nesting level off ``Multi*`` (``task.ts:86-101``), which we implement as
Spark's own JSON parser (``from_json`` to ``array<string>``) + ``posexplode``.

Feature schema: ``id string, geom_type string, coordinates string,
properties map<string,string>``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def project_features(df: DataFrame) -> DataFrame:
    """A2 (task.ts:76-85): keep id + geometry, drop all properties.

    The id is ``properties.id`` — the reference uses ``sign.properties.id``
    unconditionally (task.ts:79). As an explicit extension (not reference
    behavior), a feature with no ``properties.id`` falls back to its
    top-level GeoJSON id rather than yielding null.
    """
    props_id = F.element_at(F.col("properties"), F.lit("id"))
    id_col = F.coalesce(props_id, F.col("id")) if "id" in df.columns else props_id
    return df.select(
        id_col.alias("id"),
        F.col("geom_type"),
        F.col("coordinates"),
        F.lit(None).cast("map<string,string>").alias("properties"),
    )


def explode_multi(df: DataFrame) -> DataFrame:
    """A3 (task.ts:86-101): explode Multi* geometries into single-part rows.

    - ``MultiX`` with n members → n rows, geom_type ``X``, id suffixed
      ``-0 … -(n-1)`` in member order (posexplode is position-stable).
    - empty-coordinates Multi → zero rows (the reference's loop body never
      runs; posexplode of an empty array emits nothing).
    - non-Multi rows pass through unchanged.

    Members come from ``from_json(coordinates, 'array<string>')``: each
    top-level element as compact JSON text, written by the same serializer
    that produced ``coordinates`` (sources/geojson.py), so a member's text
    equals that of the single geometry with the same values. ``FAILFAST``
    raises ``MALFORMED_RECORD_IN_PARSING`` on coordinates that are not a
    JSON array instead of dropping the row.
    """
    is_multi = F.col("geom_type").startswith("Multi")
    members = F.when(
        is_multi,
        F.from_json(F.col("coordinates"), "array<string>", {"mode": "FAILFAST"}),
    ).otherwise(F.array(F.col("coordinates")))
    other_cols = [c for c in df.columns if c not in ("geom_type", "coordinates", "id")]
    exploded = df.select(
        "id",
        "geom_type",
        *other_cols,
        F.posexplode(members).alias("pos", "member"),
    )
    return exploded.select(
        F.when(
            F.col("geom_type").startswith("Multi"),
            F.concat(F.col("id"), F.lit("-"), F.col("pos").cast("string")),
        )
        .otherwise(F.col("id"))
        .alias("id"),
        F.regexp_replace("geom_type", "^Multi", "").alias("geom_type"),
        F.col("member").alias("coordinates"),
        *other_cols,
    )


def filter_geometry(df: DataFrame, allowed: list[str]) -> DataFrame:
    """A5 (task.ts:110-112): keep rows whose geom_type is in the allow-list."""
    return df.filter(F.col("geom_type").isin(allowed))


def signs_pipeline(df: DataFrame, allowed: list[str]) -> DataFrame:
    """The complete reference dataflow (task.ts:76-112): A2 → A3 → A5."""
    return filter_geometry(explode_multi(project_features(df)), allowed)


def signs_pipeline_observed(df: DataFrame, allowed: list[str]) -> DataFrame:
    """A9 (task.ts:61,73,77): the pipeline with observability counters.

    `observe()` metrics ride along with the job (no extra pass, unlike the
    reference's driver-side count). Note: the reference's per-record
    `console.error(sign)` dump runs unconditionally, ignoring its own DEBUG
    flag (task.ts:77 vs :10) — a reference bug; this engine exposes counts
    through metrics and leaves row dumps to an explicit debug sample
    (`df.show()` by the caller), never an unconditional per-row print.
    """
    observed_in = project_features(df).observe(
        "signs_in", F.count(F.lit(1)).alias("n_features_in")
    )
    out = filter_geometry(explode_multi(observed_in), allowed)
    return out.observe("signs_out", F.count(F.lit(1)).alias("n_features_out"))
