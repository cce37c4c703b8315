"""Geospatial function surface (reference: presto-geospatial/.../GeoFunctions.java,
69 @ScalarFunction entries, and BingTileFunctions.java).

Two tiers, matching how each function family can actually run fast on
Spark:

1. **Pure-SQL temp functions** (Catalyst-inlined, whole-stage codegen —
   zero Python): constructors and coordinate math with closed forms —
   ``st_point`` (GeoFunctions.java ST_Point:180), point distance
   (ST_Distance:939 for the point case), and the Bing tile family
   (BingTileFunctions.java: longitude/latitude -> tile x/y at a zoom,
   quadkey via bit interleave — all arithmetic, so it belongs JVM-side).

2. **Arrow-vectorized pandas UDFs** for WKT geometry operations that need
   real parsing (ST_Area:— shoelace, ST_Centroid, ST_Envelope,
   ST_Contains:1044, ST_Intersects:1101, ST_Within, perimeter, point
   count). Batch transfer via Arrow; the per-geometry work reuses
   ``sensql.geometry``'s pure-Python kernels. This replaces round-1's
   row-at-a-time ``spark.udf.register`` lambdas (the classic scale-killer
   the round-1 advisor flagged): same semantics, Arrow-batched transport.
   A shapely-backed fast path would slot in here unchanged (gated import —
   shapely is not in this container).

The metadata-plane DuckDB UDFs in ``sensql.geometry`` are unchanged —
row-Python is the right cost for the (small) node catalog; THIS module is
the in-engine surface for queries over fact tables.
"""

from __future__ import annotations

import math
import re
import weakref

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sensql_presto_spark.sensql import geometry as G

# --- tier 1: codegen'd SQL temp functions -----------------------------------

_GEO_SQL_FUNCTIONS: tuple[str, ...] = (
    # ST_Point constructor as WKT (GeoFunctions.java:180). String-typed WKT
    # is the engine's geometry interchange format (SenSQL metadata plane
    # speaks the same).
    """CREATE OR REPLACE TEMPORARY FUNCTION st_point(x DOUBLE, y DOUBLE)
       RETURNS STRING RETURN concat('POINT (', cast(x AS STRING), ' ', cast(y AS STRING), ')')""",
    # Point-point euclidean distance on raw coordinates (the fast path —
    # no WKT round trip when coordinates are already columns).
    """CREATE OR REPLACE TEMPORARY FUNCTION st_distance_points(
           x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE)
       RETURNS DOUBLE RETURN sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))""",
    # Bing tile x at (longitude, zoom): floor((lon+180)/360 * 2^zoom),
    # clamped to the tile range (BingTileFunctions.java longitudeToTileX).
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_x_at(lon DOUBLE, zoom INT)
       RETURNS BIGINT RETURN
       least(cast(power(2, zoom) AS BIGINT) - 1,
             greatest(0L, cast(floor((lon + 180.0) / 360.0 * power(2, zoom)) AS BIGINT)))""",
    # Bing tile y at (latitude, zoom): Web-Mercator projection.
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_y_at(lat DOUBLE, zoom INT)
       RETURNS BIGINT RETURN
       least(cast(power(2, zoom) AS BIGINT) - 1,
             greatest(0L, cast(floor(
                 (0.5 - ln((1.0 + sin(radians(lat))) / (1.0 - sin(radians(lat))))
                  / (4.0 * pi())) * power(2, zoom)) AS BIGINT)))""",
    # Quadkey: zoom base-4 digits, MSB first — digit i is the interleave of
    # tile-x and tile-y bits (BingTileFunctions.java toQuadKey). Expressed
    # as transform over a sequence: pure Catalyst, no UDF.
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_quadkey(x BIGINT, y BIGINT, zoom INT)
       RETURNS STRING RETURN
       concat_ws('', transform(sequence(zoom, 1, -1),
           i -> cast((shiftright(x, i - 1) & 1) + 2 * (shiftright(y, i - 1) & 1) AS STRING)))""",
    # Inverse quadkey -> tile x / tile y / zoom (BingTileFunctions.java
    # fromQuadKey): fold the base-4 digits; bit 0 is x, bit 1 is y.
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_x_from_quadkey(qk STRING)
       RETURNS BIGINT RETURN
       aggregate(sequence(1, length(qk)), 0L,
           (acc, i) -> acc * 2 + cast(substring(qk, i, 1) AS BIGINT) % 2)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_y_from_quadkey(qk STRING)
       RETURNS BIGINT RETURN
       aggregate(sequence(1, length(qk)), 0L,
           (acc, i) -> acc * 2 + cast(cast(substring(qk, i, 1) AS BIGINT) / 2 AS BIGINT))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_zoom_level(qk STRING)
       RETURNS INT RETURN length(qk)""",
    # Tile -> WKT envelope (BingTileFunctions.java tileToEnvelope): inverse
    # Web-Mercator. Pure math, codegen'd.
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_polygon(x BIGINT, y BIGINT, zoom INT)
       RETURNS STRING RETURN
       concat('POLYGON ((',
           cast(x / power(2, zoom) * 360.0 - 180.0 AS STRING), ' ',
           cast(degrees(atan(sinh(pi() * (1 - 2 * (y + 1) / power(2, zoom))))) AS STRING), ', ',
           cast((x + 1) / power(2, zoom) * 360.0 - 180.0 AS STRING), ' ',
           cast(degrees(atan(sinh(pi() * (1 - 2 * (y + 1) / power(2, zoom))))) AS STRING), ', ',
           cast((x + 1) / power(2, zoom) * 360.0 - 180.0 AS STRING), ' ',
           cast(degrees(atan(sinh(pi() * (1 - 2 * y / power(2, zoom))))) AS STRING), ', ',
           cast(x / power(2, zoom) * 360.0 - 180.0 AS STRING), ' ',
           cast(degrees(atan(sinh(pi() * (1 - 2 * y / power(2, zoom))))) AS STRING), '))')""",
    # Great-circle distance in km (SphericalGeoFunctions.java:
    # ST_Distance on SphericalGeography), haversine form.
    """CREATE OR REPLACE TEMPORARY FUNCTION great_circle_distance(
           lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE)
       RETURNS DOUBLE RETURN
       2 * 6371.01 * asin(sqrt(
           power(sin(radians(lat2 - lat1) / 2), 2)
           + cos(radians(lat1)) * cos(radians(lat2))
             * power(sin(radians(lon2 - lon1) / 2), 2)))""",
    # WKT coordinate accessors as pure SQL: extract the numeric pairs with
    # regexp_extract_all, fold with HOFs — whole-stage codegen, no Python.
    """CREATE OR REPLACE TEMPORARY FUNCTION st_xs(wkt STRING)
       RETURNS ARRAY<DOUBLE> RETURN
       transform(regexp_extract_all(wkt, '(-?[0-9]+\\\\.?[0-9]*) -?[0-9]+\\\\.?[0-9]*', 1),
                 v -> cast(v AS DOUBLE))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_ys(wkt STRING)
       RETURNS ARRAY<DOUBLE> RETURN
       transform(regexp_extract_all(wkt, '-?[0-9]+\\\\.?[0-9]* (-?[0-9]+\\\\.?[0-9]*)', 1),
                 v -> cast(v AS DOUBLE))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_xmin(wkt STRING)
       RETURNS DOUBLE RETURN array_min(st_xs(wkt))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_xmax(wkt STRING)
       RETURNS DOUBLE RETURN array_max(st_xs(wkt))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_ymin(wkt STRING)
       RETURNS DOUBLE RETURN array_min(st_ys(wkt))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_ymax(wkt STRING)
       RETURNS DOUBLE RETURN array_max(st_ys(wkt))""",
    # Type/dimension probes (GeoFunctions.java ST_GeometryType,
    # ST_Dimension, ST_CoordDim, ST_IsEmpty, ST_IsClosed).
    """CREATE OR REPLACE TEMPORARY FUNCTION st_geometry_type(wkt STRING)
       RETURNS STRING RETURN
       CASE WHEN wkt LIKE 'POINT%' THEN 'ST_Point'
            WHEN wkt LIKE 'LINESTRING%' THEN 'ST_LineString'
            WHEN wkt LIKE 'POLYGON%' THEN 'ST_Polygon'
            WHEN wkt LIKE 'MULTIPOINT%' THEN 'ST_MultiPoint'
            ELSE 'ST_Geometry' END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_dimension(wkt STRING)
       RETURNS INT RETURN
       CASE WHEN wkt LIKE 'POINT%' OR wkt LIKE 'MULTIPOINT%' THEN 0
            WHEN wkt LIKE 'LINESTRING%' THEN 1
            WHEN wkt LIKE 'POLYGON%' THEN 2 END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_coorddim(wkt STRING)
       RETURNS INT RETURN 2""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_is_empty(wkt STRING)
       RETURNS BOOLEAN RETURN wkt LIKE '%EMPTY%' OR size(st_xs(wkt)) = 0""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_is_closed(wkt STRING)
       RETURNS BOOLEAN RETURN
       size(st_xs(wkt)) > 1
       AND element_at(st_xs(wkt), 1) = element_at(st_xs(wkt), -1)
       AND element_at(st_ys(wkt), 1) = element_at(st_ys(wkt), -1)""",
    # Linestring length: fold consecutive-point distances (ST_Length:—).
    """CREATE OR REPLACE TEMPORARY FUNCTION st_length(wkt STRING)
       RETURNS DOUBLE RETURN
       CASE WHEN wkt LIKE 'LINESTRING%' THEN
           aggregate(sequence(1, size(st_xs(wkt)) - 1), cast(0 AS DOUBLE),
               (acc, i) -> acc + sqrt(
                   power(element_at(st_xs(wkt), i + 1) - element_at(st_xs(wkt), i), 2)
                   + power(element_at(st_ys(wkt), i + 1) - element_at(st_ys(wkt), i), 2)))
           ELSE 0.0 END""",
    # Disjoint / equals as compositions (ST_Disjoint, ST_Equals).
    """CREATE OR REPLACE TEMPORARY FUNCTION st_equals(a STRING, b STRING)
       RETURNS BOOLEAN RETURN
       regexp_replace(upper(a), '\\\\s+', ' ') = regexp_replace(upper(b), '\\\\s+', ' ')""",
    # WKT normalization in/out (ST_GeometryFromText, ST_AsText): the engine's
    # interchange format IS WKT, so these normalize casing/whitespace.
    """CREATE OR REPLACE TEMPORARY FUNCTION st_geometry_from_text(wkt STRING)
       RETURNS STRING RETURN regexp_replace(upper(trim(wkt)), '\\\\s+', ' ')""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_astext(g STRING)
       RETURNS STRING RETURN g""",
    # Vertex accessors (GeoFunctions.java ST_StartPoint, ST_EndPoint,
    # ST_PointN, ST_InteriorRingN-free subset): n is 1-based like Presto.
    """CREATE OR REPLACE TEMPORARY FUNCTION st_point_n(wkt STRING, n INT)
       RETURNS STRING RETURN
       CASE WHEN n BETWEEN 1 AND size(st_xs(wkt))
            THEN concat('POINT (', cast(element_at(st_xs(wkt), n) AS STRING), ' ',
                        cast(element_at(st_ys(wkt), n) AS STRING), ')') END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_start_point(wkt STRING)
       RETURNS STRING RETURN st_point_n(wkt, 1)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_end_point(wkt STRING)
       RETURNS STRING RETURN st_point_n(wkt, size(st_xs(wkt)))""",
    # Typed constructors = validated normalization (ST_LineFromText,
    # ST_Polygon): reject mismatched WKT kinds with NULL, Presto-style cast
    # semantics under TRY.
    """CREATE OR REPLACE TEMPORARY FUNCTION st_line_from_text(wkt STRING)
       RETURNS STRING RETURN
       CASE WHEN upper(trim(wkt)) LIKE 'LINESTRING%'
            THEN regexp_replace(upper(trim(wkt)), '\\\\s+', ' ') END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_polygon(wkt STRING)
       RETURNS STRING RETURN
       CASE WHEN upper(trim(wkt)) LIKE 'POLYGON%'
            THEN regexp_replace(upper(trim(wkt)), '\\\\s+', ' ') END""",
    # ST_Boundary of a polygon ring = its exterior LINESTRING.
    """CREATE OR REPLACE TEMPORARY FUNCTION st_boundary(wkt STRING)
       RETURNS STRING RETURN
       CASE WHEN wkt LIKE 'POLYGON%'
            THEN concat('LINESTRING (', regexp_extract(wkt, '\\\\(\\\\((.*)\\\\)\\\\)', 1), ')')
            WHEN wkt LIKE 'LINESTRING%' THEN
                concat('MULTIPOINT (', cast(element_at(st_xs(wkt), 1) AS STRING), ' ',
                       cast(element_at(st_ys(wkt), 1) AS STRING), ', ',
                       cast(element_at(st_xs(wkt), -1) AS STRING), ' ',
                       cast(element_at(st_ys(wkt), -1) AS STRING), ')') END""",
    # ST_NumGeometries: 1 for simple kinds, member count for MULTIPOINT.
    """CREATE OR REPLACE TEMPORARY FUNCTION st_num_geometries(wkt STRING)
       RETURNS INT RETURN
       CASE WHEN wkt LIKE 'MULTIPOINT%' THEN size(st_xs(wkt))
            WHEN wkt LIKE '%EMPTY%' THEN 0 ELSE 1 END""",
    # Ring accessors for single-ring polygons (the engine's polygon model;
    # GeoFunctions.java ST_ExteriorRing, ST_NumInteriorRing).
    """CREATE OR REPLACE TEMPORARY FUNCTION st_exterior_ring(wkt STRING)
       RETURNS STRING RETURN
       CASE WHEN wkt LIKE 'POLYGON%'
            THEN concat('LINESTRING (', regexp_extract(wkt, '\\\\(\\\\((.*)\\\\)\\\\)', 1), ')') END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_num_interior_ring(wkt STRING)
       RETURNS INT RETURN CASE WHEN wkt LIKE 'POLYGON%' THEN 0 END""",
    # Validity/simplicity for the supported WKT kinds: parseable, paired
    # coordinates, non-empty (ST_IsValid, ST_IsSimple, ST_IsRing).
    """CREATE OR REPLACE TEMPORARY FUNCTION st_is_valid(wkt STRING)
       RETURNS BOOLEAN RETURN
       size(st_xs(wkt)) = size(st_ys(wkt)) AND size(st_xs(wkt)) > 0""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_is_simple(wkt STRING)
       RETURNS BOOLEAN RETURN
       st_is_valid(wkt) AND (NOT wkt LIKE 'LINESTRING%'
           OR size(array_distinct(arrays_zip(st_xs(wkt), st_ys(wkt))))
              >= size(st_xs(wkt)) - 1)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_is_ring(wkt STRING)
       RETURNS BOOLEAN RETURN st_is_closed(wkt) AND st_is_simple(wkt)""",
    # ST_Points: the vertex set as MULTIPOINT.
    """CREATE OR REPLACE TEMPORARY FUNCTION st_points(wkt STRING)
       RETURNS STRING RETURN
       concat('MULTIPOINT (',
              concat_ws(', ', transform(sequence(1, size(st_xs(wkt))),
                  i -> concat(cast(element_at(st_xs(wkt), i) AS STRING), ' ',
                              cast(element_at(st_ys(wkt), i) AS STRING)))), ')')""",
    # ST_GeometryN (1-based; MULTIPOINT members, else the geometry itself).
    """CREATE OR REPLACE TEMPORARY FUNCTION st_geometry_n(wkt STRING, n INT)
       RETURNS STRING RETURN
       CASE WHEN wkt LIKE 'MULTIPOINT%' THEN st_point_n(wkt, n)
            WHEN n = 1 THEN wkt END""",
    # bing_tiles_around: quadkeys of the 3x3 neighborhood, range-clamped
    # (BingTileFunctions.java bingTilesAround).
    # Helper: range-clamped quadkey (SQL-function inlining cannot pass a
    # LAMBDA variable into another SQL function, so the 3x3 neighborhood is
    # nine explicit calls — parameters and constants only).
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_quadkey_clamped(
           x BIGINT, y BIGINT, zoom INT) RETURNS STRING RETURN
       bing_tile_quadkey(
           least(cast(power(2, zoom) AS BIGINT) - 1, greatest(0L, x)),
           least(cast(power(2, zoom) AS BIGINT) - 1, greatest(0L, y)), zoom)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tiles_around(
           lat DOUBLE, lon DOUBLE, zoom INT) RETURNS ARRAY<STRING> RETURN
       array_distinct(array(
           bing_tile_quadkey_clamped(bing_tile_x_at(lon, zoom) - 1, bing_tile_y_at(lat, zoom) - 1, zoom),
           bing_tile_quadkey_clamped(bing_tile_x_at(lon, zoom),     bing_tile_y_at(lat, zoom) - 1, zoom),
           bing_tile_quadkey_clamped(bing_tile_x_at(lon, zoom) + 1, bing_tile_y_at(lat, zoom) - 1, zoom),
           bing_tile_quadkey_clamped(bing_tile_x_at(lon, zoom) - 1, bing_tile_y_at(lat, zoom),     zoom),
           bing_tile_quadkey_clamped(bing_tile_x_at(lon, zoom),     bing_tile_y_at(lat, zoom),     zoom),
           bing_tile_quadkey_clamped(bing_tile_x_at(lon, zoom) + 1, bing_tile_y_at(lat, zoom),     zoom),
           bing_tile_quadkey_clamped(bing_tile_x_at(lon, zoom) - 1, bing_tile_y_at(lat, zoom) + 1, zoom),
           bing_tile_quadkey_clamped(bing_tile_x_at(lon, zoom),     bing_tile_y_at(lat, zoom) + 1, zoom),
           bing_tile_quadkey_clamped(bing_tile_x_at(lon, zoom) + 1, bing_tile_y_at(lat, zoom) + 1, zoom)))""",
    # --- tranche 5: Bing tile parity names (BingTileFunctions.java) ---------
    # The engine's canonical tile representation IS the quadkey string (the
    # reference's BingTile object prints as one); these names mirror the
    # reference's constructors/accessors 1:1.
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile(x BIGINT, y BIGINT, zoom INT)
       RETURNS STRING RETURN bing_tile_quadkey(x, y, zoom)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_at(lat DOUBLE, lon DOUBLE, zoom INT)
       RETURNS STRING RETURN
       bing_tile_quadkey(bing_tile_x_at(lon, zoom), bing_tile_y_at(lat, zoom), zoom)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_coordinates(qk STRING)
       RETURNS STRUCT<x: BIGINT, y: BIGINT> RETURN
       named_struct('x', bing_tile_x_from_quadkey(qk), 'y', bing_tile_y_from_quadkey(qk))""",
    # bing_tile_children: the four zoom+1 tiles; quadkey children are exactly
    # the parent quadkey + one base-4 digit (BingTileFunctions.java).
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_children(qk STRING)
       RETURNS ARRAY<STRING> RETURN
       array(concat(qk, '0'), concat(qk, '1'), concat(qk, '2'), concat(qk, '3'))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION bing_tile_parent(qk STRING)
       RETURNS STRING RETURN
       CASE WHEN length(qk) > 1 THEN substring(qk, 1, length(qk) - 1) ELSE '' END""",
    # --- tranche 5: envelope/collection accessors ---------------------------
    # ST_EnvelopeAsPts (GeoFunctions.java): the two corner points of the
    # bounding box, [bottom-left, top-right].
    """CREATE OR REPLACE TEMPORARY FUNCTION st_envelope_as_pts(wkt STRING)
       RETURNS ARRAY<STRING> RETURN
       array(concat('POINT (', cast(st_xmin(wkt) AS STRING), ' ', cast(st_ymin(wkt) AS STRING), ')'),
             concat('POINT (', cast(st_xmax(wkt) AS STRING), ' ', cast(st_ymax(wkt) AS STRING), ')'))""",
    # ST_Geometries: member geometries of a collection; a simple geometry is
    # its own single-element array (NULL for empty, like the reference).
    """CREATE OR REPLACE TEMPORARY FUNCTION st_geometries(wkt STRING)
       RETURNS ARRAY<STRING> RETURN
       CASE WHEN wkt LIKE '%EMPTY%' THEN NULL
            WHEN wkt LIKE 'MULTIPOINT%' THEN
                transform(sequence(1, size(st_xs(wkt))),
                    i -> concat('POINT (', cast(element_at(st_xs(wkt), i) AS STRING), ' ',
                                cast(element_at(st_ys(wkt), i) AS STRING), ')'))
            ELSE array(wkt) END""",
    # ST_InteriorRings / ST_InteriorRingN: the engine's polygon model is
    # single-ring (matching the SenSQL metadata plane), so polygons have an
    # empty interior-ring set; non-polygons return NULL like the reference.
    """CREATE OR REPLACE TEMPORARY FUNCTION st_interior_rings(wkt STRING)
       RETURNS ARRAY<STRING> RETURN
       CASE WHEN wkt LIKE 'POLYGON%' THEN array() END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_interior_ring_n(wkt STRING, n INT)
       RETURNS STRING RETURN CAST(NULL AS STRING)""",
    # Typed constructors from point arrays (GeoFunctions.java ST_MultiPoint,
    # ST_LineString take ARRAY<Geometry>): pure string algebra, codegen'd.
    """CREATE OR REPLACE TEMPORARY FUNCTION st_multipoint(pts ARRAY<STRING>)
       RETURNS STRING RETURN
       concat('MULTIPOINT (',
              concat_ws(', ', transform(pts, p -> regexp_extract(p, 'POINT \\\\((.*)\\\\)', 1))),
              ')')""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_linestring(pts ARRAY<STRING>)
       RETURNS STRING RETURN
       concat('LINESTRING (',
              concat_ws(', ', transform(pts, p -> regexp_extract(p, 'POINT \\\\((.*)\\\\)', 1))),
              ')')""",
    """CREATE OR REPLACE TEMPORARY FUNCTION st_geometry(wkt STRING)
       RETURNS STRING RETURN st_geometry_from_text(wkt)""",
    # geometry_invalid_reason (GeoFunctions.java): NULL when valid, else a
    # human-readable reason — mirrors the checks st_is_valid performs.
    """CREATE OR REPLACE TEMPORARY FUNCTION geometry_invalid_reason(wkt STRING)
       RETURNS STRING RETURN
       CASE WHEN size(st_xs(wkt)) = 0 THEN 'Geometry has no coordinates'
            WHEN size(st_xs(wkt)) <> size(st_ys(wkt)) THEN 'Unpaired coordinate values'
            WHEN wkt LIKE 'POLYGON%' AND size(st_xs(wkt)) < 3 THEN 'Polygon has fewer than 3 points'
            END""",
    # GeoJSON in/out (GeoFunctions.java geometry_as_geojson /
    # geometry_from_geojson): POINT/LINESTRING/POLYGON, built and parsed with
    # string/JSON expressions — no Python.
    """CREATE OR REPLACE TEMPORARY FUNCTION geometry_as_geojson(wkt STRING)
       RETURNS STRING RETURN
       CASE WHEN wkt LIKE 'POINT%' THEN
                concat('{"type":"Point","coordinates":[',
                       cast(element_at(st_xs(wkt), 1) AS STRING), ',',
                       cast(element_at(st_ys(wkt), 1) AS STRING), ']}')
            WHEN wkt LIKE 'LINESTRING%' THEN
                concat('{"type":"LineString","coordinates":[',
                       concat_ws(',', transform(sequence(1, size(st_xs(wkt))),
                           i -> concat('[', cast(element_at(st_xs(wkt), i) AS STRING), ',',
                                       cast(element_at(st_ys(wkt), i) AS STRING), ']'))), ']}')
            WHEN wkt LIKE 'POLYGON%' THEN
                concat('{"type":"Polygon","coordinates":[[',
                       concat_ws(',', transform(sequence(1, size(st_xs(wkt))),
                           i -> concat('[', cast(element_at(st_xs(wkt), i) AS STRING), ',',
                                       cast(element_at(st_ys(wkt), i) AS STRING), ']'))), ']]}')
            END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION geometry_from_geojson(gj STRING)
       RETURNS STRING RETURN
       CASE get_json_object(gj, '$.type')
            WHEN 'Point' THEN
                concat('POINT (',
                       get_json_object(gj, '$.coordinates[0]'), ' ',
                       get_json_object(gj, '$.coordinates[1]'), ')')
            WHEN 'LineString' THEN
                concat('LINESTRING (', concat_ws(', ',
                    transform(from_json(get_json_object(gj, '$.coordinates'),
                                        'array<array<double>>'),
                        p -> concat(cast(element_at(p, 1) AS STRING), ' ',
                                    cast(element_at(p, 2) AS STRING)))), ')')
            WHEN 'Polygon' THEN
                concat('POLYGON ((', concat_ws(', ',
                    transform(element_at(from_json(get_json_object(gj, '$.coordinates'),
                                                   'array<array<array<double>>>'), 1),
                        p -> concat(cast(element_at(p, 1) AS STRING), ' ',
                                    cast(element_at(p, 2) AS STRING)))), '))')
            END""",
    # --- tranche 5: spherical geography (SphericalGeoFunctions.java) --------
    # to_spherical_geography validates lon/lat ranges (the reference throws;
    # TRY-friendly NULL here keeps Presto's cast-under-TRY semantics).
    """CREATE OR REPLACE TEMPORARY FUNCTION to_spherical_geography(wkt STRING)
       RETURNS STRING RETURN
       CASE WHEN forall(st_xs(wkt), x -> abs(x) <= 180.0)
             AND forall(st_ys(wkt), y -> abs(y) <= 90.0) THEN wkt END""",
    # Geodesic length of a (lon lat) linestring in meters: sum of
    # great-circle segment distances (SphericalGeoFunctions.java ST_Length).
    # The haversine is inlined in the lambda body — a lambda variable cannot
    # cross into another SQL function (same restriction as bing_tiles_around).
    """CREATE OR REPLACE TEMPORARY FUNCTION st_geography_length(wkt STRING)
       RETURNS DOUBLE RETURN
       aggregate(sequence(1, size(st_xs(wkt)) - 1), cast(0 AS DOUBLE),
           (acc, i) -> acc + 1000.0 * 2 * 6371.01 * asin(sqrt(
               power(sin(radians(element_at(st_ys(wkt), i + 1)
                                 - element_at(st_ys(wkt), i)) / 2), 2)
               + cos(radians(element_at(st_ys(wkt), i)))
                 * cos(radians(element_at(st_ys(wkt), i + 1)))
                 * power(sin(radians(element_at(st_xs(wkt), i + 1)
                                     - element_at(st_xs(wkt), i)) / 2), 2))))""",
    # geometry_to_bing_tiles: tiles covering the geometry's envelope
    # (BingTileFunctions.java geometryToBingTiles; tile count is bounded by
    # the caller's zoom choice, exactly as in the reference).
    # Envelope tile cover: the quadkey bit-interleave is inlined in the
    # lambda body (a lambda variable cannot cross into a SQL function, but
    # plain nested-lambda capture is fine).
    """CREATE OR REPLACE TEMPORARY FUNCTION geometry_to_bing_tiles(
           wkt STRING, zoom INT) RETURNS ARRAY<STRING> RETURN
       transform(
           sequence(0,
               cast((bing_tile_x_at(st_xmax(wkt), zoom) - bing_tile_x_at(st_xmin(wkt), zoom) + 1)
                    * (bing_tile_y_at(st_ymin(wkt), zoom) - bing_tile_y_at(st_ymax(wkt), zoom) + 1)
                    AS INT) - 1),
           i -> concat_ws('', transform(sequence(zoom, 1, -1),
               j -> cast(
                   (shiftright(bing_tile_x_at(st_xmin(wkt), zoom)
                               + cast(i / cast(bing_tile_y_at(st_ymin(wkt), zoom)
                                               - bing_tile_y_at(st_ymax(wkt), zoom) + 1 AS INT)
                                      AS INT), j - 1) & 1)
                   + 2 * (shiftright(bing_tile_y_at(st_ymax(wkt), zoom)
                                     + i % cast(bing_tile_y_at(st_ymin(wkt), zoom)
                                                - bing_tile_y_at(st_ymax(wkt), zoom) + 1 AS INT),
                                     j - 1) & 1)
                   AS STRING))))""",
    # geometry_to_dissolved_bing_tiles (BingTileFunctions.java
    # geometryToDissolvedBingTiles): replace any complete sibling set of four
    # child tiles with their parent. One dissolve level per call — the
    # reference recurses; callers can re-apply for coarser dissolves. The
    # single-element transform(array(...)) binds the tile list once so the
    # cover is not recomputed per lambda (SQL functions have no LET).
    """CREATE OR REPLACE TEMPORARY FUNCTION geometry_to_dissolved_bing_tiles(
           wkt STRING, zoom INT) RETURNS ARRAY<STRING> RETURN
       element_at(transform(array(geometry_to_bing_tiles(wkt, zoom)), tiles ->
           array_sort(array_union(
               filter(array_distinct(transform(tiles, t -> substring(t, 1, length(t) - 1))),
                      p -> array_contains(tiles, concat(p, '0'))
                           AND array_contains(tiles, concat(p, '1'))
                           AND array_contains(tiles, concat(p, '2'))
                           AND array_contains(tiles, concat(p, '3'))),
               filter(tiles, t ->
                   NOT (array_contains(tiles, concat(substring(t, 1, length(t) - 1), '0'))
                        AND array_contains(tiles, concat(substring(t, 1, length(t) - 1), '1'))
                        AND array_contains(tiles, concat(substring(t, 1, length(t) - 1), '2'))
                        AND array_contains(tiles, concat(substring(t, 1, length(t) - 1), '3'))))))),
           1)""",
)


# --- tier 2: Arrow-vectorized WKT geometry UDFs ------------------------------


def _series(fn, *cols: pd.Series) -> pd.Series:
    return pd.Series([
        None if any(v is None for v in vals) else fn(*vals)
        for vals in zip(*cols)
    ])


def _area(wkt: str) -> float:
    kind, coords = G.parse_wkt(wkt)
    if kind != "POLYGON":
        return 0.0
    s = 0.0
    n = len(coords)
    for i in range(n):
        (x1, y1), (x2, y2) = coords[i], coords[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return abs(s) / 2.0


def _perimeter(wkt: str) -> float:
    kind, coords = G.parse_wkt(wkt)
    if kind != "POLYGON":
        return 0.0
    n = len(coords)
    return sum(math.dist(coords[i], coords[(i + 1) % n]) for i in range(n))


def _centroid(wkt: str) -> str:
    kind, coords = G.parse_wkt(wkt)
    if kind == "POINT":
        return wkt
    # area-weighted polygon centroid (shoelace form)
    a = cx = cy = 0.0
    n = len(coords)
    for i in range(n):
        (x1, y1), (x2, y2) = coords[i], coords[(i + 1) % n]
        cross = x1 * y2 - x2 * y1
        a += cross
        cx += (x1 + x2) * cross
        cy += (y1 + y2) * cross
    a /= 2.0
    if a == 0:
        cx, cy = coords[0]
        return f"POINT ({cx} {cy})"
    return f"POINT ({cx / (6 * a)} {cy / (6 * a)})"


def _envelope(wkt: str) -> str:
    _, coords = G.parse_wkt(wkt)
    xs, ys = [p[0] for p in coords], [p[1] for p in coords]
    x0, x1, y0, y1 = min(xs), max(xs), min(ys), max(ys)
    return f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}))"


def _x(wkt: str) -> float:
    kind, coords = G.parse_wkt(wkt)
    return coords[0][0] if kind == "POINT" else None


def _y(wkt: str) -> float:
    kind, coords = G.parse_wkt(wkt)
    return coords[0][1] if kind == "POINT" else None


def _num_points(wkt: str) -> int:
    return len(G.parse_wkt(wkt)[1])


@F.pandas_udf(T.DoubleType())
def st_area(wkt: pd.Series) -> pd.Series:
    return _series(_area, wkt)


@F.pandas_udf(T.DoubleType())
def st_perimeter(wkt: pd.Series) -> pd.Series:
    return _series(_perimeter, wkt)


@F.pandas_udf(T.StringType())
def st_centroid(wkt: pd.Series) -> pd.Series:
    return _series(_centroid, wkt)


@F.pandas_udf(T.StringType())
def st_envelope(wkt: pd.Series) -> pd.Series:
    return _series(_envelope, wkt)


@F.pandas_udf(T.DoubleType())
def st_x(wkt: pd.Series) -> pd.Series:
    return _series(_x, wkt)


@F.pandas_udf(T.DoubleType())
def st_y(wkt: pd.Series) -> pd.Series:
    return _series(_y, wkt)


@F.pandas_udf(T.IntegerType())
def st_num_points(wkt: pd.Series) -> pd.Series:
    return _series(_num_points, wkt)


@F.pandas_udf(T.BooleanType())
def st_contains(outer: pd.Series, inner: pd.Series) -> pd.Series:
    return _series(G.st_contains, outer, inner)


@F.pandas_udf(T.BooleanType())
def st_within(inner: pd.Series, outer: pd.Series) -> pd.Series:
    return _series(lambda a, b: G.st_contains(b, a), inner, outer)


@F.pandas_udf(T.BooleanType())
def st_intersects(a: pd.Series, b: pd.Series) -> pd.Series:
    return _series(G.st_intersects, a, b)


@F.pandas_udf(T.DoubleType())
def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    return _series(G.st_distance, a, b)


def _convex_hull(wkt: str) -> str:
    """Andrew monotone chain over the geometry's vertices (ST_ConvexHull).

    Accepts MULTIPOINT/LINESTRING as well (the convex_hull_agg rollup path
    feeds collected MULTIPOINTs through here)."""
    _, coords = _parse(wkt)
    pts = sorted(set(coords))
    if len(pts) <= 2:
        return wkt

    def half(points):
        chain: list[tuple[float, float]] = []
        for p in points:
            while len(chain) >= 2 and (
                (chain[-1][0] - chain[-2][0]) * (p[1] - chain[-2][1])
                - (chain[-1][1] - chain[-2][1]) * (p[0] - chain[-2][0])
            ) <= 0:
                chain.pop()
            chain.append(p)
        return chain

    hull = half(pts)[:-1] + half(pts[::-1])[:-1]
    body = ", ".join(f"{x} {y}" for x, y in hull)
    return f"POLYGON (({body}))"


@F.pandas_udf(T.StringType())
def st_convex_hull(wkt: pd.Series) -> pd.Series:
    return _series(_convex_hull, wkt)


def _st_buffer(wkt: str, dist: float) -> str:
    """Buffer as the Minkowski sum with a 32-gon disc (GeoFunctions.java
    ST_Buffer).  POINT keeps the original exact 32-gon; MULTIPOINT /
    LINESTRING / POLYGON (r7 — closes the point-only gap) buffer the
    CONVEX HULL of the vertices: the hull of every vertex offset by the
    disc's vertices IS the Minkowski sum hull(input) ⊕ 32-gon, exact for
    convex inputs under the same circle approximation (the module's
    documented convex-model seam; concave rings buffer their hull)."""
    dist = float(dist)  # DECIMAL literals arrive as decimal.Decimal
    # reference contract (GeoFunctions.java:285-294): NaN and negative
    # distances are errors, zero returns the input unchanged
    if math.isnan(dist):
        raise ValueError("st_buffer: distance is NaN")
    if dist < 0:
        raise ValueError("st_buffer: distance is negative")
    if dist == 0:
        return wkt
    kind, coords = _parse(wkt)
    if kind == "POINT":
        x, y = coords[0]
        pts = ", ".join(
            f"{x + dist * math.cos(2 * math.pi * i / 32)} {y + dist * math.sin(2 * math.pi * i / 32)}"
            for i in range(33)
        )
        return f"POLYGON (({pts}))"
    if not coords:
        return wkt
    disc = [
        (
            dist * math.cos(2 * math.pi * i / 32),
            dist * math.sin(2 * math.pi * i / 32),
        )
        for i in range(32)
    ]
    cloud = sorted({(x + dx, y + dy) for x, y in coords for dx, dy in disc})
    return _convex_hull(_mk("MULTIPOINT", cloud))


@F.pandas_udf(T.StringType())
def st_buffer(wkt: pd.Series, dist: pd.Series) -> pd.Series:
    return _series(_st_buffer, wkt, dist)


# --- tranche 5 kernels: set ops, remaining predicates, WKB, line ops --------
#
# Geometry model (documented seam, same as st_buffer above): POINT /
# MULTIPOINT / LINESTRING / single-ring convex POLYGON — the shapes the
# SenSQL plane and the test fixtures produce.  Within that model the
# kernels below are EXACT (point-set algebra, Sutherland–Hodgman clipping,
# segment projection); outside it they return NULL rather than guessing.
# All run as Arrow-batched pandas UDFs — no row-at-a-time Python.

_KIND_RE = re.compile(
    r"\s*(POINT|MULTIPOINT|LINESTRING|POLYGON|GEOMETRYCOLLECTION)\b", re.IGNORECASE
)
_NUM_RE = re.compile(r"(-?\d+\.?\d*(?:[eE]-?\d+)?)\s+(-?\d+\.?\d*(?:[eE]-?\d+)?)")


def _parse(wkt: str) -> tuple[str, list[tuple[float, float]]]:
    """Extended WKT parse: POINT/MULTIPOINT/LINESTRING/POLYGON → vertices."""
    m = _KIND_RE.match(wkt)
    if not m:
        raise ValueError(f"unsupported WKT: {wkt!r}")
    kind = m.group(1).upper()
    coords = [(float(x), float(y)) for x, y in _NUM_RE.findall(wkt)]
    return kind, coords


def _fmt(v: float) -> str:
    return str(int(v)) if float(v).is_integer() else repr(float(v))


def _mk(kind: str, pts: list[tuple[float, float]]) -> str:
    body = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)
    if kind == "POINT":
        return f"POINT ({body})"
    if kind == "MULTIPOINT":
        return f"MULTIPOINT ({body})" if pts else "MULTIPOINT EMPTY"
    if kind == "LINESTRING":
        return f"LINESTRING ({body})"
    return f"POLYGON (({body}))" if pts else "POLYGON EMPTY"


def _clip_convex(subject: list, clip: list) -> list:
    """Sutherland–Hodgman: clip a convex polygon by a convex polygon (CCW)."""

    def inside(p, a, b):
        return (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0]) >= -1e-12

    def isect(p, q, a, b):
        x1, y1, x2, y2 = p[0], p[1], q[0], q[1]
        x3, y3, x4, y4 = a[0], a[1], b[0], b[1]
        den = (x1 - x2) * (y3 - y4) - (y1 - y2) * (x3 - x4)
        t = ((x1 - x3) * (y3 - y4) - (y1 - y3) * (x3 - x4)) / den
        return (x1 + t * (x2 - x1), y1 + t * (y2 - y1))

    def ccw(poly):
        s = sum(
            (poly[(i + 1) % len(poly)][0] - poly[i][0])
            * (poly[(i + 1) % len(poly)][1] + poly[i][1])
            for i in range(len(poly))
        )
        return poly if s < 0 else poly[::-1]

    out = ccw([p for p in subject])
    clip = ccw([p for p in clip])
    n = len(clip)
    for i in range(n):
        a, b = clip[i], clip[(i + 1) % n]
        inp, out = out, []
        if not inp:
            break
        s = inp[-1]
        for e in inp:
            if inside(e, a, b):
                if not inside(s, a, b):
                    out.append(isect(s, e, a, b))
                out.append(e)
            elif inside(s, a, b):
                out.append(isect(s, e, a, b))
            s = e
    # dedupe consecutive
    ded: list = []
    for p in out:
        if not ded or abs(p[0] - ded[-1][0]) > 1e-12 or abs(p[1] - ded[-1][1]) > 1e-12:
            ded.append(p)
    return ded


def _ring_area(pts: list) -> float:
    n = len(pts)
    return abs(sum(pts[i][0] * pts[(i + 1) % n][1] - pts[(i + 1) % n][0] * pts[i][1] for i in range(n))) / 2.0


def _pts_of(wkt: str) -> set:
    return set(_parse(wkt)[1])


def _st_intersection(a: str, b: str) -> str | None:
    (ka, ca), (kb, cb) = _parse(a), _parse(b)
    if ka in ("POINT", "MULTIPOINT") and kb in ("POINT", "MULTIPOINT"):
        common = sorted(set(ca) & set(cb))
        if not common:
            return "MULTIPOINT EMPTY"
        return _mk("POINT" if len(common) == 1 else "MULTIPOINT", common)
    if ka in ("POINT", "MULTIPOINT") or kb in ("POINT", "MULTIPOINT"):
        pts, kind, poly = (ca, ka, b) if ka in ("POINT", "MULTIPOINT") else (cb, kb, a)
        kept = sorted(p for p in pts if G.st_contains(poly, _mk("POINT", [p])))
        if not kept:
            return "MULTIPOINT EMPTY"
        return _mk("POINT" if len(kept) == 1 else "MULTIPOINT", kept)
    if ka == kb == "POLYGON":
        clipped = _clip_convex(ca, cb)
        return _mk("POLYGON", clipped) if len(clipped) >= 3 else "POLYGON EMPTY"
    return None  # line/line, line/polygon intersection: outside the model


def _st_union(a: str, b: str) -> str | None:
    (ka, ca), (kb, cb) = _parse(a), _parse(b)
    if ka in ("POINT", "MULTIPOINT") and kb in ("POINT", "MULTIPOINT"):
        pts = sorted(set(ca) | set(cb))
        return _mk("POINT" if len(pts) == 1 else "MULTIPOINT", pts)
    if ka == kb == "POLYGON":
        if G.st_contains(a, b):
            return a
        if G.st_contains(b, a):
            return b
    return f"GEOMETRYCOLLECTION ({a}, {b})"


def _st_difference(a: str, b: str) -> str | None:
    (ka, ca), (kb, cb) = _parse(a), _parse(b)
    if ka in ("POINT", "MULTIPOINT"):
        if kb in ("POINT", "MULTIPOINT"):
            kept = sorted(set(ca) - set(cb))
        else:
            kept = sorted(p for p in ca if not G.st_contains(b, _mk("POINT", [p])))
        if not kept:
            return "MULTIPOINT EMPTY"
        return _mk("POINT" if len(kept) == 1 else "MULTIPOINT", kept)
    if ka == kb == "POLYGON":
        if G.st_contains(b, a):
            return "POLYGON EMPTY"
        if not G.st_intersects(a, b):
            return a
    return None  # partial polygon difference is non-convex: outside the model


def _st_sym_difference(a: str, b: str) -> str | None:
    (ka, ca), (kb, cb) = _parse(a), _parse(b)
    if ka in ("POINT", "MULTIPOINT") and kb in ("POINT", "MULTIPOINT"):
        pts = sorted(set(ca) ^ set(cb))
        if not pts:
            return "MULTIPOINT EMPTY"
        return _mk("POINT" if len(pts) == 1 else "MULTIPOINT", pts)
    if not G.st_intersects(a, b):
        return f"GEOMETRYCOLLECTION ({a}, {b})"
    return None


def _st_touches(a: str, b: str) -> bool | None:
    """Boundaries meet, interiors don't: intersects AND measure-zero overlap."""
    (ka, ca), (kb, cb) = _parse(a), _parse(b)
    if not G.st_intersects(a, b):
        return False
    if ka == kb == "POLYGON":
        return _ring_area(_clip_convex(ca, cb)) < 1e-12 if len(_clip_convex(ca, cb)) >= 3 else True
    if ka == "POINT" and kb == "POLYGON":
        return _on_boundary(ca[0], cb)
    if kb == "POINT" and ka == "POLYGON":
        return _on_boundary(cb[0], ca)
    if ka == "POINT" and kb == "POINT":
        return False  # equal points intersect in interiors
    return None


def _on_boundary(p, ring) -> bool:
    n = len(ring)
    for i in range(n):
        (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % n]
        if min(x1, x2) - 1e-12 <= p[0] <= max(x1, x2) + 1e-12 and min(y1, y2) - 1e-12 <= p[1] <= max(y1, y2) + 1e-12:
            if abs((x2 - x1) * (p[1] - y1) - (y2 - y1) * (p[0] - x1)) < 1e-9:
                return True
    return False


def _seg_inside_len(s1, s2, ring) -> tuple[float, float]:
    """(length of segment inside the convex ring, total length) via
    half-plane parametric clipping (Liang–Barsky generalized)."""

    def ccw(poly):
        s = sum(
            (poly[(i + 1) % len(poly)][0] - poly[i][0])
            * (poly[(i + 1) % len(poly)][1] + poly[i][1])
            for i in range(len(poly))
        )
        return poly if s < 0 else poly[::-1]

    ring = ccw(ring)
    t0, t1 = 0.0, 1.0
    dx, dy = s2[0] - s1[0], s2[1] - s1[1]
    n = len(ring)
    for i in range(n):
        (ax, ay), (bx, by) = ring[i], ring[(i + 1) % n]
        # inside test: left of edge for CCW ring
        nx, ny = -(by - ay), bx - ax
        denom = nx * dx + ny * dy
        num = nx * (ax - s1[0]) + ny * (ay - s1[1])
        if abs(denom) < 1e-15:
            if num > 0:  # n·(s1-a) < 0: the whole segment is outside this edge
                return 0.0, math.dist(s1, s2)
            continue
        t = num / denom
        if denom > 0:
            t0 = max(t0, t)
        else:
            t1 = min(t1, t)
        if t0 > t1:
            return 0.0, math.dist(s1, s2)
    return (t1 - t0) * math.dist(s1, s2), math.dist(s1, s2)


def _st_crosses(a: str, b: str) -> bool | None:
    """DE-9IM crosses: interiors intersect, intersection dim < max input dim."""
    (ka, ca), (kb, cb) = _parse(a), _parse(b)
    if "POLYGON" in (ka, kb) and "LINESTRING" in (ka, kb):
        line, ring = (ca, cb) if ka == "LINESTRING" else (cb, ca)
        inside = total = 0.0
        for i in range(len(line) - 1):
            li, lt = _seg_inside_len(line[i], line[i + 1], ring)
            inside += li
            total += lt
        return 1e-12 < inside < total - 1e-12
    if ka == kb == "LINESTRING":
        for i in range(len(ca) - 1):
            for j in range(len(cb) - 1):
                if G._segments_intersect(ca[i], ca[i + 1], cb[j], cb[j + 1]):
                    return True
        return False
    if ka == kb == "POLYGON" or (ka == kb and ka in ("POINT", "MULTIPOINT")):
        return False  # area/area and point/point crosses are always false
    if ka in ("POINT", "MULTIPOINT") or kb in ("POINT", "MULTIPOINT"):
        pts, other = (ca, b) if ka in ("POINT", "MULTIPOINT") else (cb, a)
        if len(pts) < 2:
            return False
        ins = [G.st_contains(other, _mk("POINT", [p])) for p in pts]
        return any(ins) and not all(ins)
    return None


def _st_overlaps(a: str, b: str) -> bool | None:
    """Same-dimension proper overlap: both have parts in and out."""
    (ka, ca), (kb, cb) = _parse(a), _parse(b)
    if ka == kb == "POLYGON":
        clip = _clip_convex(ca, cb)
        if len(clip) < 3 or _ring_area(clip) < 1e-12:
            return False
        return not G.st_contains(a, b) and not G.st_contains(b, a)
    if ka in ("POINT", "MULTIPOINT") and kb in ("POINT", "MULTIPOINT"):
        sa, sb = set(ca), set(cb)
        return bool(sa & sb) and bool(sa - sb) and bool(sb - sa)
    if ka != kb:
        return False  # different dimensions never overlap
    return None


def _boundary_pts(kind: str, pts: list) -> list:
    """Representative point set of a geometry's topological boundary."""
    if kind == "LINESTRING":
        return [pts[0], pts[-1]]
    if kind == "POLYGON":
        return pts  # ring vertices represent the boundary in the convex model
    return []  # points have empty boundary


def _st_relate(a: str, b: str, pattern: str) -> bool | None:
    """DE-9IM relate over the convex model.

    Nonempty/empty (``T``/``F``) is decided exactly for every cell from the
    exact predicates above (intersects / contains / touches / boundary
    membership).  Dimension digits (``0``/``1``/``2``) are honored for the
    interior∩interior and exterior∩exterior cells; a digit requirement on
    any other cell returns NULL rather than guessing (documented seam,
    GeoFunctions.java ST_Relate).
    """
    (ka, ca), (kb, cb) = _parse(a), _parse(b)
    dim = {"POINT": 0, "MULTIPOINT": 0, "LINESTRING": 1, "POLYGON": 2}
    da, db = dim.get(ka), dim.get(kb)
    if da is None or db is None:
        return None
    inter = G.st_intersects(a, b)
    touches = bool(_st_touches(a, b)) if inter else False
    a_in_b = G.st_contains(b, a) if db >= da else False
    b_in_a = G.st_contains(a, b) if da >= db else False
    ba, bb_pts = _boundary_pts(ka, ca), _boundary_pts(kb, cb)
    bnd_a_in_b = [G.st_contains(b, _mk("POINT", [p])) for p in ba] if db == 2 else [
        p in set(cb) or (kb == "LINESTRING" and _on_boundary(p, cb)) for p in ba
    ]
    bnd_b_in_a = [G.st_contains(a, _mk("POINT", [p])) for p in bb_pts] if da == 2 else [
        p in set(ca) or (ka == "LINESTRING" and _on_boundary(p, ca)) for p in bb_pts
    ]
    ii = inter and not touches
    nonempty = {
        0: ii,                                   # interior ∩ interior
        1: inter and bool(bb_pts) and any(bnd_b_in_a),   # interior(a) ∩ boundary(b)
        2: not a_in_b,                           # interior(a) ∩ exterior(b)
        3: inter and bool(ba) and any(bnd_a_in_b),       # boundary(a) ∩ interior(b)
        4: touches or (bool(ba) and bool(bb_pts) and inter and any(bnd_a_in_b)),
        5: not a_in_b and bool(ba),              # boundary(a) ∩ exterior(b)
        6: not b_in_a,                           # exterior(a) ∩ interior(b)
        7: not b_in_a and bool(bb_pts),          # exterior(a) ∩ boundary(b)
        8: True,                                 # exterior ∩ exterior
    }
    dims = {0: min(da, db) if ii else -1, 8: 2}
    for i, want in enumerate(pattern.upper()):
        if want == "*":
            continue
        if want == "T":
            if not nonempty[i]:
                return False
        elif want == "F":
            if nonempty[i]:
                return False
        elif want in "012":
            if i not in dims:
                return None
            if dims[i] != int(want):
                return False
    return True


def _wkb(wkt: str) -> bytes | None:
    """Standard little-endian WKB (ST_AsBinary — real OGC encoding)."""
    import struct

    kind, pts = _parse(wkt)
    if kind == "POINT":
        return struct.pack("<BI2d", 1, 1, *pts[0])
    if kind == "LINESTRING":
        out = struct.pack("<BII", 1, 2, len(pts))
        for x, y in pts:
            out += struct.pack("<2d", x, y)
        return out
    if kind == "POLYGON":
        out = struct.pack("<BIII", 1, 3, 1, len(pts) + 1)
        for x, y in [*pts, pts[0]]:
            out += struct.pack("<2d", x, y)
        return out
    if kind == "MULTIPOINT":
        out = struct.pack("<BII", 1, 4, len(pts))
        for x, y in pts:
            out += struct.pack("<BI2d", 1, 1, x, y)
        return out
    return None


def _from_wkb(buf: bytes) -> str | None:
    """Inverse of _wkb (ST_GeomFromBinary)."""
    import struct

    if not buf or buf[0] != 1:
        return None
    (gtype,) = struct.unpack_from("<I", buf, 1)
    if gtype == 1:
        x, y = struct.unpack_from("<2d", buf, 5)
        return _mk("POINT", [(x, y)])
    if gtype == 2:
        (n,) = struct.unpack_from("<I", buf, 5)
        pts = [struct.unpack_from("<2d", buf, 9 + 16 * i) for i in range(n)]
        return _mk("LINESTRING", pts)
    if gtype == 3:
        (n,) = struct.unpack_from("<I", buf, 9)
        pts = [struct.unpack_from("<2d", buf, 13 + 16 * i) for i in range(n)]
        return _mk("POLYGON", pts[:-1])  # drop the closing vertex
    if gtype == 4:
        (n,) = struct.unpack_from("<I", buf, 5)
        pts = [struct.unpack_from("<2d", buf, 9 + 21 * i + 5) for i in range(n)]
        return _mk("MULTIPOINT", pts)
    return None


def _nearest_points(a: str, b: str) -> list | None:
    """geometry_nearest_points: closest pair via vertex→segment projection
    (exact for points/multipoints and disjoint convex boundaries)."""
    (ka, ca), (kb, cb) = _parse(a), _parse(b)

    def segs_of(kind, pts):
        if kind == "LINESTRING":
            return [(pts[i], pts[i + 1]) for i in range(len(pts) - 1)]
        if kind == "POLYGON":
            return [(pts[i], pts[(i + 1) % len(pts)]) for i in range(len(pts))]
        return [(p, p) for p in pts]  # POINT / MULTIPOINT: degenerate segments

    def proj(p, s1, s2):
        dx, dy = s2[0] - s1[0], s2[1] - s1[1]
        denom = dx * dx + dy * dy
        t = 0.0 if denom == 0 else max(0.0, min(1.0, ((p[0] - s1[0]) * dx + (p[1] - s1[1]) * dy) / denom))
        return (s1[0] + t * dx, s1[1] + t * dy)

    def cand(pts, other_segs):
        for p in pts:
            for s1, s2 in other_segs:
                q = proj(p, s1, s2)
                yield math.dist(p, q), p, q

    best = min(
        list(cand(ca, segs_of(kb, cb)))
        + [(d, p, q) for d, q, p in cand(cb, segs_of(ka, ca))],
        key=lambda t: t[0],
        default=None,
    )
    if best is None:
        return None
    return [_mk("POINT", [best[1]]), _mk("POINT", [best[2]])]


def _line_locate_point(line: str, point: str) -> float | None:
    kind, pts = _parse(line)
    if kind != "LINESTRING":
        return None
    _, (p,) = _parse(point)
    seg_len = [math.dist(pts[i], pts[i + 1]) for i in range(len(pts) - 1)]
    total = sum(seg_len)
    best = (float("inf"), 0.0)
    walked = 0.0
    for i in range(len(pts) - 1):
        s1, s2 = pts[i], pts[i + 1]
        dx, dy = s2[0] - s1[0], s2[1] - s1[1]
        denom = dx * dx + dy * dy
        t = 0.0 if denom == 0 else max(0.0, min(1.0, ((p[0] - s1[0]) * dx + (p[1] - s1[1]) * dy) / denom))
        q = (s1[0] + t * dx, s1[1] + t * dy)
        d = math.dist(p, q)
        if d < best[0]:
            best = (d, (walked + t * seg_len[i]) / total if total else 0.0)
        walked += seg_len[i]
    return best[1]


def _line_interpolate_point(line: str, frac: float) -> str | None:
    kind, pts = _parse(line)
    if kind != "LINESTRING" or not 0.0 <= frac <= 1.0:
        return None
    seg_len = [math.dist(pts[i], pts[i + 1]) for i in range(len(pts) - 1)]
    total = sum(seg_len)
    target = float(frac) * total
    for i, sl in enumerate(seg_len):
        if target <= sl or i == len(seg_len) - 1:
            t = 0.0 if sl == 0 else target / sl
            s1, s2 = pts[i], pts[i + 1]
            return _mk("POINT", [(s1[0] + t * (s2[0] - s1[0]), s1[1] + t * (s2[1] - s1[1]))])
        target -= sl
    return None


def _simplify(wkt: str, tol: float) -> str | None:
    """simplify_geometry: Douglas–Peucker on the vertex chain."""
    kind, pts = _parse(wkt)
    if kind in ("POINT", "MULTIPOINT"):
        return wkt

    def dp(chain):
        if len(chain) < 3:
            return chain
        a, b = chain[0], chain[-1]
        dmax, idx = 0.0, 0
        for i in range(1, len(chain) - 1):
            p = chain[i]
            if a == b:
                d = math.dist(p, a)
            else:
                d = abs(
                    (b[0] - a[0]) * (a[1] - p[1]) - (a[0] - p[0]) * (b[1] - a[1])
                ) / math.dist(a, b)
            if d > dmax:
                dmax, idx = d, i
        if dmax > tol:
            return dp(chain[: idx + 1])[:-1] + dp(chain[idx:])
        return [a, b]

    if kind == "LINESTRING":
        return _mk("LINESTRING", dp(pts))
    ring = dp([*pts, pts[0]])[:-1]
    return _mk("POLYGON", ring if len(ring) >= 3 else pts)


def _spherical_area(wkt: str) -> float | None:
    """SphericalGeoFunctions.java ST_Area on geography: spherical excess
    (L'Huilier), triangulating the (lon lat) ring as a fan.  Result in m²."""
    kind, pts = _parse(wkt)
    if kind != "POLYGON":
        return None
    R = 6371010.0

    def ang(p1, p2):  # central angle between two lon/lat points
        lon1, lat1, lon2, lat2 = map(math.radians, (p1[0], p1[1], p2[0], p2[1]))
        return 2 * math.asin(
            math.sqrt(
                math.sin((lat2 - lat1) / 2) ** 2
                + math.cos(lat1) * math.cos(lat2) * math.sin((lon2 - lon1) / 2) ** 2
            )
        )

    def tri_excess(a, b, c):
        ab, bc, ca_ = ang(a, b), ang(b, c), ang(c, a)
        s = (ab + bc + ca_) / 2
        val = (
            math.tan(s / 2) * math.tan((s - ab) / 2) * math.tan((s - bc) / 2) * math.tan((s - ca_) / 2)
        )
        return 4 * math.atan(math.sqrt(max(0.0, val)))

    return sum(tri_excess(pts[0], pts[i], pts[i + 1]) for i in range(1, len(pts) - 1)) * R * R


@F.pandas_udf(T.StringType())
def st_intersection(a: pd.Series, b: pd.Series) -> pd.Series:
    return _series(_st_intersection, a, b)


@F.pandas_udf(T.StringType())
def st_union(a: pd.Series, b: pd.Series) -> pd.Series:
    return _series(_st_union, a, b)


@F.pandas_udf(T.StringType())
def st_difference(a: pd.Series, b: pd.Series) -> pd.Series:
    return _series(_st_difference, a, b)


@F.pandas_udf(T.StringType())
def st_sym_difference(a: pd.Series, b: pd.Series) -> pd.Series:
    return _series(_st_sym_difference, a, b)


@F.pandas_udf(T.BooleanType())
def st_touches(a: pd.Series, b: pd.Series) -> pd.Series:
    return _series(_st_touches, a, b)


@F.pandas_udf(T.BooleanType())
def st_crosses(a: pd.Series, b: pd.Series) -> pd.Series:
    return _series(_st_crosses, a, b)


@F.pandas_udf(T.BooleanType())
def st_overlaps(a: pd.Series, b: pd.Series) -> pd.Series:
    return _series(_st_overlaps, a, b)


@F.pandas_udf(T.BooleanType())
def st_relate(a: pd.Series, b: pd.Series, pattern: pd.Series) -> pd.Series:
    return _series(_st_relate, a, b, pattern)


@F.pandas_udf(T.BinaryType())
def st_as_binary(wkt: pd.Series) -> pd.Series:
    return _series(_wkb, wkt)


@F.pandas_udf(T.StringType())
def st_geom_from_binary(buf: pd.Series) -> pd.Series:
    return _series(_from_wkb, buf)


@F.pandas_udf(T.ArrayType(T.StringType()))
def geometry_nearest_points(a: pd.Series, b: pd.Series) -> pd.Series:
    return _series(_nearest_points, a, b)


@F.pandas_udf(T.DoubleType())
def line_locate_point(line: pd.Series, point: pd.Series) -> pd.Series:
    return _series(_line_locate_point, line, point)


@F.pandas_udf(T.StringType())
def line_interpolate_point(line: pd.Series, frac: pd.Series) -> pd.Series:
    return _series(lambda l, f: _line_interpolate_point(l, float(f)), line, frac)


@F.pandas_udf(T.StringType())
def simplify_geometry(wkt: pd.Series, tol: pd.Series) -> pd.Series:
    return _series(lambda w, t: _simplify(w, float(t)), wkt, tol)


@F.pandas_udf(T.DoubleType())
def st_geography_area(wkt: pd.Series) -> pd.Series:
    return _series(_spherical_area, wkt)


@F.pandas_udf(T.StringType())
def geometry_union_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    return _series(_st_union, a, b)


# --- r7 tail: the last GeoFunctions.java entries (expand_envelope,
#     flatten_geometry_collections; general ST_Buffer lands above) ----------


def _expand_envelope(wkt: str, d: float) -> str:
    """Envelope expanded by ``d`` on every side (GeoFunctions.java
    expand_envelope): the bounding rectangle grown outward — the standard
    pre-filter for distance-within queries."""
    _, coords = _parse(wkt)
    d = float(d)
    if not coords:
        return "POLYGON EMPTY"
    xs = [p[0] for p in coords]
    ys = [p[1] for p in coords]
    x1, x2 = min(xs) - d, max(xs) + d
    y1, y2 = min(ys) - d, max(ys) + d
    return _mk("POLYGON", [(x1, y1), (x2, y1), (x2, y2), (x1, y2)])


def _flatten_collections(wkt: str) -> list[str]:
    """Recursively flatten GEOMETRYCOLLECTIONs to their leaf geometries
    (GeoFunctions.java flatten_geometry_collections); non-collections
    pass through as a one-element list."""
    s = wkt.strip()
    if not s.upper().startswith("GEOMETRYCOLLECTION"):
        return [s]
    if "(" not in s:  # GEOMETRYCOLLECTION EMPTY
        return []
    inner = s[s.index("(") + 1 : s.rindex(")")]
    out: list[str] = []
    depth, cur = 0, []
    for ch in inner:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.extend(_flatten_collections("".join(cur)))
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        out.extend(_flatten_collections("".join(cur)))
    return out


@F.pandas_udf(T.StringType())
def expand_envelope(wkt: pd.Series, d: pd.Series) -> pd.Series:
    return _series(_expand_envelope, wkt, d)


@F.pandas_udf(T.ArrayType(T.StringType()))
def flatten_geometry_collections(wkt: pd.Series) -> pd.Series:
    return _series(_flatten_collections, wkt)


# Sessions the surface is installed on. Weakly keyed on the session object,
# like catalog._registered: a collected session can never alias a later one.
_registered: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def register_geospatial(spark: SparkSession) -> None:
    """Install the full ST_*/bing surface, once per session."""
    if spark in _registered:
        return
    for ddl in _GEO_SQL_FUNCTIONS:
        spark.sql(ddl)
    spark.udf.register("st_area", st_area)
    spark.udf.register("st_perimeter", st_perimeter)
    spark.udf.register("st_centroid", st_centroid)
    spark.udf.register("st_envelope", st_envelope)
    spark.udf.register("st_x", st_x)
    spark.udf.register("st_y", st_y)
    spark.udf.register("st_num_points", st_num_points)
    spark.udf.register("st_contains", st_contains)
    spark.udf.register("st_within", st_within)
    spark.udf.register("st_intersects", st_intersects)
    spark.udf.register("st_distance", st_distance)
    spark.udf.register("st_convex_hull", st_convex_hull)
    spark.udf.register("st_buffer", st_buffer)
    # tranche 5 kernels
    spark.udf.register("st_intersection", st_intersection)
    spark.udf.register("st_union", st_union)
    spark.udf.register("st_difference", st_difference)
    spark.udf.register("st_sym_difference", st_sym_difference)
    spark.udf.register("st_touches", st_touches)
    spark.udf.register("st_crosses", st_crosses)
    spark.udf.register("st_overlaps", st_overlaps)
    spark.udf.register("st_relate", st_relate)
    spark.udf.register("st_as_binary", st_as_binary)
    spark.udf.register("st_geom_from_binary", st_geom_from_binary)
    spark.udf.register("geometry_nearest_points", geometry_nearest_points)
    spark.udf.register("line_locate_point", line_locate_point)
    spark.udf.register("line_interpolate_point", line_interpolate_point)
    spark.udf.register("simplify_geometry", simplify_geometry)
    spark.udf.register("st_geography_area", st_geography_area)
    spark.udf.register("geometry_union", geometry_union_kernel)
    spark.udf.register("expand_envelope", expand_envelope)
    spark.udf.register("flatten_geometry_collections", flatten_geometry_collections)
    # st_disjoint composes on the SQL side AFTER the UDF registration so it
    # can reference st_intersects.
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION st_disjoint(a STRING, b STRING)
           RETURNS BOOLEAN RETURN NOT st_intersects(a, b)"""
    )
    _registered.add(spark)
