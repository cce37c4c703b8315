"""SenSQL federated queries as oracle-checked registry entries.

The fixture mirrors FIXTURES.md §4: four sensor nodes with square service
regions on a 40×10 grid, two named district shapes, and per-node
measurement catalogs sliced from the ``events`` table (user_id % 4 → node).
The geometry is chosen so the resolved node sets are knowable by
construction — 'downtown' spans nodes n0,n1 and 'uptown' spans n2,n3 —
which lets plain SQL over ``events`` serve as the DuckDB oracle for the
full federated path (rewrite → metadata resolution → UNION ALL fan-out →
residual query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensql_presto_spark import catalog
from sensql_presto_spark.queries.registry import register
from sensql_presto_spark.sensql import FederatedEngine, MetadataDB

NODES = [
    ("node_a", "POLYGON ((0 0, 10 0, 10 10, 0 10))"),
    ("node_b", "POLYGON ((10 0, 20 0, 20 10, 10 10))"),
    ("node_c", "POLYGON ((20 0, 30 0, 30 10, 20 10))"),
    ("node_d", "POLYGON ((30 0, 40 0, 40 10, 30 10))"),
]
SHAPES = [
    (1, "POLYGON ((5 5, 15 5, 15 8, 5 8))"),  # spans node_a, node_b
    (2, "POLYGON ((25 2, 38 2, 38 6, 25 6))"),  # spans node_c, node_d
    (3, "POLYGON ((21 1, 24 1, 24 4, 21 4))"),  # inside node_c only
]
FEATURES = [
    (1, "downtown", "district"),
    (2, "uptown", "district"),
    (3, "market", "poi"),
]

_NODE_INDEX = {name: i for i, (name, _) in enumerate(NODES)}


def build_engine(spark: SparkSession, sf_dir: str) -> FederatedEngine:
    """A new federated engine over fixture metadata + event-derived node
    slices, for callers that change it (its node catalogs, say); the
    registry entries share ``kept_engine``."""
    metadata = MetadataDB(NODES, SHAPES, FEATURES)

    def node_slice(name: str):
        def build() -> DataFrame:
            ev = catalog.table(spark, sf_dir, "events")
            return ev.where(F.col("user_id") % 4 == _NODE_INDEX[name]).select(
                F.lit(name).alias("node_id"),
                "ts",
                F.col("event_type").alias("sensor"),
                "value",
            )

        return build

    return FederatedEngine(spark, metadata, {name: node_slice(name) for name, _ in NODES})


# sf_dir -> the engine the registry entries share, with the session it was
# built for. A build in another session replaces it, so at most one engine
# per sf_dir, and the session it holds, is kept alive.
_kept: dict[str, FederatedEngine] = {}


def kept_engine(spark: SparkSession, sf_dir: str) -> FederatedEngine:
    """The registry entries' engine for (``spark``, ``sf_dir``), built once:
    a repeat build of an entry reuses its nodes, slices and fan-outs while
    their input versions hold, as ``FederatedEngine`` does for any caller,
    and makes no new metadata DB."""
    engine = _kept.get(sf_dir)
    if engine is None or engine.spark is not spark:
        engine = _kept[sf_dir] = build_engine(spark, sf_dir)
    return engine


@register(
    "sensql_federated_agg",
    oracle="""
    SELECT event_type AS sensor, count(*) AS n, round(sum(value), 4) AS sum_val
    FROM events
    WHERE user_id % 4 IN (0, 1) AND value > 50
    GROUP BY 1 ORDER BY sensor
    """,
    tags=("sensql", "federation"),
    doc="Full federated path: spatial metadata resolution -> 2-node UNION ALL -> residual agg.",
)
def sensql_federated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'downtown' resolves to node_a+node_b == user_id%4 IN (0,1) by fixture design."""
    engine = kept_engine(spark, sf_dir)
    return engine.sql(
        """
        SELECT sensor, count(*) AS n, round(sum(value), 4) AS sum_val
        FROM measurements, feature, shape
        WHERE st_intersects(shape.geometries, nodes.service_region)
          AND shape.id = feature.shape
          AND feature.name = 'downtown'
          AND measurements.value > 50
        GROUP BY sensor ORDER BY sensor
        """
    )


@register(
    "sensql_federated_single_node",
    oracle="""
    SELECT count(*) AS n, round(avg(value), 4) AS avg_val
    FROM events
    WHERE user_id % 4 = 2
    """,
    tags=("sensql", "federation"),
    doc="Single-catalog resolution ('market' poi lies inside node_c only); WHERE fully consumed.",
)
def sensql_federated_single_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    engine = kept_engine(spark, sf_dir)
    return engine.sql(
        """
        SELECT count(*) AS n, round(avg(value), 4) AS avg_val
        FROM measurements, feature, shape
        WHERE st_intersects(shape.geometries, nodes.service_region)
          AND shape.id = feature.shape
          AND feature.name = 'market'
        """
    )


# The geo_* entries' synthesized rectangles: per customer key, a corner
# (x0, y0), a size (w, h) and a point (lat, lon), each a DOUBLE.
_RECT_COLS = {
    "x0": "c_custkey % 20",
    "y0": "c_nationkey % 10",
    "w": "3 + c_custkey % 5",
    "h": "2 + c_nationkey % 3",
    "lat": "(c_custkey % 120) - 60 + 0.5",
    "lon": "(c_custkey % 360) - 180 + 0.5",
}


def _rect_cte(cols: str, limit: int, duck: bool = False) -> str:
    """``WITH g``: the rectangles' ``cols`` (space-separated ``_RECT_COLS``
    names) for each customer key below ``limit``; ``duck`` spells the casts
    for the DuckDB oracle."""
    casts = ",\n".join(
        f"({_RECT_COLS[c]})::DOUBLE AS {c}" if duck else f"cast({_RECT_COLS[c]} AS DOUBLE) AS {c}"
        for c in cols.split()
    )
    return f"""
    WITH g AS (
        SELECT c_custkey,
               {casts}
        FROM customer WHERE c_custkey < {limit}
    )"""


# WKT of the rectangle (x0, y0, w, h), and of the open hook
# (x0, y0) -> (x0 + w, y0) -> (x0 + w, y0 + 1) along its lower-right corner
_RECT_WKT = """concat('POLYGON ((', x0, ' ', y0, ', ', x0 + w, ' ', y0, ', ',
                      x0 + w, ' ', y0 + h, ', ', x0, ' ', y0 + h, '))')"""
_HOOK_WKT = """concat('LINESTRING (', x0, ' ', y0, ', ', x0 + w, ' ', y0, ', ',
                      x0 + w, ' ', y0 + 1.0, ')')"""


def _geo_sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """``catalog.sql`` with the geospatial functions registered."""
    from sensql_presto_spark.functions.geospatial import register_geospatial

    register_geospatial(spark)
    return catalog.sql(spark, sf_dir, text)


@register(
    "sensql_spatial_filter",
    oracle="""
    SELECT c_mktsegment, count(*) AS n
    FROM customer
    WHERE (c_custkey % 40) >= 5 AND (c_custkey % 40) <= 15
      AND (c_nationkey % 10) >= 5 AND (c_nationkey % 10) <= 8
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("sensql", "geospatial"),
    doc="In-Spark ST_* predicate surface (GeoFunctions.java parity names); "
    "oracle reduces st_contains on the rectangular fixture polygon to "
    "coordinate range checks.",
)
def sensql_spatial_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_contains/st_point as Spark SQL functions over synthesized coords.

    Points are derived deterministically from customer keys; the 'downtown'
    fixture shape is the containment region. st_point is a codegen'd SQL
    temp function; st_contains is an Arrow-batched pandas UDF
    (functions/geospatial.py) — no row-at-a-time Python in the plan
    (asserted by tests/test_plans.py).
    """
    return _geo_sql(
        spark,
        sf_dir,
        """
        SELECT c_mktsegment, count(*) AS n
        FROM customer
        WHERE st_contains('POLYGON ((5 5, 15 5, 15 8, 5 8))',
                          st_point(cast(c_custkey % 40 AS double), cast(c_nationkey % 10 AS double)))
        GROUP BY c_mktsegment ORDER BY c_mktsegment
        """
    )


@register(
    "geo_st_functions",
    oracle=_rect_cte("x0 y0 w h lat lon", 100, duck=True)
    + """
    SELECT c_custkey,
           w * h AS area,
           2 * (w + h) AS perimeter,
           x0 + w / 2 AS centroid_x,
           y0 + h / 2 AS centroid_y,
           4 AS n_points,
           TRUE AS contains_inner,
           TRUE AS envelope_is_self,
           round(sqrt(w * w + h * h), 6) AS diag_dist,
           least(CAST(pow(2, 10) AS BIGINT) - 1,
                 greatest(0, CAST(floor((lon + 180.0) / 360.0 * pow(2, 10)) AS BIGINT))) AS tile_x,
           least(CAST(pow(2, 10) AS BIGINT) - 1,
                 greatest(0, CAST(floor(
                     (0.5 - ln((1.0 + sin(radians(lat))) / (1.0 - sin(radians(lat))))
                      / (4.0 * pi())) * pow(2, 10)) AS BIGINT))) AS tile_y,
           10 AS quadkey_len
    FROM g
    ORDER BY c_custkey
    """,
    tags=("sensql", "geospatial"),
    doc="ST_* surface (area/perimeter/centroid/envelope/contains/distance/"
    "num_points + Bing tiles): pandas-UDF geometry vs closed-form oracle on "
    "synthesized rectangles.",
)
def geo_st_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercise the widened in-engine geospatial surface end-to-end.

    Rectangles are synthesized from customer keys, so every ST_ output has
    a closed arithmetic form the DuckDB oracle computes without any
    geometry library — the containment/envelope outputs reduce to TRUE and
    the centroid/area/perimeter to key arithmetic.
    """
    return _geo_sql(
        spark,
        sf_dir,
        _rect_cte("x0 y0 w h lat lon", 100)
        + f""",
        p AS (
            SELECT c_custkey, x0, y0, w, h, lat, lon, {_RECT_WKT} AS poly
            FROM g
        )
        SELECT c_custkey,
               st_area(poly) AS area,
               st_perimeter(poly) AS perimeter,
               st_x(st_centroid(poly)) AS centroid_x,
               st_y(st_centroid(poly)) AS centroid_y,
               st_num_points(poly) AS n_points,
               st_contains(poly, st_point(x0 + 1.0, y0 + 1.0)) AS contains_inner,
               (st_area(st_envelope(poly)) = st_area(poly)) AS envelope_is_self,
               round(st_distance(st_point(x0, y0), st_point(x0 + w, y0 + h)), 6) AS diag_dist,
               bing_tile_x_at(lon, 10) AS tile_x,
               bing_tile_y_at(lat, 10) AS tile_y,
               length(bing_tile_quadkey(bing_tile_x_at(lon, 10), bing_tile_y_at(lat, 10), 10)) AS quadkey_len
        FROM p
        ORDER BY c_custkey
        """
    )


@register(
    "geo_st_surface2",
    oracle=_rect_cte("x0 y0 w h lat lon", 100, duck=True)
    + """
    SELECT c_custkey,
           x0 AS xmin, x0 + w AS xmax, y0 AS ymin, y0 + h AS ymax,
           'ST_Polygon' AS gtype, 2 AS gdim, FALSE AS gempty,
           round(w, 6) AS seg_len, FALSE AS seg_closed,
           round(2 * 6371.01 * asin(sqrt(
               pow(sin(radians(0.0) / 2), 2)
               + cos(radians(lat)) * cos(radians(lat))
                 * pow(sin(radians(1.0) / 2), 2))), 6) AS gc_km,
           TRUE AS quadkey_roundtrip,
           TRUE AS tile_poly_ok,
           TRUE AS hull_ok,
           TRUE AS buffer_ok,
           TRUE AS from_text_ok,
           TRUE AS disjoint_far
    FROM g
    ORDER BY c_custkey
    """,
    tags=("sensql", "geospatial"),
    doc="Second geospatial tranche (GeoFunctions.java accessors/predicates, "
    "SphericalGeoFunctions.java great-circle, BingTileFunctions.java "
    "quadkey inverse + tile polygon, ST_ConvexHull/ST_Buffer): closed-form "
    "oracle on synthesized rectangles; approximation families gated by "
    "error-bound booleans.",
)
def geo_st_surface2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercise the second geospatial tranche end-to-end."""
    return _geo_sql(
        spark,
        sf_dir,
        _rect_cte("x0 y0 w h lat lon", 100)
        + f""",
        p AS (
            SELECT c_custkey, x0, y0, w, h, lat, lon, {_RECT_WKT} AS poly,
                   concat('LINESTRING (', x0, ' ', y0, ', ', x0 + w, ' ', y0, ')') AS seg
            FROM g
        )
        SELECT c_custkey,
               st_xmin(poly) AS xmin, st_xmax(poly) AS xmax,
               st_ymin(poly) AS ymin, st_ymax(poly) AS ymax,
               st_geometry_type(poly) AS gtype,
               st_dimension(poly) AS gdim,
               st_is_empty(poly) AS gempty,
               round(st_length(seg), 6) AS seg_len,
               st_is_closed(seg) AS seg_closed,
               round(great_circle_distance(lat, lon, lat, lon + 1.0), 6) AS gc_km,
               bing_tile_x_from_quadkey(
                   bing_tile_quadkey(bing_tile_x_at(lon, 10), bing_tile_y_at(lat, 10), 10))
                   = bing_tile_x_at(lon, 10)
               AND bing_tile_y_from_quadkey(
                   bing_tile_quadkey(bing_tile_x_at(lon, 10), bing_tile_y_at(lat, 10), 10))
                   = bing_tile_y_at(lat, 10)
               AND bing_tile_zoom_level(
                   bing_tile_quadkey(bing_tile_x_at(lon, 10), bing_tile_y_at(lat, 10), 10)) = 10
                   AS quadkey_roundtrip,
               abs(st_xmin(bing_tile_polygon(bing_tile_x_at(lon, 10), bing_tile_y_at(lat, 10), 10))
                   - (bing_tile_x_at(lon, 10) / power(2, 10) * 360.0 - 180.0)) < 1e-9
                   AS tile_poly_ok,
               abs(st_area(st_convex_hull(poly)) - st_area(poly)) < 1e-9 AS hull_ok,
               abs(st_area(st_buffer(st_point(x0, y0), 2.0)) - pi() * 4.0) / (pi() * 4.0) < 0.03
                   AS buffer_ok,
               st_equals(poly, st_geometry_from_text(lower(poly))) AS from_text_ok,
               st_disjoint(poly, st_point(x0 + w + 100.0, y0)) AS disjoint_far
        FROM p
        ORDER BY c_custkey
        """
    )


@register(
    "geo_st_accessors",
    oracle=_rect_cte("x0 y0 w", 60, duck=True)
    + """
    SELECT c_custkey,
           'POINT (' || x0 || ' ' || y0 || ')' AS start_pt,
           'POINT (' || (x0 + w) || ' ' || (y0 + 1.0) || ')' AS end_pt,
           'POINT (' || (x0 + w) || ' ' || y0 || ')' AS second_pt,
           TRUE AS line_ctor_ok, TRUE AS poly_ctor_rejects, TRUE AS boundary_ok,
           1 AS n_geoms, 3 AS n_multi,
           TRUE AS ext_ring_ok, 0 AS n_int_ring,
           TRUE AS valid_ok, TRUE AS simple_ok, FALSE AS open_line_is_ring,
           'MULTIPOINT (' || x0 || ' ' || y0 || ', ' || (x0 + w) || ' ' || y0
               || ', ' || (x0 + w) || ' ' || (y0 + 1.0) || ')' AS pts,
           TRUE AS geom_n_ok, 9 AS tiles_around_n, TRUE AS g2bt_ok
    FROM g ORDER BY c_custkey
    """,
    tags=("sensql", "geospatial"),
    doc="Vertex accessors + typed constructors + boundary (GeoFunctions.java "
    "ST_StartPoint/ST_EndPoint/ST_PointN/ST_LineFromText/ST_Polygon/"
    "ST_Boundary/ST_NumGeometries) with closed-form oracle.",
)
def geo_st_accessors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _geo_sql(
        spark,
        sf_dir,
        _rect_cte("x0 y0 w", 60)
        + f""",
        p AS (
            SELECT c_custkey, x0, y0, w, {_HOOK_WKT} AS line
            FROM g
        )
        SELECT c_custkey,
               st_start_point(line) AS start_pt,
               st_end_point(line) AS end_pt,
               st_point_n(line, 2) AS second_pt,
               st_line_from_text(line) = line AS line_ctor_ok,
               st_polygon(line) IS NULL AS poly_ctor_rejects,
               st_boundary(concat('POLYGON ((', x0, ' ', y0, ', ', x0 + w, ' ', y0, ', ',
                                  x0, ' ', y0 + 1.0, '))'))
                   = concat('LINESTRING (', x0, ' ', y0, ', ', x0 + w, ' ', y0, ', ',
                            x0, ' ', y0 + 1.0, ')') AS boundary_ok,
               st_num_geometries(line) AS n_geoms,
               st_num_geometries(concat('MULTIPOINT (1 2, 3 4, 5 6)')) AS n_multi,
               st_exterior_ring(concat('POLYGON ((', x0, ' ', y0, ', ', x0 + w, ' ', y0, ', ',
                                       x0, ' ', y0 + 1.0, '))'))
                   = concat('LINESTRING (', x0, ' ', y0, ', ', x0 + w, ' ', y0, ', ',
                            x0, ' ', y0 + 1.0, ')') AS ext_ring_ok,
               st_num_interior_ring(concat('POLYGON ((', x0, ' ', y0, ', ', x0 + w, ' ', y0, ', ',
                                           x0, ' ', y0 + 1.0, '))')) AS n_int_ring,
               st_is_valid(line) AS valid_ok,
               st_is_simple(line) AS simple_ok,
               st_is_ring(line) AS open_line_is_ring,
               st_points(line) AS pts,
               st_geometry_n(line, 1) = line AS geom_n_ok,
               size(bing_tiles_around(45.3, 7.7, 10)) AS tiles_around_n,
               size(geometry_to_bing_tiles(
                   concat('POLYGON ((', x0, ' ', y0, ', ', x0 + w, ' ', y0, ', ',
                          x0 + w, ' ', y0 + 1.0, ', ', x0, ' ', y0 + 1.0, '))'), 8))
                   BETWEEN 1 AND 64 AS g2bt_ok
        FROM p
        ORDER BY c_custkey
        """
    )


@register(
    "geo_st_setops",
    oracle=_rect_cte("x0 y0", 60, duck=True)
    + """
    SELECT c_custkey,
           4.0 AS isect_area,
           TRUE AS union_keeps_container,
           TRUE AS diff_disjoint_is_self,
           TRUE AS diff_contained_is_empty,
           2 AS symd_n,
           TRUE AS touch_adjacent,
           FALSE AS touch_overlapping,
           TRUE AS overlaps_proper,
           FALSE AS overlaps_contained,
           TRUE AS crosses_line,
           TRUE AS relate_touch_pattern,
           TRUE AS relate_within_pattern
    FROM g ORDER BY c_custkey
    """,
    tags=("sensql", "geospatial"),
    doc="Geometry set operations + remaining DE-9IM predicates "
    "(GeoFunctions.java ST_Intersection/ST_Union/ST_Difference/"
    "ST_SymDifference/ST_Touches/ST_Crosses/ST_Overlaps/ST_Relate): "
    "Sutherland-Hodgman clipping and point-set algebra vs closed-form "
    "oracle on synthesized rectangles.",
)
def geo_st_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _geo_sql(
        spark,
        sf_dir,
        _rect_cte("x0 y0", 60)
        + """,
        p AS (
            SELECT c_custkey, x0, y0,
                   concat('POLYGON ((', x0, ' ', y0, ', ', x0 + 4, ' ', y0, ', ',
                          x0 + 4, ' ', y0 + 4, ', ', x0, ' ', y0 + 4, '))') AS rect_a,
                   concat('POLYGON ((', x0 + 2, ' ', y0 + 2, ', ', x0 + 6, ' ', y0 + 2, ', ',
                          x0 + 6, ' ', y0 + 6, ', ', x0 + 2, ' ', y0 + 6, '))') AS rect_b,
                   concat('POLYGON ((', x0 + 4, ' ', y0, ', ', x0 + 8, ' ', y0, ', ',
                          x0 + 8, ' ', y0 + 4, ', ', x0 + 4, ' ', y0 + 4, '))') AS rect_adj,
                   concat('POLYGON ((', x0 + 1, ' ', y0 + 1, ', ', x0 + 2, ' ', y0 + 1, ', ',
                          x0 + 2, ' ', y0 + 2, ', ', x0 + 1, ' ', y0 + 2, '))') AS rect_in,
                   concat('POLYGON ((', x0 + 50, ' ', y0, ', ', x0 + 54, ' ', y0, ', ',
                          x0 + 54, ' ', y0 + 4, ', ', x0 + 50, ' ', y0 + 4, '))') AS rect_far,
                   concat('MULTIPOINT (', x0, ' ', y0, ', ', x0 + 1, ' ', y0, ')') AS mp_ab,
                   concat('MULTIPOINT (', x0 + 1, ' ', y0, ', ', x0 + 2, ' ', y0, ')') AS mp_bc,
                   concat('LINESTRING (', x0 - 1, ' ', y0 + 1, ', ', x0 + 9, ' ', y0 + 1, ')') AS line_thru
            FROM g
        )
        SELECT c_custkey,
               st_area(st_intersection(rect_a, rect_b)) AS isect_area,
               st_union(rect_a, rect_in) = rect_a AS union_keeps_container,
               st_difference(rect_a, rect_far) = rect_a AS diff_disjoint_is_self,
               st_difference(rect_in, rect_a) = 'POLYGON EMPTY' AS diff_contained_is_empty,
               size(st_xs(st_sym_difference(mp_ab, mp_bc))) AS symd_n,
               st_touches(rect_a, rect_adj) AS touch_adjacent,
               st_touches(rect_a, rect_b) AS touch_overlapping,
               st_overlaps(rect_a, rect_b) AS overlaps_proper,
               st_overlaps(rect_a, rect_in) AS overlaps_contained,
               st_crosses(line_thru, rect_a) AS crosses_line,
               st_relate(rect_a, rect_adj, 'F***T****') AS relate_touch_pattern,
               st_relate(concat('POINT (', x0 + 1, ' ', y0 + 1, ')'), rect_a,
                         'T*F**F***') AS relate_within_pattern
        FROM p
        ORDER BY c_custkey
        """
    )


@register(
    "geo_wkb_geojson",
    oracle=_rect_cte("x0 y0", 60, duck=True)
    + """
    SELECT c_custkey,
           42 AS wkb_pt_hex_len,
           TRUE AS wkb_line_roundtrip,
           TRUE AS wkb_poly_roundtrip,
           TRUE AS geojson_roundtrip,
           TRUE AS invalid_reason_null,
           'Geometry has no coordinates' AS empty_reason,
           2 AS env_pts_n,
           3 AS geoms_n,
           0 AS irings_n,
           TRUE AS iring_n_null,
           2 AS mp_ctor_n,
           'ST_LineString' AS ls_ctor_type
    FROM g ORDER BY c_custkey
    """,
    tags=("sensql", "geospatial"),
    doc="WKB in/out (real OGC little-endian encoding, ST_AsBinary/"
    "ST_GeomFromBinary), GeoJSON in/out (geometry_as_geojson/"
    "geometry_from_geojson), geometry_invalid_reason, ST_EnvelopeAsPts, "
    "ST_Geometries, ST_InteriorRings, ST_MultiPoint/ST_LineString "
    "constructors — round-trip-checked numerically (coordinate arrays), "
    "not textually, so WKT float formatting cannot drift.",
)
def geo_wkb_geojson(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _geo_sql(
        spark,
        sf_dir,
        _rect_cte("x0 y0", 60)
        + """,
        p AS (
            SELECT c_custkey, x0, y0,
                   concat('POINT (', x0, ' ', y0, ')') AS pt,
                   concat('LINESTRING (', x0, ' ', y0, ', ', x0 + 3, ' ', y0 + 4, ')') AS line,
                   concat('POLYGON ((', x0, ' ', y0, ', ', x0 + 4, ' ', y0, ', ',
                          x0 + 4, ' ', y0 + 3, ', ', x0, ' ', y0 + 3, '))') AS poly,
                   concat('MULTIPOINT (', x0, ' ', y0, ', ', x0 + 1, ' ', y0, ', ',
                          x0 + 2, ' ', y0, ')') AS mp
            FROM g
        )
        SELECT c_custkey,
               length(hex(st_as_binary(pt))) AS wkb_pt_hex_len,
               st_xs(st_geom_from_binary(st_as_binary(line))) = st_xs(line)
                   AND st_ys(st_geom_from_binary(st_as_binary(line))) = st_ys(line)
                   AS wkb_line_roundtrip,
               st_xs(st_geom_from_binary(st_as_binary(poly))) = st_xs(poly)
                   AND st_geometry_type(st_geom_from_binary(st_as_binary(poly))) = 'ST_Polygon'
                   AS wkb_poly_roundtrip,
               st_xs(geometry_from_geojson(geometry_as_geojson(poly))) = st_xs(poly)
                   AND st_ys(geometry_from_geojson(geometry_as_geojson(poly))) = st_ys(poly)
                   AS geojson_roundtrip,
               geometry_invalid_reason(poly) IS NULL AS invalid_reason_null,
               geometry_invalid_reason('POLYGON EMPTY') AS empty_reason,
               size(st_envelope_as_pts(poly)) AS env_pts_n,
               size(st_geometries(mp)) AS geoms_n,
               size(st_interior_rings(poly)) AS irings_n,
               st_interior_ring_n(poly, 1) IS NULL AS iring_n_null,
               size(st_xs(st_multipoint(array(pt, concat('POINT (', x0 + 1, ' ', y0, ')')))))
                   AS mp_ctor_n,
               st_geometry_type(st_linestring(array(pt, concat('POINT (', x0 + 1, ' ', y0, ')'))))
                   AS ls_ctor_type
        FROM p
        ORDER BY c_custkey
        """
    )


@register(
    "geo_line_ops",
    oracle=_rect_cte("x0 y0", 60, duck=True)
    + """
    SELECT c_custkey,
           0.25 AS locate_frac,
           x0 + 2 AS interp_x,
           y0 AS interp_y,
           2 AS simplified_n,
           3.0 AS nearest_gap
    FROM g ORDER BY c_custkey
    """,
    tags=("sensql", "geospatial"),
    doc="Linear referencing + simplification + nearest points "
    "(GeoFunctions.java line_locate_point/line_interpolate_point/"
    "simplify_geometry/geometry_nearest_points): exact segment projection "
    "and Douglas-Peucker vs closed-form oracle.",
)
def geo_line_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _geo_sql(
        spark,
        sf_dir,
        _rect_cte("x0 y0", 60)
        + """,
        p AS (
            SELECT c_custkey, x0, y0,
                   concat('LINESTRING (', x0, ' ', y0, ', ', x0 + 8, ' ', y0, ')') AS line,
                   concat('LINESTRING (', x0, ' ', y0, ', ', x0 + 4, ' ', y0 + 0.1, ', ',
                          x0 + 8, ' ', y0, ')') AS zigzag,
                   concat('POLYGON ((', x0, ' ', y0, ', ', x0 + 4, ' ', y0, ', ',
                          x0 + 4, ' ', y0 + 4, ', ', x0, ' ', y0 + 4, '))') AS rect,
                   concat('POINT (', x0 - 3, ' ', y0 + 1, ')') AS probe
            FROM g
        )
        SELECT c_custkey,
               line_locate_point(line, concat('POINT (', x0 + 2, ' ', y0 + 5, ')')) AS locate_frac,
               st_x(line_interpolate_point(line, 0.25)) AS interp_x,
               st_y(line_interpolate_point(line, 0.25)) AS interp_y,
               size(st_xs(simplify_geometry(zigzag, 0.5))) AS simplified_n,
               round(st_distance(element_at(geometry_nearest_points(probe, rect), 1),
                                 element_at(geometry_nearest_points(probe, rect), 2)), 6)
                   AS nearest_gap
        FROM p
        ORDER BY c_custkey
        """
    )


@register(
    "geo_bing_parity",
    oracle=_rect_cte("lat lon", 60, duck=True)
    + """
    SELECT c_custkey,
           TRUE AS tile_eq_tile_at,
           TRUE AS coords_roundtrip,
           TRUE AS children_prefixed,
           TRUE AS parent_roundtrip,
           12 AS zoom_of_tile,
           TRUE AS point_cover_single,
           TRUE AS dissolve_to_parent
    FROM g ORDER BY c_custkey
    """,
    tags=("sensql", "geospatial"),
    doc="Bing tile constructor/accessor parity (BingTileFunctions.java "
    "bing_tile/bing_tile_at/bing_tile_coordinates/bing_tile_children/"
    "bing_tile_parent/geometry_to_dissolved_bing_tiles): quadkey algebra "
    "round trips plus an exact four-children-dissolve-to-parent case "
    "constructed from child tile envelope midpoints.",
)
def geo_bing_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _geo_sql(
        spark,
        sf_dir,
        _rect_cte("lat lon", 60)
        + """,
        t AS (
            SELECT c_custkey, lat, lon,
                   bing_tile_at(lat, lon, 12) AS qk,
                   bing_tile_x_at(lon, 8) AS px,
                   bing_tile_y_at(lat, 8) AS py
            FROM g
        ),
        c AS (
            -- envelope spanning the midpoints of the parent's corner
            -- children at zoom 9: covers exactly the four child tiles
            SELECT c_custkey, lat, lon, qk, px, py,
                   (st_xmin(bing_tile_polygon(2 * px, 2 * py, 9))
                    + st_xmax(bing_tile_polygon(2 * px, 2 * py, 9))) / 2 AS lon_nw,
                   (st_ymin(bing_tile_polygon(2 * px, 2 * py, 9))
                    + st_ymax(bing_tile_polygon(2 * px, 2 * py, 9))) / 2 AS lat_nw,
                   (st_xmin(bing_tile_polygon(2 * px + 1, 2 * py + 1, 9))
                    + st_xmax(bing_tile_polygon(2 * px + 1, 2 * py + 1, 9))) / 2 AS lon_se,
                   (st_ymin(bing_tile_polygon(2 * px + 1, 2 * py + 1, 9))
                    + st_ymax(bing_tile_polygon(2 * px + 1, 2 * py + 1, 9))) / 2 AS lat_se
            FROM t
        )
        SELECT c_custkey,
               bing_tile(bing_tile_x_at(lon, 12), bing_tile_y_at(lat, 12), 12) = qk
                   AS tile_eq_tile_at,
               bing_tile_coordinates(qk).x = bing_tile_x_at(lon, 12)
                   AND bing_tile_coordinates(qk).y = bing_tile_y_at(lat, 12)
                   AS coords_roundtrip,
               size(filter(bing_tile_children(qk), ch -> ch LIKE concat(qk, '%'))) = 4
                   AS children_prefixed,
               size(filter(bing_tile_children(qk),
                           ch -> substring(ch, 1, length(ch) - 1) = qk)) = 4
                   AS parent_roundtrip,
               bing_tile_zoom_level(qk) AS zoom_of_tile,
               size(geometry_to_bing_tiles(concat('POINT (', lon, ' ', lat, ')'), 10)) = 1
                   AS point_cover_single,
               geometry_to_dissolved_bing_tiles(
                   concat('POLYGON ((', lon_nw, ' ', lat_se, ', ', lon_se, ' ', lat_se, ', ',
                          lon_se, ' ', lat_nw, ', ', lon_nw, ' ', lat_nw, '))'), 9)
                   = array(bing_tile_quadkey(px, py, 8))
                   AS dissolve_to_parent
        FROM c
        ORDER BY c_custkey
        """
    )


@register(
    "geo_spherical",
    oracle="""
    WITH g AS (
        SELECT c_custkey,
               ((c_custkey % 100) - 50 + 0.5)::DOUBLE AS lat,
               ((c_custkey % 300) - 150 + 0.5)::DOUBLE AS lon
        FROM customer WHERE c_custkey < 60
    )
    SELECT c_custkey,
           TRUE AS geography_valid,
           TRUE AS geography_invalid_null,
           round(1000 * 2 * 6371.01 * asin(sqrt(
               pow(sin(radians(0.5)), 2) * pow(cos(radians(lat)), 2))), 3) AS seg_len_m,
           TRUE AS equator_cell_area_ok
    FROM g ORDER BY c_custkey
    """,
    tags=("sensql", "geospatial"),
    doc="Spherical geography surface (SphericalGeoFunctions.java "
    "to_spherical_geography/ST_Length/ST_Area on geography): geodesic "
    "segment length matches the closed haversine form; 1-degree equator "
    "cell area gated by an error-bound boolean vs the analytic value.",
)
def geo_spherical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _geo_sql(
        spark,
        sf_dir,
        """
        WITH g AS (
            SELECT c_custkey,
                   cast((c_custkey % 100) - 50 + 0.5 AS DOUBLE) AS lat,
                   cast((c_custkey % 300) - 150 + 0.5 AS DOUBLE) AS lon
            FROM customer WHERE c_custkey < 60
        )
        SELECT c_custkey,
               to_spherical_geography(concat('POINT (', lon, ' ', lat, ')')) IS NOT NULL
                   AS geography_valid,
               to_spherical_geography(concat('POINT (', lon + 400, ' ', lat, ')')) IS NULL
                   AS geography_invalid_null,
               round(st_geography_length(
                   concat('LINESTRING (', lon, ' ', lat, ', ', lon + 1, ' ', lat, ')')), 3)
                   AS seg_len_m,
               abs(st_geography_area('POLYGON ((0 0, 1 0, 1 1, 0 1))') - 1.2364e10) / 1.2364e10
                   < 0.01 AS equator_cell_area_ok
        FROM g
        ORDER BY c_custkey
        """
    )


@register(
    "geo_agg_hulls",
    oracle="""
    WITH g AS (
        SELECT c_custkey % 5 AS grp,
               ((c_custkey // 5) % 6)::DOUBLE AS px,
               (((c_custkey // 5) // 6) % 4)::DOUBLE AS py
        FROM customer WHERE c_custkey < 600
    )
    SELECT grp,
           15.0 AS hull_area,
           4 AS hull_n_pts,
           24 AS union_n
    FROM g GROUP BY grp ORDER BY grp
    """,
    tags=("sensql", "geospatial"),
    doc="Geometry aggregates (presto-geospatial aggregation/: "
    "convex_hull_agg, geometry_union_agg) as a grouped rollup: per group, "
    "vertices are set-collected (map-side partial aggregation, one "
    "shuffle), unioned as a MULTIPOINT, and hulled with the monotone-chain "
    "kernel.  The deterministic (custkey/5 mod 6, /30 mod 4) grid makes "
    "hull area/vertex count and union cardinality closed-form.",
)
def geo_agg_hulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _geo_sql(
        spark,
        sf_dir,
        """
        WITH g AS (
            SELECT c_custkey % 5 AS grp,
                   st_point(cast(cast(c_custkey / 5 AS INT) % 6 AS DOUBLE),
                            cast(cast(cast(c_custkey / 5 AS INT) / 6 AS INT) % 4 AS DOUBLE)) AS pt
            FROM customer WHERE c_custkey < 600
        ),
        agg AS (
            -- geometry_union_agg == set-union of member geometries;
            -- convex_hull_agg == hull of the unioned vertex set
            SELECT grp, st_multipoint(collect_set(pt)) AS union_geom
            FROM g GROUP BY grp
        )
        SELECT grp,
               st_area(st_convex_hull(union_geom)) AS hull_area,
               st_num_points(st_convex_hull(union_geom)) AS hull_n_pts,
               size(st_xs(union_geom)) AS union_n
        FROM agg
        ORDER BY grp
        """
    )


# --- KNN node resolution (beyond-reference federation mode): the probe
#     point's k nearest service regions are resolved in the metadata plane
#     (SenSQLModule.java's forward-query pattern, with distance ordering
#     instead of st_intersects), then the measurement aggregation fans out
#     over exactly those node catalogs. Probe (12,5) lies inside node_b and
#     2 units from node_a → k=2 resolves {node_a, node_b} = user_id%4∈{0,1},
#     which is what the oracle replays. -------------------------------------


@register(
    "sensql_knn_federated",
    oracle="""
    SELECT event_type AS sensor,
           count(*) AS n,
           CAST(sum(cast(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
    FROM events
    WHERE user_id % 4 IN (0, 1)
    GROUP BY event_type
    ORDER BY sensor
    """,
    tags=("sensql", "federation", "knn"),
    doc="k-nearest-node federation: metadata-plane KNN resolution, "
    "distributed UNION ALL fan-out over the resolved catalogs.",
)
def sensql_knn_federated(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = kept_engine(spark, sf_dir)
    node_ids = eng.metadata.resolve_knn("POINT (12 5)", 2)
    assert node_ids == ["node_a", "node_b"]  # fixture geometry, by construction
    return (
        eng.fanout(node_ids)
        .groupBy("sensor")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("sum_val_e4"),
        )
        .orderBy("sensor")
    )


@register(
    "geo_st_tail",
    oracle=_rect_cte("x0 y0 w", 60, duck=True)
    + """
    SELECT c_custkey,
           'POLYGON ((' || CAST(x0 - 2 AS BIGINT) || ' ' || CAST(y0 - 2 AS BIGINT)
               || ', ' || CAST(x0 + w + 2 AS BIGINT) || ' ' || CAST(y0 - 2 AS BIGINT)
               || ', ' || CAST(x0 + w + 2 AS BIGINT) || ' ' || CAST(y0 + 3 AS BIGINT)
               || ', ' || CAST(x0 - 2 AS BIGINT) || ' ' || CAST(y0 + 3 AS BIGINT)
               || '))' AS env_expanded,
           3 AS n_flat,
           'POLYGON ((' || CAST(x0 AS BIGINT) || ' ' || CAST(y0 AS BIGINT) || ', '
               || CAST(x0 + w AS BIGINT) || ' ' || CAST(y0 AS BIGINT) || ', '
               || CAST(x0 AS BIGINT) || ' ' || CAST(y0 + 1 AS BIGINT) || '))' AS flat_first,
           'POINT (1 2)' AS flat_last,
           0 AS n_flat_empty,
           TRUE AS buffer_poly_area_ok,
           TRUE AS buffer_line_covers_ends,
           TRUE AS buffer_mp_is_polygon
    FROM g ORDER BY c_custkey
    """,
    tags=("sensql", "geospatial"),
    doc="r7 GeoFunctions.java tail: expand_envelope (closed-form expanded "
    "rectangle), flatten_geometry_collections (recursive, nested "
    "collection + EMPTY), and the generalized ST_Buffer (Minkowski sum "
    "with a 32-gon over the convex model: polygon buffer area matches "
    "A + P*d + pi*d^2 within the 32-gon approximation; line buffers "
    "cover both endpoints' discs; multipoint buffers are polygons).",
)
def geo_st_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _geo_sql(
        spark,
        sf_dir,
        _rect_cte("x0 y0 w", 60)
        + f""",
        p AS (
            SELECT c_custkey, x0, y0, w, {_HOOK_WKT} AS line,
                   concat('POLYGON ((', cast(x0 AS BIGINT), ' ', cast(y0 AS BIGINT), ', ',
                          cast(x0 + w AS BIGINT), ' ', cast(y0 AS BIGINT), ', ',
                          cast(x0 AS BIGINT), ' ', cast(y0 + 1 AS BIGINT), '))') AS tri
            FROM g
        )
        SELECT c_custkey,
               expand_envelope(line, 2.0) AS env_expanded,
               size(flatten_geometry_collections(
                   concat('GEOMETRYCOLLECTION (', tri, ', GEOMETRYCOLLECTION (',
                          tri, ', POINT (1 2)))'))) AS n_flat,
               element_at(flatten_geometry_collections(
                   concat('GEOMETRYCOLLECTION (', tri, ', GEOMETRYCOLLECTION (',
                          tri, ', POINT (1 2)))')), 1) AS flat_first,
               element_at(flatten_geometry_collections(
                   concat('GEOMETRYCOLLECTION (', tri, ', GEOMETRYCOLLECTION (',
                          tri, ', POINT (1 2)))')), 3) AS flat_last,
               size(flatten_geometry_collections('GEOMETRYCOLLECTION EMPTY'))
                   AS n_flat_empty,
               abs(st_area(st_buffer(tri, 2.0))
                   - (st_area(tri) + st_perimeter(tri) * 2.0 + pi() * 4.0))
                   / (pi() * 4.0) < 0.03 AS buffer_poly_area_ok,
               st_contains(st_buffer(line, 2.0), st_point(x0, y0))
                   AND st_contains(st_buffer(line, 2.0), st_point(x0 + w, y0 + 1.0))
                   AS buffer_line_covers_ends,
               st_buffer(concat('MULTIPOINT (', x0, ' ', y0, ', ',
                                x0 + w, ' ', y0, ')'), 1.0) LIKE 'POLYGON%'
                   AS buffer_mp_is_polygon
        FROM p
        ORDER BY c_custkey
        """
    )
