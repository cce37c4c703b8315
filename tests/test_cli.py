"""CLI entry point (reference: presto-cli --execute / piped-stdin modes)."""

from __future__ import annotations

import json
import re
import subprocess
import sys

import pytest

CLI = [sys.executable, "-m", "sensql_presto_spark.cli", "--sf-dir", "/root/testdata/sf0.001"]


def _run(args, stdin=None):
    return subprocess.run(
        CLI + args, input=stdin, capture_output=True, text=True, timeout=240, cwd="/root/repo"
    )


def test_execute_aligned():
    r = _run(["--execute", "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 2"])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "NATION_0" in r.stdout and "NATION_1" in r.stdout
    assert "(2 rows)" in r.stdout


def test_execute_json_with_compat_functions():
    r = _run(
        [
            "--format",
            "json",
            "--execute",
            "SELECT strpos('hello', 'll') AS p, st_point(1.0, 2.0) AS pt,"
            " value_at_quantile(array(0D, 10D, 20D), 0.5) AS q",
        ]
    )
    assert r.returncode == 0, r.stderr[-2000:]
    row = json.loads(r.stdout.strip().splitlines()[-1])
    assert row == {"p": 3, "pt": "POINT (1.0 2.0)", "q": 10.0}


def test_piped_multi_statement_csv():
    r = _run(
        ["--format", "csv"],
        stdin="SELECT count(*) AS n FROM region; SELECT 1 AS one;\n",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [l.strip() for l in r.stdout.splitlines() if l.strip()]
    assert lines == ["n", "5", "one", "1"]


def test_piped_error_exits_nonzero():
    r = _run([], stdin="SELECT * FROM does_not_exist;\n")
    assert r.returncode == 1
    assert "Query failed" in r.stderr


# Every function name prepare_session installs, as SQL temp-function DDL or
# a Python UDF registration (the builtin aliases any_match/all_match go
# straight into the FunctionRegistry and are checked over HTTP instead).
SURFACE = set(
    """
    array_average array_dupes array_duplicates array_frequency array_has_duplicates
    array_normalize array_sum at_timezone bar bar_gradient bing_tile bing_tile_at
    bing_tile_children bing_tile_coordinates bing_tile_parent bing_tile_polygon
    bing_tile_quadkey bing_tile_quadkey_clamped bing_tile_x_at
    bing_tile_x_from_quadkey bing_tile_y_at bing_tile_y_from_quadkey
    bing_tile_zoom_level bing_tiles_around bitwise_and
    bitwise_arithmetic_shift_right bitwise_left_shift bitwise_logical_shift_right
    bitwise_not bitwise_or bitwise_right_shift bitwise_right_shift_arithmetic
    bitwise_shift_left bitwise_xor char2hexint codepoint color color_interp
    color_to_ansi combinations combine_hash day_of_week day_of_year dow doy
    expand_envelope fail flatten_geometry_collections fnv1_32 fnv1_64 fnv1a_32
    fnv1a_64 from_base from_base64 from_base64url from_big_endian_32
    from_big_endian_64 from_hex from_ieee754_32 from_ieee754_64 from_iso8601_date
    from_iso8601_timestamp geometry_as_geojson geometry_from_geojson
    geometry_invalid_reason geometry_nearest_points geometry_to_bing_tiles
    geometry_to_dissolved_bing_tiles geometry_union great_circle_distance
    hamming_distance hmac_md5 hmac_sha1 hmac_sha256 hmac_sha512 index infinity
    intersection_cardinality inverse_normal_cdf ip_prefix ip_subnet_max
    ip_subnet_min ip_subnet_range is_finite is_infinite is_json_scalar is_nan
    is_subnet_of jaccard_index json_array_contains json_array_contains_num
    json_array_contains_str json_array_get json_extract json_extract_scalar
    json_format json_parse json_size key_sampling_percent last_day_of_month
    levenshtein_distance line_interpolate_point line_locate_point map_normalize
    merge_hll merge_set_digest millisecond multimap_from_entries murmur3_x64_128 nan
    ngrams normal_cdf normalize normalize_nfc normalize_unicode parse_duration
    parse_presto_data_size presto_from_unixtime presto_json_path quantile_at_value
    quantiles_at_values render render_bool rgb scale_qdigest scale_tdigest
    secure_random simplify_geometry split_to_map split_to_multimap spooky_hash_v2_32
    spooky_hash_v2_64 st_area st_as_binary st_astext st_boundary st_buffer
    st_centroid st_contains st_convex_hull st_coorddim st_crosses st_difference
    st_dimension st_disjoint st_distance st_distance_points st_end_point st_envelope
    st_envelope_as_pts st_equals st_exterior_ring st_geography_area
    st_geography_length st_geom_from_binary st_geometries st_geometry
    st_geometry_from_text st_geometry_n st_geometry_type st_interior_ring_n
    st_interior_rings st_intersection st_intersects st_is_closed st_is_empty
    st_is_ring st_is_simple st_is_valid st_length st_line_from_text st_linestring
    st_multipoint st_num_geometries st_num_interior_ring st_num_points st_overlaps
    st_perimeter st_point st_point_n st_points st_polygon st_relate st_start_point
    st_sym_difference st_touches st_union st_within st_x st_xmax st_xmin st_xs st_y
    st_ymax st_ymin st_ys strpos strrpos teradata_to_char teradata_to_date
    teradata_to_timestamp timezone_hour timezone_minute to_base to_base64
    to_base64url to_big_endian_32 to_big_endian_64 to_hex to_ieee754_32
    to_ieee754_64 to_iso8601 to_milliseconds to_spherical_geography to_unixtime
    trim_array truncate url_extract_fragment url_extract_host url_extract_parameter
    url_extract_path url_extract_protocol url_extract_query value_at_quantile
    values_at_quantiles week week_of_year wilson_interval_lower
    wilson_interval_upper word_stem year_of_week yow
    """.split()
)
_TEMP_FUNCTION = re.compile(r"TEMPORARY\s+FUNCTION\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)", re.I)


def _record_registrations(monkeypatch) -> list[str]:
    """The names registered from now on, as SQL temp-function DDL or a
    Python UDF registration, in order."""
    from pyspark.sql import SparkSession
    from pyspark.sql.udf import UDFRegistration

    names: list[str] = []
    real_sql, real_register = SparkSession.sql, UDFRegistration.register

    def sql(self, query, *args, **kwargs):
        m = _TEMP_FUNCTION.search(query)
        if m:
            names.append(m.group(1).lower())
        return real_sql(self, query, *args, **kwargs)

    def register(self, name, *args, **kwargs):
        names.append(name.lower())
        return real_register(self, name, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", sql)
    monkeypatch.setattr(UDFRegistration, "register", register)
    return names


def test_prepare_session_registers_each_function_once(spark, oracle_dir, monkeypatch):
    """One registration per name: the surface is installed by one list of
    families, so no family's names are registered a second time."""
    from sensql_presto_spark.cli import prepare_session

    names = _record_registrations(monkeypatch)
    prepare_session(spark.newSession(), oracle_dir)

    twice = sorted({n for n in names if names.count(n) > 1})
    assert twice == [], f"{len(twice)} names registered more than once: {twice[:10]}"
    assert set(names) == SURFACE


def test_geo_builders_register_the_surface_once_per_session(spark, oracle_dir, monkeypatch):
    """The geospatial registry builders install the ST_* surface on a
    session's first build only: later builds, of the same entry or another
    one, register nothing."""
    from sensql_presto_spark.queries import get

    session = spark.newSession()
    names = _record_registrations(monkeypatch)
    get("sensql_spatial_filter").build(session, oracle_dir)
    assert "st_contains" in names
    names.clear()
    get("sensql_spatial_filter").build(session, oracle_dir)
    get("geo_st_surface2").build(session, oracle_dir)
    assert names == []
    assert get("geo_st_surface2").build(session, oracle_dir).count() > 0


# The registration functions register_all calls, as (module, function):
# each must install on a bare session with no other family present.
_FAMILIES = (
    ("presto_compat", "register_sql_functions"),
    ("geospatial", "register_geospatial"),
    ("udfs", "register_python_udfs"),
    ("color", "register_color_functions"),
    ("ip", "register_ip_functions"),
    ("sketches", "register_sketch_functions"),
    ("", "_register_builtin_aliases"),
)


@pytest.mark.parametrize("module, fn", _FAMILIES, ids=[f for _, f in _FAMILIES])
def test_each_function_family_installs_alone_on_a_bare_session(spark, module, fn, monkeypatch):
    """register_all installs its families side by side, so none may depend
    on another having registered first."""
    import importlib

    register = getattr(
        importlib.import_module("sensql_presto_spark.functions" + (f".{module}" if module else "")),
        fn,
    )
    session = spark.newSession()
    names = _record_registrations(monkeypatch)
    register(session)
    if fn == "_register_builtin_aliases":
        assert names == []
        assert session.sql("SELECT any_match(array(1, 2), x -> x > 1) AS b").first().b
    else:
        assert names and set(names) <= SURFACE
        listed = {r.function for r in session.sql("SHOW USER FUNCTIONS").collect()}
        assert set(names) <= listed


class _Injected(Exception):
    pass


@pytest.mark.parametrize(
    "module, fn",
    [
        ("sensql_presto_spark.functions", "register_sql_functions"),
        ("sensql_presto_spark.functions.color", "register_color_functions"),
        ("sensql_presto_spark.catalog", "register_views"),
    ],
    ids=["sql_functions", "color", "views"],
)
def test_prepare_session_reraises_a_failing_part(spark, oracle_dir, module, fn, monkeypatch):
    """A failure in any concurrently prepared part reaches the caller, and
    prepare_session returns instead of waiting forever."""
    import importlib
    import threading

    from sensql_presto_spark.cli import prepare_session

    def fail(*args, **kwargs):
        raise _Injected(fn)

    monkeypatch.setattr(importlib.import_module(module), fn, fail)
    raised: list[BaseException] = []

    def run() -> None:
        try:
            prepare_session(spark.newSession(), oracle_dir)
        except BaseException as exc:  # noqa: BLE001 — checked below
            raised.append(exc)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "prepare_session did not return"
    assert len(raised) == 1 and isinstance(raised[0], _Injected), raised


def test_sessions_prepared_at_once_each_list_the_surface(spark, oracle_dir):
    """Sessions prepared on more threads than cores at once, with frequent
    thread switches, each end with exactly the pinned surface (plus the two
    builtin aliases that go straight into the registry) and the catalog."""
    import threading

    from sensql_presto_spark import catalog
    from sensql_presto_spark.cli import prepare_session

    sessions = [spark.newSession() for _ in range(6)]
    threads = [
        threading.Thread(target=prepare_session, args=(s, oracle_dir), daemon=True)
        for s in sessions
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    for session in sessions:
        listed = {r.function for r in session.sql("SHOW USER FUNCTIONS").collect()}
        assert listed == SURFACE | {"any_match", "all_match"}
        views = {t.name for t in session.catalog.listTables() if t.isTemporary}
        assert views == set(catalog.TABLES) | {
            "information_schema_tables",
            "information_schema_columns",
        }
