"""WKT geometry subset — polygons, linestrings, multipoint — as pure
Catalyst expressions.

Reference: presto-main/.../geospatial/GeoFunctions.java (1,344 LoC over
Esri geometries).  The container ships no geometry library, so this
module implements the planar-geometry core directly with Spark SQL
primitives: WKT parsing via regexp + split, and area / centroid /
point-in-polygon / length / envelope via higher-order functions over
the coordinate arrays.  Everything stays JVM-side (interpreted HOFs —
off the codegen fast path but no Python round-trip, no driver
collection; at 100 TB geometry columns never leave the executors).

Representation (documented engine type, like functions/geo.py points):

    geometry := struct<
        gtype  string,                     -- POINT|LINESTRING|POLYGON|MULTIPOINT
        rings  array<array<struct<x double, y double>>>
    >

POINT/LINESTRING/MULTIPOINT carry one ring; POLYGON carries shell +
holes (WKT order; shell first).  Polygon rings follow WKT's closed-ring
convention (first point repeated last).

Semantics parity notes vs GeoFunctions.java:
- ST_Area: |shoelace(shell)| - sum |shoelace(hole)| (planar, like the
  reference's default planar geometry).
- ST_Contains here is polygon-contains-POINT (even-odd ray cast, holes
  subtract).  Boundary points are implementation-defined in the
  reference too (Esri relate); tests avoid exact-boundary probes.
- ST_Centroid: area-weighted polygon centroid over the shell; POINT ->
  itself; LINESTRING -> length-weighted segment midpoint average.
- ST_Length: LINESTRING only (the reference raises on polygons too).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "st_geometry_from_text",
    "st_as_text",
    "st_area",
    "st_centroid",
    "st_polygon_contains_point",
    "st_length",
    "st_num_points",
    "st_envelope_of",
    "st_geometry_type",
]


def _col(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def _parse_rings(wkt: Column) -> Column:
    """array of '(x y, x y, ...)' ring bodies -> array<array<point>>."""
    # innermost paren groups = ring bodies (the [^()]+ class can't cross
    # a nested paren, so POLYGON ((..),(..)) yields exactly its rings)
    ring_bodies = F.regexp_extract_all(wkt, F.lit(r"\(([^()]+)\)"), 1)
    return F.transform(
        ring_bodies,
        lambda body: F.transform(
            F.split(body, ","),
            lambda pair: F.struct(
                F.element_at(F.split(F.trim(pair), "\\s+"), 1)
                .cast("double")
                .alias("x"),
                F.element_at(F.split(F.trim(pair), "\\s+"), 2)
                .cast("double")
                .alias("y"),
            ),
        ),
    )


def st_geometry_from_text(wkt) -> Column:
    """GeoFunctions.java stGeometryFromText subset: POINT, LINESTRING,
    POLYGON (with holes), MULTIPOINT.  Unknown types yield NULL gtype
    (callers can filter), matching TRY(ST_GeometryFromText(...)) use."""
    w = F.upper(F.trim(_col(wkt)))
    gtype = F.regexp_extract(w, "^(POINT|LINESTRING|POLYGON|MULTIPOINT)", 1)
    # POINT (1 2) has no nested parens; normalize to ring form
    rings = _parse_rings(w)
    return F.struct(
        F.when(gtype != "", gtype).alias("gtype"),
        rings.alias("rings"),
    )


def st_geometry_type(g) -> Column:
    """Presto returns ST_<Type> (GeometryType.java)."""
    t = _col(g)["gtype"]
    return F.concat(
        F.lit("ST_"), F.initcap(F.lower(t))
    )


def st_as_text(g) -> Column:
    """Round-trippable WKT (coordinate text via double->string cast)."""
    g = _col(g)
    fmt_pt = lambda p: F.concat_ws(" ", p["x"].cast("string"), p["y"].cast("string"))  # noqa: E731
    ring_txt = F.transform(
        g["rings"],
        lambda ring: F.concat(
            F.lit("("), F.array_join(F.transform(ring, fmt_pt), ", "), F.lit(")")
        ),
    )
    body = F.array_join(ring_txt, ", ")
    return F.when(
        g["gtype"] == "POINT",
        # POINT uses bare parens: POINT (x y)
        F.concat(F.lit("POINT "), body),
    ).otherwise(F.concat(g["gtype"], F.lit(" ("), body, F.lit(")")))


def _ring_shoelace2(ring: Column) -> Column:
    """2x signed shoelace area of a closed ring (sum over consecutive
    pairs; the WKT closing point makes the wrap-around edge explicit)."""
    n = F.size(ring)
    a = F.slice(ring, 1, n - 1)
    b = F.slice(ring, 2, n - 1)
    cross = F.zip_with(a, b, lambda p, q: p["x"] * q["y"] - q["x"] * p["y"])
    return F.aggregate(cross, F.lit(0.0), lambda acc, v: acc + v)


def st_area(g) -> Column:
    """|shell| - sum |holes| (planar shoelace)."""
    g = _col(g)
    areas = F.transform(g["rings"], lambda r: F.abs(_ring_shoelace2(r)) / 2.0)
    shell = F.element_at(areas, 1)
    holes = F.aggregate(
        F.slice(areas, 2, F.greatest(F.size(areas) - 1, F.lit(0))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(g["gtype"] == "POLYGON", shell - holes).otherwise(F.lit(0.0))


def st_centroid(g) -> Column:
    """POINT -> itself; POLYGON -> area-weighted centroid of the shell;
    LINESTRING -> length-weighted midpoint average."""
    g = _col(g)
    first_pt = F.element_at(F.element_at(g["rings"], 1), 1)
    shell = F.element_at(g["rings"], 1)
    n = F.size(shell)
    a = F.slice(shell, 1, n - 1)
    b = F.slice(shell, 2, n - 1)
    cross = F.zip_with(a, b, lambda p, q: p["x"] * q["y"] - q["x"] * p["y"])
    cx_terms = F.zip_with(
        a, b, lambda p, q: (p["x"] + q["x"]) * (p["x"] * q["y"] - q["x"] * p["y"])
    )
    cy_terms = F.zip_with(
        a, b, lambda p, q: (p["y"] + q["y"]) * (p["x"] * q["y"] - q["x"] * p["y"])
    )
    twice_area = F.aggregate(cross, F.lit(0.0), lambda acc, v: acc + v)
    poly_c = F.struct(
        (F.aggregate(cx_terms, F.lit(0.0), lambda acc, v: acc + v) / (3 * F.nullif(twice_area, F.lit(0.0)))).alias("x"),
        (F.aggregate(cy_terms, F.lit(0.0), lambda acc, v: acc + v) / (3 * F.nullif(twice_area, F.lit(0.0)))).alias("y"),
    )
    seg_len = F.zip_with(
        a, b, lambda p, q: F.sqrt(
            (q["x"] - p["x"]) * (q["x"] - p["x"]) + (q["y"] - p["y"]) * (q["y"] - p["y"])
        )
    )
    total_len = F.aggregate(seg_len, F.lit(0.0), lambda acc, v: acc + v)
    mid_x = F.zip_with(a, b, lambda p, q: (p["x"] + q["x"]) / 2.0)
    mid_y = F.zip_with(a, b, lambda p, q: (p["y"] + q["y"]) / 2.0)
    line_c = F.struct(
        (
            F.aggregate(
                F.zip_with(mid_x, seg_len, lambda m, w: m * w),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.nullif(total_len, F.lit(0.0))
        ).alias("x"),
        (
            F.aggregate(
                F.zip_with(mid_y, seg_len, lambda m, w: m * w),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.nullif(total_len, F.lit(0.0))
        ).alias("y"),
    )
    return (
        F.when(g["gtype"] == "POINT", F.struct(first_pt["x"].alias("x"), first_pt["y"].alias("y")))
        .when(g["gtype"] == "POLYGON", poly_c)
        .otherwise(line_c)
    )


def _ring_crossings(ring: Column, px: Column, py: Column) -> Column:
    """Even-odd ray-cast parity (0/1) of point (px,py) vs one ring."""
    n = F.size(ring)
    a = F.slice(ring, 1, n - 1)
    b = F.slice(ring, 2, n - 1)
    crossed = F.zip_with(
        a,
        b,
        lambda p, q: F.when(
            ((p["y"] > py) != (q["y"] > py))
            & (px < (q["x"] - p["x"]) * (py - p["y"]) / (q["y"] - p["y"]) + p["x"]),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(crossed, F.lit(0), lambda acc, v: acc + v) % 2


def st_polygon_contains_point(g, px, py) -> Column:
    """Even-odd containment incl. holes: XOR of all ring parities."""
    g, px, py = _col(g), _col(px).cast("double"), _col(py).cast("double")
    parities = F.transform(g["rings"], lambda r: _ring_crossings(r, px, py))
    total = F.aggregate(parities, F.lit(0), lambda acc, v: acc + v)
    return (g["gtype"] == "POLYGON") & (total % 2 == 1)


def _segments(ring: Column) -> Column:
    """Consecutive point pairs of a ring as array<struct<p, q>>."""
    n = F.size(ring)
    return F.zip_with(
        F.slice(ring, 1, n - 1),
        F.slice(ring, 2, n - 1),
        lambda p, q: F.struct(p.alias("p"), q.alias("q")),
    )


def _orient(p: Column, q: Column, r: Column) -> Column:
    """Sign of the cross product (q-p) x (r-p): +1 left turn, -1 right,
    0 collinear."""
    return F.signum(
        (q["x"] - p["x"]) * (r["y"] - p["y"])
        - (q["y"] - p["y"]) * (r["x"] - p["x"])
    )


def _proper_cross(sa: Column, sb: Column) -> Column:
    """Segments properly cross (straddle each other; endpoints touching
    or collinear overlap excluded — boundary contact is
    implementation-defined in the reference's Esri relate too)."""
    o1 = _orient(sa["p"], sa["q"], sb["p"])
    o2 = _orient(sa["p"], sa["q"], sb["q"])
    o3 = _orient(sb["p"], sb["q"], sa["p"])
    o4 = _orient(sb["p"], sb["q"], sa["q"])
    return (o1 * o2 < 0) & (o3 * o4 < 0)


def _shells_cross(a: Column, b: Column) -> Column:
    """Any proper edge crossing between the two SHELL rings (O(|A|*|B|)
    per row over the coordinate arrays — rings are small; the pairwise
    loop stays inside one JVM expression, row-local at any scale)."""
    segs_a = _segments(F.element_at(a["rings"], 1))
    segs_b = _segments(F.element_at(b["rings"], 1))
    return F.exists(
        segs_a, lambda sa: F.exists(segs_b, lambda sb: _proper_cross(sa, sb))
    )


def st_intersects(a, b) -> Column:
    """GeoFunctions.java stIntersects for POLYGON/POLYGON (shells):
    true iff an edge of A properly crosses an edge of B, or either
    polygon contains a vertex of the other (covers containment without
    crossings).  Holes are ignored (a geometry living entirely inside
    the other's hole still reports true) — documented subset."""
    a, b = _col(a), _col(b)
    va = F.element_at(F.element_at(a["rings"], 1), 1)
    vb = F.element_at(F.element_at(b["rings"], 1), 1)
    return (
        _shells_cross(a, b)
        | st_polygon_contains_point(b, va["x"], va["y"])
        | st_polygon_contains_point(a, vb["x"], vb["y"])
    )


def st_within(a, b) -> Column:
    """GeoFunctions.java stWithin for POLYGON-in-POLYGON (shells):
    every vertex of A's shell strictly inside B and no proper edge
    crossings.  Boundary-touching cases are implementation-defined
    (same caveat as ST_Contains above)."""
    a, b = _col(a), _col(b)
    shell_a = F.element_at(a["rings"], 1)
    all_in = F.forall(
        shell_a, lambda p: st_polygon_contains_point(b, p["x"], p["y"])
    )
    return all_in & ~_shells_cross(a, b)


def st_length(g) -> Column:
    """LINESTRING length (sum of segment lengths)."""
    g = _col(g)
    ring = F.element_at(g["rings"], 1)
    n = F.size(ring)
    a = F.slice(ring, 1, n - 1)
    b = F.slice(ring, 2, n - 1)
    seg = F.zip_with(
        a, b, lambda p, q: F.sqrt(
            (q["x"] - p["x"]) * (q["x"] - p["x"]) + (q["y"] - p["y"]) * (q["y"] - p["y"])
        )
    )
    return F.when(
        g["gtype"] == "LINESTRING",
        F.aggregate(seg, F.lit(0.0), lambda acc, v: acc + v),
    ).otherwise(F.lit(0.0))


def st_num_points(g) -> Column:
    g = _col(g)
    return F.aggregate(
        F.transform(g["rings"], F.size), F.lit(0), lambda acc, v: acc + v
    )


def st_envelope_of(g) -> Column:
    """Bounding box struct<xmin,ymin,xmax,ymax> of any geometry."""
    g = _col(g)
    xs = F.flatten(F.transform(g["rings"], lambda r: F.transform(r, lambda p: p["x"])))
    ys = F.flatten(F.transform(g["rings"], lambda r: F.transform(r, lambda p: p["y"])))
    return F.struct(
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
    )


# ---------------------------------------------------------------------------
# SQL-invocable twins: the same formulas as the Column helpers above,
# registered as CREATE TEMPORARY FUNCTION bodies so SQL text can call
# ST_GeometryFromText / ST_Area / ... directly (Catalyst inlines them).
# ---------------------------------------------------------------------------

GEOM_T = (
    "STRUCT<gtype: STRING, rings: ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>>"
)


def _sql_ring_shoelace2(r: str) -> str:
    return (
        f"aggregate(zip_with(slice({r}, 1, size({r}) - 1),"
        f" slice({r}, 2, size({r}) - 1),"
        " (p, q) -> p.x * q.y - q.x * p.y), 0D, (a, v) -> a + v)"
    )


_SQL_AREAS = f"transform(g.rings, r -> abs({_sql_ring_shoelace2('r')}) / 2)"

SQL_GEOMETRY_UDFS: dict[str, tuple[str, str, str]] = {
    "st_geometryfromtext": (
        "w STRING",
        GEOM_T,
        "named_struct("
        " 'gtype', nullif(regexp_extract(upper(trim(w)),"
        " '^(POINT|LINESTRING|POLYGON|MULTIPOINT)', 1), ''),"
        " 'rings', transform("
        r"   regexp_extract_all(upper(trim(w)), '\\(([^()]+)\\)', 1),"
        "   body -> transform(split(body, ','),"
        r"     pair -> named_struct("
        r"       'x', CAST(element_at(split(trim(pair), '\\s+'), 1) AS DOUBLE),"
        r"       'y', CAST(element_at(split(trim(pair), '\\s+'), 2) AS DOUBLE)))))",
    ),
    "st_area": (
        f"g {GEOM_T}",
        "DOUBLE",
        "CASE WHEN g.gtype = 'POLYGON' THEN"
        f" element_at({_SQL_AREAS}, 1)"
        f" - aggregate(slice({_SQL_AREAS}, 2,"
        f"     greatest(size(g.rings) - 1, 0)), 0D, (a, v) -> a + v)"
        # MULTIPOLYGON rings are disjoint SHELLS (e.g. st_difference's
        # convex-piece decomposition): areas sum (round 6)
        " WHEN g.gtype = 'MULTIPOLYGON' THEN"
        f" aggregate({_SQL_AREAS}, 0D, (a, v) -> a + v)"
        " ELSE 0D END",
    ),
    "st_numpoints": (
        f"g {GEOM_T}",
        "INT",
        "aggregate(transform(g.rings, r -> size(r)), 0, (a, v) -> a + v)",
    ),
    "st_length": (
        f"g {GEOM_T}",
        "DOUBLE",
        "CASE WHEN g.gtype = 'LINESTRING' THEN"
        " aggregate(zip_with("
        "   slice(element_at(g.rings, 1), 1, size(element_at(g.rings, 1)) - 1),"
        "   slice(element_at(g.rings, 1), 2, size(element_at(g.rings, 1)) - 1),"
        "   (p, q) -> sqrt((q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y))),"
        "   0D, (a, v) -> a + v)"
        " ELSE 0D END",
    ),
    "st_contains_point": (
        f"g {GEOM_T}, px DOUBLE, py DOUBLE",
        "BOOLEAN",
        "g.gtype = 'POLYGON' AND aggregate(transform(g.rings,"
        " r -> aggregate(zip_with(slice(r, 1, size(r) - 1), slice(r, 2, size(r) - 1),"
        "   (p, q) -> CASE WHEN ((p.y > py) != (q.y > py))"
        "     AND (px < (q.x - p.x) * (py - p.y) / (q.y - p.y) + p.x)"
        "     THEN 1 ELSE 0 END), 0, (a, v) -> a + v) % 2),"
        " 0, (a, v) -> a + v) % 2 = 1",
    ),
    "st_point": (
        "x DOUBLE, y DOUBLE",
        GEOM_T,
        "named_struct('gtype', 'POINT',"
        " 'rings', array(array(named_struct('x', x, 'y', y))))",
    ),
    # Presto signature: ST_Contains(geometry, geometry) — supported for
    # a POINT probe (the reference's spatial-join workload shape);
    # non-point probes return NULL rather than a wrong answer.
    "st_contains": (
        f"g {GEOM_T}, p {GEOM_T}",
        "BOOLEAN",
        "CASE WHEN p.gtype = 'POINT' THEN st_contains_point(g,"
        " element_at(element_at(p.rings, 1), 1).x,"
        " element_at(element_at(p.rings, 1), 1).y) END",
    ),
    "st_geometrytype": (
        f"g {GEOM_T}",
        "STRING",
        "concat('ST_', initcap(lower(g.gtype)))",
    ),
    "st_x": (
        f"g {GEOM_T}",
        "DOUBLE",
        "CASE WHEN g.gtype = 'POINT'"
        " THEN element_at(element_at(g.rings, 1), 1).x END",
    ),
    "st_y": (
        f"g {GEOM_T}",
        "DOUBLE",
        "CASE WHEN g.gtype = 'POINT'"
        " THEN element_at(element_at(g.rings, 1), 1).y END",
    ),
    # polygon-polygon predicates (GeoFunctions.java stIntersects /
    # stWithin) — same orientation-sign segment test as the Column
    # helpers above; bodies reference st_contains_point, which registers
    # earlier in this dict's order
    "st_intersects": (
        f"a {GEOM_T}, b {GEOM_T}",
        "BOOLEAN",
        "__CROSS__"
        " OR __B_HAS_AV__ OR __A_HAS_BV__",
    ),
    # NOTE: the containment test is INLINED (not a st_contains_point
    # call): a SQL-UDF call inside a higher-order lambda cannot
    # reference the lambda variable (Spark wraps UDF args in a Project
    # that the lambda var cannot cross), so st_within generates the
    # ray-cast directly into the forall body.
    "st_within": (
        f"a {GEOM_T}, b {GEOM_T}",
        "BOOLEAN",
        "forall(element_at(a.rings, 1), vp -> __B_HAS_VP__)"
        " AND NOT (__CROSS__)",
    ),
}


def _sql_contains_point(g: str, px: str, py: str) -> str:
    """Even-odd ray-cast containment as inlinable SQL text (the same
    formula as the st_contains_point macro, parameterized so it can sit
    inside another expression's lambda)."""
    return (
        f"(({g}.gtype = 'POLYGON') AND aggregate(transform({g}.rings,"
        f" r9 -> aggregate(zip_with(slice(r9, 1, size(r9) - 1), slice(r9, 2, size(r9) - 1),"
        f"   (p9, q9) -> CASE WHEN ((p9.y > {py}) != (q9.y > {py}))"
        f"     AND ({px} < (q9.x - p9.x) * ({py} - p9.y) / (q9.y - p9.y) + p9.x)"
        f"     THEN 1 ELSE 0 END), 0, (a9, v9) -> a9 + v9) % 2),"
        f" 0, (a8, v8) -> a8 + v8) % 2 = 1)"
    )


def _sql_segs(r: str) -> str:
    return (
        f"zip_with(slice({r}, 1, size({r}) - 1), slice({r}, 2, size({r}) - 1),"
        " (sp, sq) -> named_struct('p', sp, 'q', sq))"
    )


def _sql_orient(p: str, q: str, r: str) -> str:
    return (
        f"sign(({q}.x - {p}.x) * ({r}.y - {p}.y)"
        f" - ({q}.y - {p}.y) * ({r}.x - {p}.x))"
    )


_SQL_PROPER_CROSS = (
    f"({_sql_orient('sa.p', 'sa.q', 'sb.p')} * {_sql_orient('sa.p', 'sa.q', 'sb.q')} < 0)"
    f" AND ({_sql_orient('sb.p', 'sb.q', 'sa.p')} * {_sql_orient('sb.p', 'sb.q', 'sa.q')} < 0)"
)

_SQL_SHELLS_CROSS = (
    f"exists({_sql_segs('element_at(a.rings, 1)')},"
    f" sa -> exists({_sql_segs('element_at(b.rings, 1)')},"
    f" sb -> {_SQL_PROPER_CROSS}))"
)

for _name in ("st_intersects", "st_within"):
    _sig, _ret, _body = SQL_GEOMETRY_UDFS[_name]
    _body = (
        _body.replace("__CROSS__", _SQL_SHELLS_CROSS)
        .replace(
            "__B_HAS_AV__",
            _sql_contains_point(
                "b",
                "element_at(element_at(a.rings, 1), 1).x",
                "element_at(element_at(a.rings, 1), 1).y",
            ),
        )
        .replace(
            "__A_HAS_BV__",
            _sql_contains_point(
                "a",
                "element_at(element_at(b.rings, 1), 1).x",
                "element_at(element_at(b.rings, 1), 1).y",
            ),
        )
        .replace("__B_HAS_VP__", _sql_contains_point("b", "vp.x", "vp.y"))
    )
    SQL_GEOMETRY_UDFS[_name] = (_sig, _ret, _body)


# ---------------------------------------------------------------------------
# Round-5 OGC closures (GeoFunctions.java long-tail): convex hull,
# union, nearest points, line interpolate/locate, GeoJSON — all pure
# Catalyst HOF expressions over the same geometry struct.  Notes:
#
# - ST_ConvexHull / convex_hull_agg: Andrew's monotone chain.  The
#   stack "pop while cross <= 0" loop is expressible as a single
#   aggregate() because the post-pop stack height equals the LARGEST
#   j >= 2 with cross(h[j-1], h[j], p) > 0 (pops are contiguous from
#   the top and each test only reads elements below the popped ones),
#   so one inner scan computes the cut point and concat(slice(h,1,k),
#   array(p)) performs all pops at once.
# - geometry_union / ST_Union / geometry_union_agg: boundary points =
#   (vertices not strictly inside another input) + (pairwise proper
#   edge intersections), ordered by angle around a witness point
#   (mean of the intersection points, which lies inside the overlap
#   for two convex inputs — the union of convex sets sharing a point
#   is star-shaped about it, so the angular order IS the boundary
#   order).  Pairwise-disjoint inputs return MULTIPOLYGON of the
#   shells (exact).  Documented subset: convex shells, holes ignored,
#   N-way chains without a common overlap point are approximate
#   (COVERAGE.md geometry inventory); the reference delegates to Esri
#   exact union.
# - geometry_nearest_points: the closest pair between two polyline
#   boundaries is always vertex-to-(clamped segment projection), so
#   the exact answer is an argmin over both directions' candidates.
# ---------------------------------------------------------------------------

_PT_T = "ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>"


def _sql_chain(seq: str) -> str:
    """Monotone-chain half-hull of point sequence `seq` (SQL text)."""
    cross_keep = (
        "((element_at(h9, j9).x - element_at(h9, j9 - 1).x)"
        " * (p9.y - element_at(h9, j9 - 1).y)"
        " - (element_at(h9, j9).y - element_at(h9, j9 - 1).y)"
        " * (p9.x - element_at(h9, j9 - 1).x)) > 0D"
    )
    cut = (
        "CASE WHEN size(h9) < 2 THEN size(h9) ELSE"
        " aggregate(sequence(2, size(h9)), 1,"
        f" (k9, j9) -> CASE WHEN {cross_keep} THEN j9 ELSE k9 END) END"
    )
    return (
        f"aggregate({seq}, CAST(array() AS {_PT_T}),"
        f" (h9, p9) -> concat(slice(h9, 1, {cut}), array(p9)))"
    )


_SQL_HULL_BODY = (
    # let-bind the sorted distinct points, then the open ring
    "element_at(transform(array(array_sort(array_distinct(pts))), sp9 ->"
    " element_at(transform(array(concat("
    f"   slice({_sql_chain('sp9')}, 1, greatest(size({_sql_chain('sp9')}) - 1, 0)),"
    f"   slice({_sql_chain('reverse(sp9)')}, 1,"
    f"     greatest(size({_sql_chain('reverse(sp9)')}) - 1, 0)))), ring9 ->"
    " CASE"
    " WHEN size(sp9) = 0 THEN named_struct('gtype', CAST(NULL AS STRING),"
    f"   'rings', CAST(array() AS ARRAY<{_PT_T}>))"
    " WHEN size(sp9) = 1 THEN named_struct('gtype', 'POINT',"
    "   'rings', array(sp9))"
    " WHEN size(ring9) <= 2 THEN named_struct('gtype', 'LINESTRING',"
    "   'rings', array(array(element_at(sp9, 1), element_at(sp9, size(sp9)))))"
    " ELSE named_struct('gtype', 'POLYGON',"
    "   'rings', array(concat(ring9, array(element_at(ring9, 1)))))"
    " END), 1)), 1)"
)


def _sql_ring_raycast(ring: str, px: str, py: str) -> str:
    """Even-odd ray cast of (px, py) vs one closed ring (SQL text)."""
    return (
        f"(aggregate(zip_with(slice({ring}, 1, size({ring}) - 1),"
        f" slice({ring}, 2, size({ring}) - 1),"
        f" (rp9, rq9) -> CASE WHEN ((rp9.y > {py}) != (rq9.y > {py}))"
        f" AND ({px} < (rq9.x - rp9.x) * ({py} - rp9.y) / (rq9.y - rp9.y) + rp9.x)"
        " THEN 1 ELSE 0 END), 0, (ra9, rv9) -> ra9 + rv9) % 2 = 1)"
    )


def _sql_segs_of(r: str) -> str:
    return (
        f"zip_with(slice({r}, 1, size({r}) - 1), slice({r}, 2, size({r}) - 1),"
        " (zp9, zq9) -> named_struct('p', zp9, 'q', zq9))"
    )


def _build_union_all_body() -> str:
    """st_union_all(gs ARRAY<GEOM_T>) — see module note for semantics."""
    # pairwise proper intersections between shells i < j
    proper = (
        "(sign((sa9.q.x - sa9.p.x) * (sb9.p.y - sa9.p.y)"
        " - (sa9.q.y - sa9.p.y) * (sb9.p.x - sa9.p.x))"
        " * sign((sa9.q.x - sa9.p.x) * (sb9.q.y - sa9.p.y)"
        " - (sa9.q.y - sa9.p.y) * (sb9.q.x - sa9.p.x)) < 0)"
        " AND (sign((sb9.q.x - sb9.p.x) * (sa9.p.y - sb9.p.y)"
        " - (sb9.q.y - sb9.p.y) * (sa9.p.x - sb9.p.x))"
        " * sign((sb9.q.x - sb9.p.x) * (sa9.q.y - sb9.p.y)"
        " - (sb9.q.y - sb9.p.y) * (sa9.q.x - sb9.p.x)) < 0)"
    )
    ipoint = (
        "named_struct("
        " 'x', sa9.p.x + (((sb9.p.x - sa9.p.x) * (sb9.q.y - sb9.p.y)"
        "   - (sb9.p.y - sa9.p.y) * (sb9.q.x - sb9.p.x))"
        "  / ((sa9.q.x - sa9.p.x) * (sb9.q.y - sb9.p.y)"
        "   - (sa9.q.y - sa9.p.y) * (sb9.q.x - sb9.p.x)))"
        "  * (sa9.q.x - sa9.p.x),"
        " 'y', sa9.p.y + (((sb9.p.x - sa9.p.x) * (sb9.q.y - sb9.p.y)"
        "   - (sb9.p.y - sa9.p.y) * (sb9.q.x - sb9.p.x))"
        "  / ((sa9.q.x - sa9.p.x) * (sb9.q.y - sb9.p.y)"
        "   - (sa9.q.y - sa9.p.y) * (sb9.q.x - sb9.p.x)))"
        "  * (sa9.q.y - sa9.p.y))"
    )
    inters = (
        "flatten(flatten(transform(sequence(1, size(sh9)), i9 ->"
        " transform(sequence(1, size(sh9)), j9 ->"
        " CASE WHEN j9 <= i9 THEN CAST(array() AS " + _PT_T + ") ELSE"
        f" flatten(transform({_sql_segs_of('element_at(sh9, i9)')}, sa9 ->"
        f" transform(filter({_sql_segs_of('element_at(sh9, j9)')},"
        f" sb9 -> {proper}), sb9 -> {ipoint}))) END))))"
    )
    vert_in_other = _sql_ring_raycast("element_at(sh9, j9)", "v9.x", "v9.y")
    verts_keep = (
        "flatten(transform(sequence(1, size(sh9)), i9 ->"
        " filter(slice(element_at(sh9, i9), 1, size(element_at(sh9, i9)) - 1),"
        " v9 -> NOT exists(sequence(1, size(sh9)),"
        f" j9 -> j9 != i9 AND {vert_in_other}))))"
    )
    # vertices strictly INSIDE another input — interior points of the
    # overlap, used to anchor the witness (see below)
    verts_in = (
        "flatten(transform(sequence(1, size(sh9)), i9 ->"
        " filter(slice(element_at(sh9, i9), 1, size(element_at(sh9, i9)) - 1),"
        " v9 -> exists(sequence(1, size(sh9)),"
        f" j9 -> j9 != i9 AND {vert_in_other}))))"
    )
    total_verts = (
        "aggregate(sh9, 0, (ta9, tr9) -> ta9 + size(tr9) - 1)"
    )
    polygon_of = (
        # sort candidates by angle around witness w9, close the ring
        "element_at(transform(array(transform(array_sort("
        " transform(cd9, c9 -> named_struct("
        "  'ang', atan2(c9.y - w9.y, c9.x - w9.x),"
        "  'r2', (c9.x - w9.x) * (c9.x - w9.x) + (c9.y - w9.y) * (c9.y - w9.y),"
        "  'x', c9.x, 'y', c9.y))),"
        " s9 -> named_struct('x', s9.x, 'y', s9.y))), ring9 ->"
        " named_struct('gtype', 'POLYGON',"
        " 'rings', array(concat(ring9, array(element_at(ring9, 1)))))), 1)"
    )
    witness = (
        "named_struct("
        " 'x', aggregate(ws9, 0D, (wa9, wp9) -> wa9 + wp9.x) / size(ws9),"
        " 'y', aggregate(ws9, 0D, (wa9, wp9) -> wa9 + wp9.y) / size(ws9))"
    )
    # Witness point: mean of (proper crossings + vertices strictly
    # inside another input).  Crossings alone can be COLLINEAR on one
    # edge of the overlap (e.g. a T-shaped rectangle union, where both
    # crossings sit on the same edge line) — their mean then lies ON
    # the union boundary and the angular order around it is undefined.
    # Adding the strictly-interior vertices makes the mean an interior
    # point of the (convex) overlap whenever one exists; when no vertex
    # is interior the crossings are non-collinear corners of the
    # overlap region and their mean is its center.
    return (
        "element_at(transform(array(transform(gs, g9 -> element_at(g9.rings, 1))), sh9 ->"
        f" element_at(transform(array({inters}), in9 ->"
        f" element_at(transform(array({verts_keep}), vk9 ->"
        f" CASE WHEN size(in9) = 0 AND size(vk9) = {total_verts}"
        " THEN named_struct('gtype', 'MULTIPOLYGON', 'rings', sh9)"
        " ELSE element_at(transform(array("
        f"   element_at(transform(array(concat(in9, {verts_in})),"
        f"     ws9 -> {witness}), 1)), w9 ->"
        " element_at(transform(array(array_distinct(concat(vk9, in9))), cd9 ->"
        f" {polygon_of}), 1)), 1)"
        " END), 1)), 1)), 1)"
    )


_SQL_SEG_NEAREST = (
    # closest point on segment s9 to vertex v9 (clamped projection)
    "element_at(transform(array(CASE WHEN"
    " (s9.q.x - s9.p.x) * (s9.q.x - s9.p.x)"
    " + (s9.q.y - s9.p.y) * (s9.q.y - s9.p.y) = 0D THEN 0D"
    " ELSE greatest(0D, least(1D,"
    "  ((v9.x - s9.p.x) * (s9.q.x - s9.p.x)"
    "  + (v9.y - s9.p.y) * (s9.q.y - s9.p.y))"
    "  / ((s9.q.x - s9.p.x) * (s9.q.x - s9.p.x)"
    "  + (s9.q.y - s9.p.y) * (s9.q.y - s9.p.y)))) END), t9 ->"
    " named_struct('x', s9.p.x + t9 * (s9.q.x - s9.p.x),"
    " 'y', s9.p.y + t9 * (s9.q.y - s9.p.y))), 1)"
)


def _build_nearest_points_body() -> str:
    cand = (
        "named_struct('d2', (v9.x - n9.x) * (v9.x - n9.x)"
        " + (v9.y - n9.y) * (v9.y - n9.y),"
        " 'ax', {ax}, 'ay', {ay}, 'bx', {bx}, 'by', {by})"
    )
    a_to_b = (
        "flatten(transform(flatten(a.rings), v9 ->"
        f" transform({_sql_segs_of('fb9')}, s9 ->"
        f" element_at(transform(array({_SQL_SEG_NEAREST}), n9 -> "
        + cand.format(ax="v9.x", ay="v9.y", bx="n9.x", by="n9.y")
        + "), 1))))"
    )
    b_to_a = (
        "flatten(transform(flatten(b.rings), v9 ->"
        f" transform({_sql_segs_of('fa9')}, s9 ->"
        f" element_at(transform(array({_SQL_SEG_NEAREST}), n9 -> "
        + cand.format(ax="n9.x", ay="n9.y", bx="v9.x", by="v9.y")
        + "), 1))))"
    )
    vv = (
        "flatten(transform(flatten(a.rings), v9 ->"
        " transform(flatten(b.rings), n9 -> "
        + cand.format(ax="v9.x", ay="v9.y", bx="n9.x", by="n9.y")
        + ")))"
    )
    return (
        "CASE WHEN a.gtype IS NULL OR b.gtype IS NULL THEN NULL ELSE"
        " element_at(transform(array(array_min(concat("
        f" {vv},"
        f" element_at(transform(array(flatten(a.rings)), fa9 -> {b_to_a}), 1),"
        f" element_at(transform(array(flatten(b.rings)), fb9 -> {a_to_b}), 1)"
        "))), m9 -> array("
        " named_struct('gtype', 'POINT',"
        "  'rings', array(array(named_struct('x', m9.ax, 'y', m9.ay)))),"
        " named_struct('gtype', 'POINT',"
        "  'rings', array(array(named_struct('x', m9.bx, 'y', m9.by)))))), 1)"
        " END"
    )


_SQL_SEG_LEN = (
    "sqrt((sq9.x - sp9.x) * (sq9.x - sp9.x) + (sq9.y - sp9.y) * (sq9.y - sp9.y))"
)

_SQL_LINE_INTERP_BODY = (
    "CASE WHEN f < 0D OR f > 1D THEN"
    " raise_error(concat('line_interpolate_point: Fraction must be between"
    " 0 and 1, but is ', CAST(f AS STRING)))"
    " WHEN g.gtype != 'LINESTRING' THEN NULL ELSE"
    " element_at(transform(array(element_at(g.rings, 1)), lr9 ->"
    " element_at(transform(array(zip_with("
    "   slice(lr9, 1, size(lr9) - 1), slice(lr9, 2, size(lr9) - 1),"
    f"  (sp9, sq9) -> named_struct('p', sp9, 'q', sq9, 'len', {_SQL_SEG_LEN}))), seg9 ->"
    " element_at(transform(array("
    "   f * aggregate(seg9, 0D, (la9, ls9) -> la9 + ls9.len)), tgt9 ->"
    " named_struct('gtype', 'POINT', 'rings', array(array(coalesce("
    "  aggregate(seg9,"
    "   named_struct('rem', tgt9,"
    "    'pt', CAST(NULL AS STRUCT<x: DOUBLE, y: DOUBLE>)),"
    "   (ac9, ls9) -> CASE"
    "    WHEN ac9.pt IS NOT NULL THEN ac9"
    "    WHEN ls9.len = 0D THEN ac9"
    "    WHEN ac9.rem <= ls9.len THEN named_struct('rem', 0D,"
    "     'pt', named_struct("
    "      'x', ls9.p.x + (ac9.rem / ls9.len) * (ls9.q.x - ls9.p.x),"
    "      'y', ls9.p.y + (ac9.rem / ls9.len) * (ls9.q.y - ls9.p.y)))"
    "    ELSE named_struct('rem', ac9.rem - ls9.len, 'pt', ac9.pt) END).pt,"
    "  element_at(lr9, size(lr9))))))), 1)), 1)), 1) END"
)

_SQL_LINE_LOCATE_BODY = (
    "CASE WHEN g.gtype != 'LINESTRING' OR p.gtype != 'POINT' THEN NULL ELSE"
    " element_at(transform(array(element_at(element_at(p.rings, 1), 1)), v9 ->"
    " element_at(transform(array(element_at(g.rings, 1)), lr9 ->"
    " element_at(transform(array(zip_with("
    "   slice(lr9, 1, size(lr9) - 1), slice(lr9, 2, size(lr9) - 1),"
    f"  (sp9, sq9) -> named_struct('p', sp9, 'q', sq9, 'len', {_SQL_SEG_LEN}))), seg9 ->"
    # per segment i: clamped projection fraction + prefix length
    " element_at(transform(array(array_min(transform(sequence(1, size(seg9)), i9 ->"
    " element_at(transform(array(element_at(seg9, i9)), s9 ->"
    " element_at(transform(array(CASE WHEN s9.len = 0D THEN 0D"
    "  ELSE greatest(0D, least(1D,"
    "   ((v9.x - s9.p.x) * (s9.q.x - s9.p.x) + (v9.y - s9.p.y) * (s9.q.y - s9.p.y))"
    "   / (s9.len * s9.len))) END), t9 ->"
    " named_struct("
    "  'd2', (v9.x - (s9.p.x + t9 * (s9.q.x - s9.p.x)))"
    "      * (v9.x - (s9.p.x + t9 * (s9.q.x - s9.p.x)))"
    "      + (v9.y - (s9.p.y + t9 * (s9.q.y - s9.p.y)))"
    "      * (v9.y - (s9.p.y + t9 * (s9.q.y - s9.p.y))),"
    "  'loc', aggregate(slice(seg9, 1, i9 - 1), 0D, (pa9, ps9) -> pa9 + ps9.len)"
    "       + t9 * s9.len)), 1)), 1)))), m9 ->"
    " m9.loc / nullif(aggregate(seg9, 0D, (la9, ls9) -> la9 + ls9.len), 0D)"
    "), 1)), 1)), 1)), 1) END"
)

_GEOJSON_COORD = "concat('[', CAST(c9.x AS STRING), ',', CAST(c9.y AS STRING), ']')"

_SQL_TO_GEOJSON_BODY = (
    "CASE"
    " WHEN g.gtype = 'POINT' THEN concat('{\"type\":\"Point\",\"coordinates\":',"
    "  element_at(transform(element_at(g.rings, 1), c9 -> " + _GEOJSON_COORD + "), 1), '}')"
    " WHEN g.gtype IN ('LINESTRING', 'MULTIPOINT') THEN concat("
    "  '{\"type\":\"', CASE WHEN g.gtype = 'LINESTRING' THEN 'LineString'"
    "   ELSE 'MultiPoint' END, '\",\"coordinates\":[',"
    "  array_join(transform(element_at(g.rings, 1), c9 -> " + _GEOJSON_COORD + "), ','),"
    "  ']}')"
    " WHEN g.gtype = 'POLYGON' THEN concat('{\"type\":\"Polygon\",\"coordinates\":[',"
    "  array_join(transform(g.rings, r9 -> concat('[',"
    "   array_join(transform(r9, c9 -> " + _GEOJSON_COORD + "), ','), ']')), ','),"
    "  ']}')"
    " END"
)

_SQL_FROM_GEOJSON_BODY = (
    "element_at(transform(array(get_json_object(j, '$.type')), t9 -> CASE"
    " WHEN t9 = 'Point' THEN named_struct('gtype', 'POINT', 'rings',"
    "  array(array(element_at(transform(array(from_json("
    "   get_json_object(j, '$.coordinates'), 'array<double>')), c9 ->"
    "   named_struct('x', element_at(c9, 1), 'y', element_at(c9, 2))), 1))))"
    " WHEN t9 IN ('LineString', 'MultiPoint') THEN named_struct("
    "  'gtype', upper(t9), 'rings', array(transform(from_json("
    "   get_json_object(j, '$.coordinates'), 'array<array<double>>'),"
    "   c9 -> named_struct('x', element_at(c9, 1), 'y', element_at(c9, 2)))))"
    " WHEN t9 = 'Polygon' THEN named_struct('gtype', 'POLYGON',"
    "  'rings', transform(from_json(get_json_object(j, '$.coordinates'),"
    "   'array<array<array<double>>>'), r9 -> transform(r9,"
    "   c9 -> named_struct('x', element_at(c9, 1), 'y', element_at(c9, 2)))))"
    " ELSE named_struct('gtype', CAST(NULL AS STRING),"
    f"  'rings', CAST(array() AS ARRAY<{_PT_T}>))"
    " END), 1)"
)

SQL_GEOMETRY_UDFS.update(
    {
        "st_hull_of_points": (f"pts {_PT_T}", GEOM_T, _SQL_HULL_BODY),
        "st_convexhull": (
            f"g {GEOM_T}",
            GEOM_T,
            "st_hull_of_points(flatten(g.rings))",
        ),
        "st_union_all": (
            f"gs ARRAY<{GEOM_T}>",
            GEOM_T,
            _build_union_all_body(),
        ),
        "st_union": (f"a {GEOM_T}, b {GEOM_T}", GEOM_T, "st_union_all(array(a, b))"),
        "geometry_union": (f"gs ARRAY<{GEOM_T}>", GEOM_T, "st_union_all(gs)"),
        "geometry_nearest_points": (
            f"a {GEOM_T}, b {GEOM_T}",
            f"ARRAY<{GEOM_T}>",
            _build_nearest_points_body(),
        ),
        "line_interpolate_point": (
            f"g {GEOM_T}, f DOUBLE",
            GEOM_T,
            _SQL_LINE_INTERP_BODY,
        ),
        "line_locate_point": (
            f"g {GEOM_T}, p {GEOM_T}",
            "DOUBLE",
            _SQL_LINE_LOCATE_BODY,
        ),
        "to_geojson_geometry": (f"g {GEOM_T}", "STRING", _SQL_TO_GEOJSON_BODY),
        "from_geojson_geometry": ("j STRING", GEOM_T, _SQL_FROM_GEOJSON_BODY),
        # the reference also exposes the GeoJSON pair under these names
        "geometry_as_geojson": (f"g {GEOM_T}", "STRING", "to_geojson_geometry(g)"),
        "geometry_from_geojson": ("j STRING", GEOM_T, "from_geojson_geometry(j)"),
    }
)


def _sql_point_of(x: str, y: str) -> str:
    return (
        "named_struct('gtype', 'POINT', 'rings',"
        f" array(array(named_struct('x', {x}, 'y', {y}))))"
    )


# Mechanical accessor / constructor / predicate names over the same
# struct (GeoFunctions.java one-liners; each body is a direct
# restatement of its reference contract).
SQL_GEOMETRY_UDFS.update(
    {
        "st_xmin": (
            f"g {GEOM_T}", "DOUBLE",
            "array_min(flatten(transform(g.rings, r0 -> transform(r0, p0 -> p0.x))))",
        ),
        "st_xmax": (
            f"g {GEOM_T}", "DOUBLE",
            "array_max(flatten(transform(g.rings, r0 -> transform(r0, p0 -> p0.x))))",
        ),
        "st_ymin": (
            f"g {GEOM_T}", "DOUBLE",
            "array_min(flatten(transform(g.rings, r0 -> transform(r0, p0 -> p0.y))))",
        ),
        "st_ymax": (
            f"g {GEOM_T}", "DOUBLE",
            "array_max(flatten(transform(g.rings, r0 -> transform(r0, p0 -> p0.y))))",
        ),
        "st_isempty": (
            f"g {GEOM_T}", "BOOLEAN",
            "g.gtype IS NULL OR size(flatten(g.rings)) = 0",
        ),
        "st_isclosed": (
            f"g {GEOM_T}", "BOOLEAN",
            "CASE WHEN g.gtype IN ('LINESTRING', 'POLYGON') THEN"
            " element_at(element_at(g.rings, 1), 1)"
            " = element_at(element_at(g.rings, 1),"
            "   size(element_at(g.rings, 1))) END",
        ),
        "st_dimension": (
            f"g {GEOM_T}", "TINYINT",
            "CAST(CASE WHEN g.gtype IN ('POINT', 'MULTIPOINT') THEN 0"
            " WHEN g.gtype = 'LINESTRING' THEN 1"
            " WHEN g.gtype IN ('POLYGON', 'MULTIPOLYGON') THEN 2 END AS TINYINT)",
        ),
        "st_coorddim": (f"g {GEOM_T}", "TINYINT", "CAST(2 AS TINYINT)"),
        "st_startpoint": (
            f"g {GEOM_T}", GEOM_T,
            "CASE WHEN g.gtype = 'LINESTRING' THEN "
            + _sql_point_of(
                "element_at(element_at(g.rings, 1), 1).x",
                "element_at(element_at(g.rings, 1), 1).y",
            )
            + " END",
        ),
        "st_endpoint": (
            f"g {GEOM_T}", GEOM_T,
            "CASE WHEN g.gtype = 'LINESTRING' THEN "
            + _sql_point_of(
                "element_at(element_at(g.rings, 1), size(element_at(g.rings, 1))).x",
                "element_at(element_at(g.rings, 1), size(element_at(g.rings, 1))).y",
            )
            + " END",
        ),
        "st_pointn": (
            f"g {GEOM_T}, n INT", GEOM_T,
            "CASE WHEN g.gtype = 'LINESTRING' AND n >= 1"
            " AND n <= size(element_at(g.rings, 1)) THEN "
            + _sql_point_of(
                "element_at(element_at(g.rings, 1), n).x",
                "element_at(element_at(g.rings, 1), n).y",
            )
            + " END",
        ),
        "st_points": (
            f"g {GEOM_T}", f"ARRAY<{GEOM_T}>",
            "CASE WHEN g.gtype IN ('LINESTRING', 'MULTIPOINT') THEN"
            " transform(element_at(g.rings, 1), p0 -> "
            + _sql_point_of("p0.x", "p0.y")
            + ") END",
        ),
        "st_exteriorring": (
            f"g {GEOM_T}", GEOM_T,
            "CASE WHEN g.gtype = 'POLYGON' THEN named_struct("
            " 'gtype', 'LINESTRING', 'rings', array(element_at(g.rings, 1))) END",
        ),
        "st_numinteriorring": (
            f"g {GEOM_T}", "BIGINT",
            "CASE WHEN g.gtype = 'POLYGON'"
            " THEN CAST(size(g.rings) - 1 AS BIGINT) END",
        ),
        "st_interiorrings": (
            f"g {GEOM_T}", f"ARRAY<{GEOM_T}>",
            "CASE WHEN g.gtype = 'POLYGON' THEN transform("
            " slice(g.rings, 2, greatest(size(g.rings) - 1, 0)),"
            " r0 -> named_struct('gtype', 'LINESTRING', 'rings', array(r0))) END",
        ),
        "st_interiorringn": (
            f"g {GEOM_T}, n INT", GEOM_T,
            "CASE WHEN g.gtype = 'POLYGON' AND n >= 1"
            " AND n <= size(g.rings) - 1 THEN named_struct("
            " 'gtype', 'LINESTRING', 'rings',"
            " array(element_at(g.rings, n + 1))) END",
        ),
        "st_numgeometries": (
            f"g {GEOM_T}", "INT",
            "CASE WHEN g.gtype IS NULL OR size(flatten(g.rings)) = 0 THEN 0"
            " WHEN g.gtype = 'MULTIPOLYGON' THEN size(g.rings)"
            " WHEN g.gtype = 'MULTIPOINT' THEN size(element_at(g.rings, 1))"
            " ELSE 1 END",
        ),
        "st_geometryn": (
            f"g {GEOM_T}, n INT", GEOM_T,
            "CASE WHEN n < 1 THEN NULL"
            " WHEN g.gtype = 'MULTIPOLYGON' AND n <= size(g.rings) THEN"
            "  named_struct('gtype', 'POLYGON', 'rings',"
            "   array(element_at(g.rings, n)))"
            " WHEN g.gtype = 'MULTIPOINT'"
            "  AND n <= size(element_at(g.rings, 1)) THEN "
            + _sql_point_of(
                "element_at(element_at(g.rings, 1), n).x",
                "element_at(element_at(g.rings, 1), n).y",
            )
            + " WHEN g.gtype IN ('POINT', 'LINESTRING', 'POLYGON')"
            "  AND n = 1 THEN g END",
        ),
        "st_geometries": (
            f"g {GEOM_T}", f"ARRAY<{GEOM_T}>",
            "CASE WHEN g.gtype IS NULL THEN NULL"
            " WHEN g.gtype = 'MULTIPOLYGON' THEN transform(g.rings,"
            "  r0 -> named_struct('gtype', 'POLYGON', 'rings', array(r0)))"
            " WHEN g.gtype = 'MULTIPOINT' THEN"
            "  transform(element_at(g.rings, 1), p0 -> "
            + _sql_point_of("p0.x", "p0.y")
            + ") ELSE array(g) END",
        ),
        "st_envelope": (
            f"g {GEOM_T}", GEOM_T,
            "element_at(transform(array(flatten(g.rings)), fp0 ->"
            " named_struct('gtype', 'POLYGON', 'rings', array(array("
            " named_struct('x', array_min(transform(fp0, p0 -> p0.x)),"
            "  'y', array_min(transform(fp0, p0 -> p0.y))),"
            " named_struct('x', array_max(transform(fp0, p0 -> p0.x)),"
            "  'y', array_min(transform(fp0, p0 -> p0.y))),"
            " named_struct('x', array_max(transform(fp0, p0 -> p0.x)),"
            "  'y', array_max(transform(fp0, p0 -> p0.y))),"
            " named_struct('x', array_min(transform(fp0, p0 -> p0.x)),"
            "  'y', array_max(transform(fp0, p0 -> p0.y))),"
            " named_struct('x', array_min(transform(fp0, p0 -> p0.x)),"
            "  'y', array_min(transform(fp0, p0 -> p0.y))))))), 1)",
        ),
        "expand_envelope": (
            f"g {GEOM_T}, d DOUBLE", GEOM_T,
            "CASE WHEN d < 0D THEN"
            " raise_error(concat('expand_envelope: distance is negative: ',"
            "  CAST(d AS STRING)))"
            " ELSE element_at(transform(array(flatten(g.rings)), fp0 ->"
            " named_struct('gtype', 'POLYGON', 'rings', array(array("
            " named_struct('x', array_min(transform(fp0, p0 -> p0.x)) - d,"
            "  'y', array_min(transform(fp0, p0 -> p0.y)) - d),"
            " named_struct('x', array_max(transform(fp0, p0 -> p0.x)) + d,"
            "  'y', array_min(transform(fp0, p0 -> p0.y)) - d),"
            " named_struct('x', array_max(transform(fp0, p0 -> p0.x)) + d,"
            "  'y', array_max(transform(fp0, p0 -> p0.y)) + d),"
            " named_struct('x', array_min(transform(fp0, p0 -> p0.x)) - d,"
            "  'y', array_max(transform(fp0, p0 -> p0.y)) + d),"
            " named_struct('x', array_min(transform(fp0, p0 -> p0.x)) - d,"
            "  'y', array_min(transform(fp0, p0 -> p0.y)) - d))))), 1) END",
        ),
        "st_envelopeaspts": (
            f"g {GEOM_T}", f"ARRAY<{GEOM_T}>",
            "element_at(transform(array(flatten(g.rings)), fp0 -> array("
            + _sql_point_of(
                "array_min(transform(fp0, p0 -> p0.x))",
                "array_min(transform(fp0, p0 -> p0.y))",
            )
            + ", "
            + _sql_point_of(
                "array_max(transform(fp0, p0 -> p0.x))",
                "array_max(transform(fp0, p0 -> p0.y))",
            )
            + ")), 1)",
        ),
        "st_boundary": (
            f"g {GEOM_T}", GEOM_T,
            "CASE WHEN g.gtype = 'POLYGON' THEN named_struct("
            "  'gtype', 'LINESTRING', 'rings', array(element_at(g.rings, 1)))"
            " WHEN g.gtype = 'LINESTRING' THEN named_struct("
            "  'gtype', 'MULTIPOINT', 'rings', array(array("
            "  element_at(element_at(g.rings, 1), 1),"
            "  element_at(element_at(g.rings, 1),"
            "   size(element_at(g.rings, 1)))))) END",
        ),
        "st_disjoint": (
            f"a {GEOM_T}, b {GEOM_T}", "BOOLEAN", "NOT st_intersects(a, b)"
        ),
        "st_linefromtext": (
            "w STRING", GEOM_T,
            "CASE WHEN upper(trim(w)) LIKE 'LINESTRING%'"
            " THEN st_geometryfromtext(w) END",
        ),
        "st_polygon": (
            "w STRING", GEOM_T,
            "CASE WHEN upper(trim(w)) LIKE 'POLYGON%'"
            " THEN st_geometryfromtext(w) END",
        ),
        "st_linestring": (
            f"ps ARRAY<{GEOM_T}>", GEOM_T,
            "named_struct('gtype', 'LINESTRING', 'rings', array("
            " transform(ps, p0 -> element_at(element_at(p0.rings, 1), 1))))",
        ),
        "st_multipoint": (
            f"ps ARRAY<{GEOM_T}>", GEOM_T,
            "named_struct('gtype', 'MULTIPOINT', 'rings', array("
            " transform(ps, p0 -> element_at(element_at(p0.rings, 1), 1))))",
        ),
        "st_astext": (
            f"g {GEOM_T}", "STRING",
            # WKT nesting per type: POINT/LINESTRING/MULTIPOINT use one
            # paren level, POLYGON rings two, MULTIPOLYGON shells three
            "CASE WHEN g.gtype IS NULL THEN NULL"
            " WHEN g.gtype IN ('POINT', 'LINESTRING', 'MULTIPOINT') THEN"
            "  concat(g.gtype, ' (', array_join(transform("
            "   element_at(g.rings, 1), p0 -> concat(CAST(p0.x AS STRING),"
            "   ' ', CAST(p0.y AS STRING))), ', '), ')')"
            " WHEN g.gtype = 'POLYGON' THEN concat('POLYGON (',"
            "  array_join(transform(g.rings, r0 -> concat('(',"
            "   array_join(transform(r0, p0 -> concat(CAST(p0.x AS STRING),"
            "   ' ', CAST(p0.y AS STRING))), ', '), ')')), ', '), ')')"
            " ELSE concat('MULTIPOLYGON (', array_join(transform(g.rings,"
            "  r0 -> concat('((', array_join(transform(r0,"
            "   p0 -> concat(CAST(p0.x AS STRING), ' ',"
            "   CAST(p0.y AS STRING))), ', '), '))')), ', '), ')') END",
        ),
        "st_centroid": (
            f"g {GEOM_T}", GEOM_T,
            # GeoFunctions.java stCentroid: POINT -> itself, POLYGON ->
            # area-weighted shell centroid, LINESTRING/MULTIPOINT ->
            # length-weighted segment-midpoint average (same formulas as
            # the Column helper st_centroid above, emitted as a POINT)
            "CASE WHEN g.gtype = 'POINT' THEN g ELSE"
            " element_at(transform(array(zip_with("
            "  slice(element_at(g.rings, 1), 1, size(element_at(g.rings, 1)) - 1),"
            "  slice(element_at(g.rings, 1), 2, size(element_at(g.rings, 1)) - 1),"
            "  (cp0, cq0) -> named_struct('p', cp0, 'q', cq0))), sg0 ->"
            " CASE WHEN g.gtype = 'POLYGON' THEN"
            "  element_at(transform(array(aggregate(sg0, 0D, (ca0, cs0) ->"
            "   ca0 + cs0.p.x * cs0.q.y - cs0.q.x * cs0.p.y)), tw0 -> "
            + _sql_point_of(
                "aggregate(sg0, 0D, (cb0, ct0) -> cb0 + (ct0.p.x + ct0.q.x)"
                " * (ct0.p.x * ct0.q.y - ct0.q.x * ct0.p.y)) / (3 * nullif(tw0, 0D))",
                "aggregate(sg0, 0D, (cb0, ct0) -> cb0 + (ct0.p.y + ct0.q.y)"
                " * (ct0.p.x * ct0.q.y - ct0.q.x * ct0.p.y)) / (3 * nullif(tw0, 0D))",
            )
            + "), 1)"
            " ELSE element_at(transform(array(aggregate(sg0, 0D, (ca0, cs0) ->"
            "  ca0 + sqrt((cs0.q.x - cs0.p.x) * (cs0.q.x - cs0.p.x)"
            "  + (cs0.q.y - cs0.p.y) * (cs0.q.y - cs0.p.y)))), tl0 -> "
            + _sql_point_of(
                "aggregate(sg0, 0D, (cb0, ct0) -> cb0 + ((ct0.p.x + ct0.q.x) / 2)"
                " * sqrt((ct0.q.x - ct0.p.x) * (ct0.q.x - ct0.p.x)"
                " + (ct0.q.y - ct0.p.y) * (ct0.q.y - ct0.p.y))) / nullif(tl0, 0D)",
                "aggregate(sg0, 0D, (cb0, ct0) -> cb0 + ((ct0.p.y + ct0.q.y) / 2)"
                " * sqrt((ct0.q.x - ct0.p.x) * (ct0.q.x - ct0.p.x)"
                " + (ct0.q.y - ct0.p.y) * (ct0.q.y - ct0.p.y))) / nullif(tl0, 0D)",
            )
            + "), 1) END), 1) END",
        ),
        "st_distance": (
            f"a {GEOM_T}, b {GEOM_T}", "DOUBLE",
            # 0 whenever the geometries intersect (containment /
            # boundary crossings included — round-5 ADVICE item 2,
            # matching the reference's Esri distance), else the exact
            # disjoint boundary-to-boundary distance via nearest points
            "CASE WHEN st_intersects(a, b) THEN 0D ELSE "
            "element_at(transform(array(geometry_nearest_points(a, b)), q9 ->"
            " CASE WHEN q9 IS NULL THEN NULL ELSE sqrt("
            " (element_at(q9, 2).rings[0][0].x - element_at(q9, 1).rings[0][0].x)"
            " * (element_at(q9, 2).rings[0][0].x - element_at(q9, 1).rings[0][0].x)"
            " + (element_at(q9, 2).rings[0][0].y - element_at(q9, 1).rings[0][0].y)"
            " * (element_at(q9, 2).rings[0][0].y - element_at(q9, 1).rings[0][0].y))"
            " END), 1) END",
        ),
        "st_issimple": (
            f"g {GEOM_T}", "BOOLEAN",
            # no proper self-crossing between non-adjacent segments and
            # no repeated interior vertex (JTS isSimple for the
            # POINT/MULTIPOINT/LINESTRING/POLYGON-shell subset)
            "CASE WHEN g.gtype = 'POINT' THEN true"
            " WHEN g.gtype = 'MULTIPOINT' THEN"
            "  size(array_distinct(element_at(g.rings, 1)))"
            "  = size(element_at(g.rings, 1))"
            " WHEN g.gtype IN ('LINESTRING', 'POLYGON') THEN"
            " element_at(transform(array(element_at(g.rings, 1)), r9 ->"
            " element_at(transform(array("
            + _sql_segs_of("r9")
            + "), sg9 ->"
            " NOT exists(sequence(1, size(sg9)), i9 ->"
            "  CASE WHEN i9 + 2 > size(sg9) THEN false ELSE"
            "  exists(sequence(i9 + 2, size(sg9)), j9 ->"
            "   NOT (i9 = 1 AND j9 = size(sg9)"
            "    AND element_at(r9, 1) = element_at(r9, size(r9)))"
            "   AND element_at(transform(array(element_at(sg9, i9)), sa9 ->"
            "   element_at(transform(array(element_at(sg9, j9)), sb9 ->"
            "   (sign((sa9.q.x - sa9.p.x) * (sb9.p.y - sa9.p.y)"
            "    - (sa9.q.y - sa9.p.y) * (sb9.p.x - sa9.p.x))"
            "    * sign((sa9.q.x - sa9.p.x) * (sb9.q.y - sa9.p.y)"
            "    - (sa9.q.y - sa9.p.y) * (sb9.q.x - sa9.p.x)) < 0)"
            "   AND (sign((sb9.q.x - sb9.p.x) * (sa9.p.y - sb9.p.y)"
            "    - (sb9.q.y - sb9.p.y) * (sa9.p.x - sb9.p.x))"
            "    * sign((sb9.q.x - sb9.p.x) * (sa9.q.y - sb9.p.y)"
            "    - (sb9.q.y - sb9.p.y) * (sa9.q.x - sb9.p.x)) < 0)"
            "   ), 1)), 1)) END)"
            " AND size(array_distinct(CASE WHEN element_at(r9, 1)"
            "   = element_at(r9, size(r9))"
            "   THEN slice(r9, 1, size(r9) - 1) ELSE r9 END))"
            "  = size(CASE WHEN element_at(r9, 1) = element_at(r9, size(r9))"
            "   THEN slice(r9, 1, size(r9) - 1) ELSE r9 END)"
            "), 1)), 1) END",
        ),
        "st_isvalid": (
            f"g {GEOM_T}", "BOOLEAN",
            # POLYGON: closed shell with >= 4 points and no proper
            # self-crossing; other types valid when non-empty
            "CASE WHEN g.gtype IS NULL THEN NULL"
            " WHEN g.gtype = 'POLYGON' THEN"
            "  size(element_at(g.rings, 1)) >= 4"
            "  AND element_at(element_at(g.rings, 1), 1)"
            "   = element_at(element_at(g.rings, 1),"
            "     size(element_at(g.rings, 1)))"
            "  AND st_issimple(g)"
            " ELSE size(flatten(g.rings)) > 0 END",
        ),
        "st_isring": (
            f"g {GEOM_T}", "BOOLEAN",
            "CASE WHEN g.gtype = 'LINESTRING'"
            " THEN st_isclosed(g) AND st_issimple(g) END",
        ),
    }
)


def _sql_canon_ring(r: str) -> str:
    """Canonical form of a closed ring: drop the closing duplicate,
    rotate to the lexicographically-smallest vertex, and take the
    smaller of the two orientations — so any two vertex sequences
    describing the same ring compare equal (SQL text, r is closed)."""
    argmin = (
        "array_min(transform(sequence(1, size({o})),"
        " i9 -> named_struct('v', element_at({o}, i9), 'i', i9))).i"
    )
    rot = (
        "element_at(transform(array(" + argmin + "), mi9 ->"
        " concat(slice({o}, mi9, size({o}) - mi9 + 1),"
        " slice({o}, 1, mi9 - 1))), 1)"
    )
    return (
        f"element_at(transform(array(slice({r}, 1, size({r}) - 1)), o9 ->"
        " least("
        + rot.format(o="o9")
        + ", element_at(transform(array(reverse(o9)), rv9 -> "
        + rot.format(o="rv9")
        + "), 1))), 1)"
    )


_TILE_X = (
    "greatest(0L, least(CAST(floor(({lon} + 180.0) / 360.0"
    " * shiftleft(1L, zoom)) AS BIGINT), shiftleft(1L, zoom) - 1))"
)
_TILE_Y = (
    "greatest(0L, least(CAST(floor((0.5 - ln((1.0 + sin(radians({lat})))"
    " / (1.0 - sin(radians({lat})))) / (4.0 * pi()))"
    " * shiftleft(1L, zoom)) AS BIGINT), shiftleft(1L, zoom) - 1))"
)

SQL_GEOMETRY_UDFS.update(
    {
        # BingTileFunctions.java geometryToBingTiles, ENVELOPE-cover
        # subset: the tiles covering the geometry's bounding box at the
        # zoom (a superset of the reference's exact cover for
        # non-rectangular shapes — documented; geometry x = longitude,
        # y = latitude, so north edge maps to the SMALLER tile y).
        # Guarded against tile-count explosion like the reference.
        "geometry_to_bing_tiles": (
            f"g {GEOM_T}, zoom INT",
            "ARRAY<STRUCT<x: BIGINT, y: BIGINT, zoom: INT>>",
            "element_at(transform(array(named_struct("
            " 'x0', " + _TILE_X.format(lon="st_xmin(g)") + ","
            " 'x1', " + _TILE_X.format(lon="st_xmax(g)") + ","
            " 'y0', " + _TILE_Y.format(lat="st_ymax(g)") + ","
            " 'y1', " + _TILE_Y.format(lat="st_ymin(g)") + ")), tb9 ->"
            " CASE WHEN (tb9.x1 - tb9.x0 + 1) * (tb9.y1 - tb9.y0 + 1)"
            "   > 1000000 THEN"
            "  raise_error('geometry_to_bing_tiles: too many tiles at this zoom')"
            " ELSE flatten(transform(sequence(tb9.x0, tb9.x1), bx9 ->"
            "  transform(sequence(tb9.y0, tb9.y1), by9 ->"
            "  named_struct('x', bx9, 'y', by9, 'zoom', zoom)))) END), 1)",
        ),
        # relate-class predicates expressible over the existing core
        # (GeoFunctions.java stOverlaps/stCrosses subsets):
        # st_overlaps for POLYGON x POLYGON = interiors intersect but
        # neither contains the other; st_crosses for LINESTRING x
        # LINESTRING = a proper interior crossing exists.  Other type
        # combinations return NULL (documented subset).
        "st_overlaps": (
            f"a {GEOM_T}, b {GEOM_T}", "BOOLEAN",
            "CASE WHEN a.gtype = 'POLYGON' AND b.gtype = 'POLYGON' THEN"
            " st_intersects(a, b) AND NOT st_within(a, b)"
            " AND NOT st_within(b, a) END",
        ),
        "st_crosses": (
            f"a {GEOM_T}, b {GEOM_T}", "BOOLEAN",
            "CASE WHEN a.gtype = 'LINESTRING' AND b.gtype = 'LINESTRING' THEN"
            " exists(" + _sql_segs_of("element_at(a.rings, 1)") + ", sa9 ->"
            " exists(" + _sql_segs_of("element_at(b.rings, 1)") + ", sb9 ->"
            " (sign((sa9.q.x - sa9.p.x) * (sb9.p.y - sa9.p.y)"
            "  - (sa9.q.y - sa9.p.y) * (sb9.p.x - sa9.p.x))"
            "  * sign((sa9.q.x - sa9.p.x) * (sb9.q.y - sa9.p.y)"
            "  - (sa9.q.y - sa9.p.y) * (sb9.q.x - sa9.p.x)) < 0)"
            " AND (sign((sb9.q.x - sb9.p.x) * (sa9.p.y - sb9.p.y)"
            "  - (sb9.q.y - sb9.p.y) * (sa9.p.x - sb9.p.x))"
            "  * sign((sb9.q.x - sb9.p.x) * (sa9.q.y - sb9.p.y)"
            "  - (sb9.q.y - sb9.p.y) * (sa9.q.x - sb9.p.x)) < 0))) END",
        ),
        # ST_Equals subset: same-point-set via canonical vertex
        # sequences (ring rotation + orientation normalized, rings as a
        # multiset).  Geometries describing one shape with DIFFERENT
        # vertex sets (e.g. an extra collinear vertex) compare unequal —
        # documented deviation from the reference's Esri relate.
        "st_equals": (
            f"a {GEOM_T}, b {GEOM_T}", "BOOLEAN",
            "CASE WHEN a.gtype IS NULL OR b.gtype IS NULL THEN NULL"
            " WHEN a.gtype IN ('POINT', 'MULTIPOINT')"
            "  AND b.gtype IN ('POINT', 'MULTIPOINT') THEN"
            "  array_sort(array_distinct(element_at(a.rings, 1)))"
            "  = array_sort(array_distinct(element_at(b.rings, 1)))"
            " WHEN a.gtype = 'LINESTRING' AND b.gtype = 'LINESTRING' THEN"
            "  least(element_at(a.rings, 1), reverse(element_at(a.rings, 1)))"
            "  = least(element_at(b.rings, 1), reverse(element_at(b.rings, 1)))"
            " WHEN a.gtype IN ('POLYGON', 'MULTIPOLYGON')"
            "  AND b.gtype IN ('POLYGON', 'MULTIPOLYGON') THEN"
            f"  array_sort(transform(a.rings, cr9 -> {_sql_canon_ring('cr9')}))"
            f"  = array_sort(transform(b.rings, cr9 -> {_sql_canon_ring('cr9')}))"
            " ELSE false END",
        ),
    }
)


# ---------------------------------------------------------------------------
# Round-6 relate-class additions (GeoFunctions.java stTouches:1142,
# stIntersection:986, stGeomFromBinary:250):
#
# - st_touches: shared boundary point with disjoint interiors.
#   POINT x POINT (always false), POINT x LINESTRING (endpoint),
#   POINT x POLYGON (on boundary), and the convex-shell POLYGON x
#   POLYGON subset — boundary contact AND area(A intersect B) = 0,
#   which is exact because st_intersection below is exact for convex
#   inputs.  Other type pairs return NULL (documented subset, like
#   st_overlaps/st_crosses above).
# - st_intersection: convex x convex POLYGON via convex hull of
#   (vertices of each polygon inside-or-on the other) + (proper
#   pairwise segment crossing points) — those are exactly the extreme
#   points of the (convex) intersection region, so the hull IS the
#   intersection.  Degenerate results surface naturally from
#   st_hull_of_points: empty -> NULL-gtype struct, single point ->
#   POINT, collinear contact -> LINESTRING.  POINT probes pass
#   through; other combos NULL (documented subset).
# - st_geomfrombinary: little-endian (NDR) WKB for POINT / LINESTRING
#   / POLYGON / MULTIPOINT as a pure-SQL byte decode: conv() over hex
#   pairs for the u32 counts, and an exact IEEE-754 binary64 decode
#   (sign/exponent/mantissa split on hex digit boundaries; mantissa
#   and power-of-two scale are each exactly representable, so the
#   reconstruction is bit-exact, denormals included).  Big-endian
#   (XDR) input raises — every mainstream writer emits NDR.
# ---------------------------------------------------------------------------


def _sql_on_seg_xy(px: str, py: str, sp: str, sq: str) -> str:
    """(px, py) lies on the closed segment sp-sq (SQL text)."""
    return (
        f"(sign(({sq}.x - {sp}.x) * (({py}) - {sp}.y)"
        f" - ({sq}.y - {sp}.y) * (({px}) - {sp}.x)) = 0D"
        f" AND ({px}) >= least({sp}.x, {sq}.x)"
        f" AND ({px}) <= greatest({sp}.x, {sq}.x)"
        f" AND ({py}) >= least({sp}.y, {sq}.y)"
        f" AND ({py}) <= greatest({sp}.y, {sq}.y))"
    )


def _sql_pt_on_boundary(g: str, px: str, py: str) -> str:
    return (
        f"exists(flatten(transform({g}.rings, br9 -> {_sql_segs_of('br9')})),"
        f" bs9 -> {_sql_on_seg_xy(px, py, 'bs9.p', 'bs9.q')})"
    )


def _sql_in_seg_bbox(px: str, py: str, sp: str, sq: str) -> str:
    """(px, py) inside the closed bbox of segment sp-sq — the on-segment
    test MINUS the collinearity sign check (callers below guarantee the
    point is already known collinear via a let-bound orientation)."""
    return (
        f"(({px}) >= least({sp}.x, {sq}.x)"
        f" AND ({px}) <= greatest({sp}.x, {sq}.x)"
        f" AND ({py}) >= least({sp}.y, {sq}.y)"
        f" AND ({py}) <= greatest({sp}.y, {sq}.y))"
    )


# segments sa9 / sb9 share at least one point: proper crossing, or a
# collinear/endpoint contact (an endpoint of one lies on the other).
# The four orientation signs are LET-BOUND once via a single-element
# transform (round 10): the naive form evaluated each sign twice (the
# proper-crossing product AND the =0 collinearity gate), which doubles
# per-row work under interpreted eval — Catalyst HOF trees don't get
# runtime subexpression elimination.
_SQL_SEG_CONTACT = (
    "element_at(transform(array(named_struct("
    f" 'o1', {_sql_orient('sa9.p', 'sa9.q', 'sb9.p')},"
    f" 'o2', {_sql_orient('sa9.p', 'sa9.q', 'sb9.q')},"
    f" 'o3', {_sql_orient('sb9.p', 'sb9.q', 'sa9.p')},"
    f" 'o4', {_sql_orient('sb9.p', 'sb9.q', 'sa9.q')})), so9 ->"
    " ((so9.o1 * so9.o2 < 0) AND (so9.o3 * so9.o4 < 0))"
    " OR (so9.o1 = 0D"
    f" AND {_sql_in_seg_bbox('sb9.p.x', 'sb9.p.y', 'sa9.p', 'sa9.q')})"
    " OR (so9.o2 = 0D"
    f" AND {_sql_in_seg_bbox('sb9.q.x', 'sb9.q.y', 'sa9.p', 'sa9.q')})"
    " OR (so9.o3 = 0D"
    f" AND {_sql_in_seg_bbox('sa9.p.x', 'sa9.p.y', 'sb9.p', 'sb9.q')})"
    " OR (so9.o4 = 0D"
    f" AND {_sql_in_seg_bbox('sa9.q.x', 'sa9.q.y', 'sb9.p', 'sb9.q')})), 1)"
)

_SQL_SHELLS_CONTACT = (
    f"exists({_sql_segs_of('element_at(a.rings, 1)')}, sa9 ->"
    f" exists({_sql_segs_of('element_at(b.rings, 1)')}, sb9 ->"
    f" {_SQL_SEG_CONTACT}))"
)

# Separating-axis test for CONVEX shells (round 10): interiors of two
# convex polygons are disjoint iff some edge line of either polygon has
# all of A on one closed side and all of B on the other (classic SAT —
# the same trichotomy the randomized round-6 test's exact-Fraction
# oracle uses).  Orientation SIGNS suffice: amax<=0 AND bmin>=0 means
# every A vertex sits on the non-positive side and every B vertex on
# the non-negative side of the axis (touching allowed).  Replaces the
# old interiors-disjoint test `st_area(st_intersection(a,b)) = 0` in
# st_touches, which re-expanded the full hull-of-candidates
# intersection body per row — ~10x the arithmetic and ~8 KB of extra
# macro tree (reference: GeoFunctions.java stTouches:1142 delegates to
# Esri relate, which also short-circuits via its accelerated
# rasterized relate paths rather than materializing the intersection).
_SQL_SAT_DISJOINT = (
    # A zero-length edge (duplicate consecutive ring vertex, legal WKT)
    # is a degenerate axis: orient(p,p,v) = 0 for every v, so both
    # orientation arrays are all-zero and 'amax<=0 AND bmin>=0' holds
    # vacuously — overlapping interiors would be declared disjoint
    # (ADVICE r10).  Such an edge spans no direction, so it can never
    # be a separating axis; skip it.
    "exists(concat("
    f"{_sql_segs_of('element_at(a.rings, 1)')},"
    f" {_sql_segs_of('element_at(b.rings, 1)')}), se9 ->"
    " NOT (se9.p.x = se9.q.x AND se9.p.y = se9.q.y)"
    " AND element_at(transform(array(named_struct("
    " 'oa', transform(element_at(a.rings, 1), sv9 ->"
    f" {_sql_orient('se9.p', 'se9.q', 'sv9')}),"
    " 'ob', transform(element_at(b.rings, 1), sv9 ->"
    f" {_sql_orient('se9.p', 'se9.q', 'sv9')}))), sx9 ->"
    " (array_max(sx9.oa) <= 0D AND array_min(sx9.ob) >= 0D)"
    " OR (array_min(sx9.oa) >= 0D AND array_max(sx9.ob) <= 0D)), 1))"
)


def _sql_pt_xy(g: str, axis: str) -> str:
    return f"element_at(element_at({g}.rings, 1), 1).{axis}"


def _build_intersection_body() -> str:
    def on_or_in(g: str, px: str, py: str) -> str:
        return (
            f"({_sql_pt_on_boundary(g, px, py)}"
            f" OR {_sql_contains_point(g, px, py)})"
        )

    def shell_open(g: str) -> str:
        return (
            f"slice(element_at({g}.rings, 1), 1,"
            f" size(element_at({g}.rings, 1)) - 1)"
        )

    proper = (
        f"({_sql_orient('sa9.p', 'sa9.q', 'sb9.p')}"
        f" * {_sql_orient('sa9.p', 'sa9.q', 'sb9.q')} < 0)"
        f" AND ({_sql_orient('sb9.p', 'sb9.q', 'sa9.p')}"
        f" * {_sql_orient('sb9.p', 'sb9.q', 'sa9.q')} < 0)"
    )
    t_expr = (
        "((sb9.p.x - sa9.p.x) * (sb9.q.y - sb9.p.y)"
        " - (sb9.p.y - sa9.p.y) * (sb9.q.x - sb9.p.x))"
        " / ((sa9.q.x - sa9.p.x) * (sb9.q.y - sb9.p.y)"
        " - (sa9.q.y - sa9.p.y) * (sb9.q.x - sb9.p.x))"
    )
    cross_pt = (
        f"element_at(transform(array({t_expr}), ct9 -> named_struct("
        " 'x', sa9.p.x + ct9 * (sa9.q.x - sa9.p.x),"
        " 'y', sa9.p.y + ct9 * (sa9.q.y - sa9.p.y))), 1)"
    )
    def on_or_in_segs(segs: str, px: str, py: str) -> str:
        """on_or_in against a LET-BOUND segment array: boundary check +
        shell-only even-odd ray cast, both walking `segs` instead of
        rebuilding the zip_with pair array per probe.  Shell-only
        containment matches the convex-subset contract (the candidate
        set below already reads rings[1] exclusively)."""
        return (
            f"(exists({segs}, bs9 -> {_sql_on_seg_xy(px, py, 'bs9.p', 'bs9.q')})"
            f" OR aggregate({segs}, 0, (a9, s9) -> a9 +"
            f" CASE WHEN ((s9.p.y > {py}) != (s9.q.y > {py}))"
            f" AND ({px} < (s9.q.x - s9.p.x) * ({py} - s9.p.y)"
            f" / (s9.q.y - s9.p.y) + s9.p.x)"
            " THEN 1 ELSE 0 END) % 2 = 1)"
        )

    # LET-BIND the two open shells + segment arrays once per row (round
    # 10): the naive form rebuilt the zip_with segment array for every
    # candidate-vertex probe (5 vertices x 2 directions x 2 walks each)
    # — under interpreted eval that's ~20 array constructions per row
    # for the same two arrays.
    candidates = (
        "concat("
        f"filter(lx9.va, cv9 -> {on_or_in_segs('lx9.sb', 'cv9.x', 'cv9.y')}),"
        f" filter(lx9.vb, cv9 -> {on_or_in_segs('lx9.sa', 'cv9.x', 'cv9.y')}),"
        " flatten(transform(lx9.sa, sa9 ->"
        f" transform(filter(lx9.sb, sb9 -> {proper}), sb9 -> {cross_pt}))))"
    )
    poly_poly = (
        "element_at(transform(array(named_struct("
        f" 'sa', {_sql_segs_of('element_at(a.rings, 1)')},"
        f" 'sb', {_sql_segs_of('element_at(b.rings, 1)')},"
        f" 'va', {shell_open('a')}, 'vb', {shell_open('b')})), lx9 -> "
        + _SQL_HULL_BODY.replace("pts", candidates)
        + "), 1)"
    )
    pt_probe_a = (
        f"CASE WHEN {on_or_in('b', _sql_pt_xy('a', 'x'), _sql_pt_xy('a', 'y'))}"
        " THEN a ELSE named_struct('gtype', CAST(NULL AS STRING),"
        f" 'rings', CAST(array() AS ARRAY<{_PT_T}>)) END"
    )
    pt_probe_b = (
        f"CASE WHEN {on_or_in('a', _sql_pt_xy('b', 'x'), _sql_pt_xy('b', 'y'))}"
        " THEN b ELSE named_struct('gtype', CAST(NULL AS STRING),"
        f" 'rings', CAST(array() AS ARRAY<{_PT_T}>)) END"
    )
    return (
        "CASE WHEN a.gtype IS NULL OR b.gtype IS NULL THEN NULL"
        " WHEN a.gtype = 'POINT' AND b.gtype = 'POLYGON' THEN "
        + pt_probe_a
        + " WHEN a.gtype = 'POLYGON' AND b.gtype = 'POINT' THEN "
        + pt_probe_b
        + " WHEN a.gtype = 'POLYGON' AND b.gtype = 'POLYGON' THEN "
        + poly_poly
        + " END"
    )


def _build_touches_body() -> str:
    pt_line = (
        "(element_at(element_at({l}.rings, 1), 1) = {p}"
        " OR element_at(element_at({l}.rings, 1),"
        " size(element_at({l}.rings, 1))) = {p})"
    )
    return (
        "CASE WHEN a.gtype IS NULL OR b.gtype IS NULL THEN NULL"
        " WHEN a.gtype = 'POINT' AND b.gtype = 'POINT' THEN false"
        " WHEN a.gtype = 'POINT' AND b.gtype = 'LINESTRING' THEN "
        + pt_line.format(l="b", p="element_at(element_at(a.rings, 1), 1)")
        + " WHEN a.gtype = 'LINESTRING' AND b.gtype = 'POINT' THEN "
        + pt_line.format(l="a", p="element_at(element_at(b.rings, 1), 1)")
        + " WHEN a.gtype = 'POINT' AND b.gtype = 'POLYGON' THEN"
        f" {_sql_pt_on_boundary('b', _sql_pt_xy('a', 'x'), _sql_pt_xy('a', 'y'))}"
        " WHEN a.gtype = 'POLYGON' AND b.gtype = 'POINT' THEN"
        f" {_sql_pt_on_boundary('a', _sql_pt_xy('b', 'x'), _sql_pt_xy('b', 'y'))}"
        " WHEN a.gtype = 'POLYGON' AND b.gtype = 'POLYGON' THEN"
        f" {_SQL_SHELLS_CONTACT} AND {_SQL_SAT_DISJOINT}"
        " END"
    )


def _sql_wkb_u32(h: str, o: str) -> str:
    """little-endian uint32 at 0-based byte offset `o` of hex string."""
    return (
        f"CAST(conv(concat(substr({h}, 2 * ({o}) + 7, 2),"
        f" substr({h}, 2 * ({o}) + 5, 2), substr({h}, 2 * ({o}) + 3, 2),"
        f" substr({h}, 2 * ({o}) + 1, 2)), 16, 10) AS INT)"
    )


def _sql_wkb_dbl(h: str, o: str) -> str:
    """exact IEEE-754 binary64 decode of the little-endian 8 bytes at
    0-based byte offset `o`: the sign bit is the top bit of the last
    byte, exponent the next 11 bits (= first 3 big-endian hex digits
    mod 2048), mantissa the remaining 13 hex digits."""
    ex3 = (
        f"concat(substr({h}, 2 * ({o}) + 15, 2),"
        f" substr({h}, 2 * ({o}) + 13, 1))"
    )
    mant13 = (
        f"concat(substr({h}, 2 * ({o}) + 14, 1),"
        f" substr({h}, 2 * ({o}) + 11, 2), substr({h}, 2 * ({o}) + 9, 2),"
        f" substr({h}, 2 * ({o}) + 7, 2), substr({h}, 2 * ({o}) + 5, 2),"
        f" substr({h}, 2 * ({o}) + 3, 2), substr({h}, 2 * ({o}) + 1, 2))"
    )
    return (
        "element_at(transform(array(named_struct("
        f" 'sg', IF(CAST(conv(substr({h}, 2 * ({o}) + 15, 1), 16, 10)"
        "   AS INT) >= 8, -1D, 1D),"
        f" 'ex', pmod(CAST(conv({ex3}, 16, 10) AS INT), 2048),"
        f" 'mt', CAST(conv({mant13}, 16, 10) AS BIGINT))), w9 ->"
        " CASE WHEN w9.ex = 0 AND w9.mt = 0 THEN w9.sg * 0D"
        " WHEN w9.ex = 0 THEN w9.sg * CAST(w9.mt AS DOUBLE) * pow(2D, -1074)"
        " WHEN w9.ex = 2047 THEN CASE WHEN w9.mt = 0"
        "  THEN w9.sg * CAST('Infinity' AS DOUBLE)"
        "  ELSE CAST('NaN' AS DOUBLE) END"
        " ELSE w9.sg * (CAST(w9.mt AS DOUBLE) + 4503599627370496D)"
        "  * pow(2D, w9.ex - 1075) END), 1)"
    )


def _sql_wkb_pt(h: str, o: str) -> str:
    return (
        f"named_struct('x', {_sql_wkb_dbl(h, o)},"
        f" 'y', {_sql_wkb_dbl(h, f'({o}) + 8')})"
    )


def _build_geomfrombinary_body() -> str:
    pts_at = (
        "IF({n} = 0, CAST(array() AS {ptt}),"
        " transform(sequence(0, {n} - 1), i9 -> {pt}))"
    )
    line_pts = pts_at.format(
        n=_sql_wkb_u32("hx9", "5"),
        ptt=_PT_T,
        pt=_sql_wkb_pt("hx9", "9 + 16 * i9"),
    )
    # each MULTIPOINT element is a full nested WKB point (order byte +
    # u32 type + 16 coord bytes = 21 bytes); coords start at +5.  The
    # inner byte-order markers are validated too — a big-endian nested
    # point must raise, not silently mis-decode
    mpoint_pts = pts_at.format(
        n=_sql_wkb_u32("hx9", "5"),
        ptt=_PT_T,
        pt=(
            "CASE WHEN substr(hx9, 2 * (9 + 21 * i9) + 1, 2) != '01' THEN"
            " element_at(transform(array(raise_error("
            " 'st_geomfrombinary: nested MULTIPOINT element is not"
            " little-endian NDR')), z9 ->"
            " named_struct('x', 0D, 'y', 0D)), 1)"
            f" ELSE {_sql_wkb_pt('hx9', '14 + 21 * i9')} END"
        ),
    )
    ring_read = pts_at.format(
        n=_sql_wkb_u32("hx9", "ac9.off"),
        ptt=_PT_T,
        pt=_sql_wkb_pt("hx9", "ac9.off + 4 + 16 * i9"),
    )
    poly_rings = (
        "IF(" + _sql_wkb_u32("hx9", "5") + " = 0,"
        f" CAST(array() AS ARRAY<{_PT_T}>),"
        f" aggregate(sequence(1, {_sql_wkb_u32('hx9', '5')}),"
        f" named_struct('off', 9, 'rs', CAST(array() AS ARRAY<{_PT_T}>)),"
        " (ac9, zi9) -> named_struct("
        f" 'off', ac9.off + 4 + 16 * {_sql_wkb_u32('hx9', 'ac9.off')},"
        f" 'rs', concat(ac9.rs, array({ring_read}))),"
        " ac9 -> ac9.rs))"
    )
    return (
        "CASE WHEN b IS NULL THEN NULL ELSE"
        " element_at(transform(array(upper(hex(b))), hx9 ->"
        " CASE WHEN substr(hx9, 1, 2) = '00' THEN"
        "  raise_error('st_geomfrombinary: big-endian (XDR) WKB is not"
        " supported; every mainstream writer emits little-endian NDR')"
        " WHEN substr(hx9, 1, 2) != '01' THEN"
        "  raise_error(concat('st_geomfrombinary: invalid WKB byte-order"
        " marker 0x', substr(hx9, 1, 2)))"
        f" WHEN {_sql_wkb_u32('hx9', '1')} = 1 THEN"
        "  named_struct('gtype', 'POINT', 'rings',"
        f"  array(array({_sql_wkb_pt('hx9', '5')})))"
        f" WHEN {_sql_wkb_u32('hx9', '1')} = 2 THEN"
        f"  named_struct('gtype', 'LINESTRING', 'rings', array({line_pts}))"
        f" WHEN {_sql_wkb_u32('hx9', '1')} = 3 THEN"
        f"  named_struct('gtype', 'POLYGON', 'rings', {poly_rings})"
        f" WHEN {_sql_wkb_u32('hx9', '1')} = 4 THEN"
        f"  named_struct('gtype', 'MULTIPOINT', 'rings', array({mpoint_pts}))"
        " ELSE raise_error(concat('st_geomfrombinary: unsupported WKB"
        " geometry type code ',"
        f" CAST({_sql_wkb_u32('hx9', '1')} AS STRING),"
        " ' (POINT/LINESTRING/POLYGON/MULTIPOINT supported)'))"
        " END), 1) END"
    )


SQL_GEOMETRY_UDFS.update(
    {
        "st_intersection": (
            f"a {GEOM_T}, b {GEOM_T}",
            GEOM_T,
            _build_intersection_body(),
        ),
        "st_touches": (
            f"a {GEOM_T}, b {GEOM_T}",
            "BOOLEAN",
            _build_touches_body(),
        ),
        "st_geomfrombinary": ("b BINARY", GEOM_T, _build_geomfrombinary_body()),
        # GeoFunctions.java stGeometryFromBinary alias
        "st_geometryfrombinary": ("b BINARY", GEOM_T, "st_geomfrombinary(b)"),
    }
)


# ---------------------------------------------------------------------------
# Round-6 spherical geography twin (SphericalGeoFunctions.java,
# SphericalGeographyUtils.java).  The reference's SphericalGeography is
# the SAME serialized geometry under a different SQL type tag —
# to_spherical_geography validates the envelope and returns `input`
# unchanged (SphericalGeoFunctions.java:74-103).  One engine type here,
# so the tag is a 'SPHERICAL_' gtype prefix: to_spherical_geography
# validates lon/lat ranges and tags; to_geometry strips the tag;
# ST_Distance dispatches on the tag to the Vincenty great-circle
# distance in meters (POINT-only, like the reference's
# ALLOWED_SPHERICAL_DISTANCE_TYPES); ST_Area dispatches to the exact
# spherical-excess algorithm (per-edge excess terms + the course-delta
# pole-enclosure correction, SphericalGeoFunctions.java:340-433,
# EARTH_RADIUS_M = 6371010); ST_AsText prints the untagged WKT.
# ---------------------------------------------------------------------------


def _sql_ring_spherical_excess(r: str) -> str:
    """Pole-corrected spherical excess of one closed ring (SQL text):
    Σ over cycle edges of 2·atan2(tan(Δλ/2)(tan(φa/2)+tan(φb/2)),
    1+tan(φa/2)tan(φb/2)), with excess -> |excess|-2π when the summed
    turning (courseDelta) is ~0 instead of ±2π (pole enclosed)."""
    edges = (
        f"transform(zip_with(slice({r}, 1, size({r}) - 1),"
        f" slice({r}, 2, size({r}) - 1),"
        " (ea9, eb9) -> named_struct('a', ea9, 'b', eb9)), ee9 ->"
        " CASE WHEN ee9.a.x = ee9.b.x AND ee9.a.y = ee9.b.y THEN"
        "  named_struct('ex', CAST(raise_error('Polygon is not valid:"
        " it has two identical consecutive vertices') AS DOUBLE),"
        "  'ib', 0D, 'fb', 0D)"
        " ELSE element_at(transform(array(named_struct("
        "  'pa', radians(ee9.a.y), 'pb', radians(ee9.b.y),"
        "  'dl', radians(ee9.b.x) - radians(ee9.a.x))), ev9 ->"
        " named_struct("
        "  'ex', 2 * atan2(tan(ev9.dl / 2)"
        "   * (tan(ev9.pa / 2) + tan(ev9.pb / 2)),"
        "   1 + tan(ev9.pa / 2) * tan(ev9.pb / 2)),"
        "  'ib', pmod(atan2(sin(ev9.dl) * cos(ev9.pb),"
        "   cos(ev9.pa) * sin(ev9.pb)"
        "   - sin(ev9.pa) * cos(ev9.pb) * cos(ev9.dl)) + 2 * pi(), 2 * pi()),"
        "  'fb', pmod(atan2(-sin(ev9.dl) * cos(ev9.pa),"
        "   sin(ev9.pa) * cos(ev9.pb)"
        "   - cos(ev9.pa) * sin(ev9.pb) * cos(ev9.dl)) + pi(), 2 * pi())"
        " )), 1) END)"
    )
    return (
        f"element_at(transform(array({edges}), eg9 ->"
        " element_at(transform(array(named_struct("
        "  'ex', aggregate(eg9, 0D, (ax9, e9) -> ax9 + e9.ex),"
        "  'cd', aggregate(eg9, 0D, (ax9, e9) ->"
        "   ax9 + pmod(e9.fb - e9.ib + 3 * pi(), 2 * pi()) - pi())"
        "  + aggregate(sequence(1, size(eg9)), 0D, (ax9, i9) ->"
        "   ax9 + pmod(element_at(eg9,"
        "    CASE WHEN i9 = size(eg9) THEN 1 ELSE i9 + 1 END).ib"
        "    - element_at(eg9, i9).fb + 3 * pi(), 2 * pi()) - pi())"
        " )), ec9 -> CASE WHEN abs(ec9.cd) < pi() / 4"
        "  THEN abs(ec9.ex) - 2 * pi() ELSE ec9.ex END), 1)), 1)"
    )


_SQL_SPHERICAL_AREA = (
    "abs(aggregate(transform(sequence(1, size(g.rings)), ri9 ->"
    " IF(ri9 = 1, 1D, -1D)"
    f" * abs({_sql_ring_spherical_excess('element_at(g.rings, ri9)')})),"
    " 0D, (sa9, sv9) -> sa9 + sv9) * 6371010.0D * 6371010.0D)"
)

SQL_GEOMETRY_UDFS.update(
    {
        "to_spherical_geography": (
            f"g {GEOM_T}",
            GEOM_T,
            "CASE WHEN g.gtype IS NULL THEN g"
            " WHEN g.gtype NOT IN"
            "  ('POINT', 'MULTIPOINT', 'LINESTRING', 'POLYGON') THEN"
            "  raise_error(concat('Cannot convert geometry of this type"
            " to spherical geography: ', g.gtype))"
            " WHEN exists(flatten(g.rings), sp9 ->"
            "  isnan(sp9.x) OR sp9.x < -180D OR sp9.x > 180D) THEN"
            "  raise_error('Longitude must be between -180 and 180')"
            " WHEN exists(flatten(g.rings), sp9 ->"
            "  isnan(sp9.y) OR sp9.y < -90D OR sp9.y > 90D) THEN"
            "  raise_error('Latitude must be between -90 and 90')"
            " ELSE named_struct('gtype', concat('SPHERICAL_', g.gtype),"
            "  'rings', g.rings) END",
        ),
        "to_geometry": (
            f"g {GEOM_T}",
            GEOM_T,
            "named_struct('gtype', replace(g.gtype, 'SPHERICAL_', ''),"
            " 'rings', g.rings)",
        ),
    }
)

# ---------------------------------------------------------------------------
# Round-6 st_relate (GeoFunctions-adjacent relate family;
# SphericalGeoFunctions sibling stRelate at GeoFunctions.java:1130):
# DE-9IM pattern matching for the convex-shell POLYGON x POLYGON
# subset.  The nine cells are SYNTHESIZED from quantities this module
# already computes exactly: st_equals, boundary contact (+ its
# dimension via collinear-overlap detection), and the exact convex
# st_intersection area (interiors overlap iff area > 0; containment
# iff area equals one side's area).  Derivation per cell documented in
# the builder; canonical matrices (equal 2FFF1FFF2, disjoint
# FF2FF1212, touch FF2F{0|1}1212, overlap 2121{0|1}1212, contains
# 212F{F|0|1}1FF2 / within transposed) all fall out.  Pattern chars
# T/F/0/1/2/*; other geometry types return NULL (documented subset).
# ---------------------------------------------------------------------------

_SQL_LINE_CONTACT = (
    f"exists({_sql_segs_of('element_at(a.rings, 1)')}, sa9 ->"
    f" exists({_sql_segs_of('element_at(b.rings, 1)')}, sb9 ->"
    f" {_sql_orient('sa9.p', 'sa9.q', 'sb9.p')} = 0D"
    f" AND {_sql_orient('sa9.p', 'sa9.q', 'sb9.q')} = 0D"
    " AND (least(greatest(sa9.p.x, sa9.q.x), greatest(sb9.p.x, sb9.q.x))"
    "      > greatest(least(sa9.p.x, sa9.q.x), least(sb9.p.x, sb9.q.x))"
    "   OR least(greatest(sa9.p.y, sa9.q.y), greatest(sb9.p.y, sb9.q.y))"
    "      > greatest(least(sa9.p.y, sa9.q.y), least(sb9.p.y, sb9.q.y)))))"
)


def _build_relate_body() -> str:
    # flags: ii2 = interiors overlap; ainb/bina = (strict-or-contact)
    # containment via exact intersection area; ct/lc = boundary contact
    # and whether it has positive length
    matrix = (
        "element_at(transform(array(named_struct("
        " 'ia', st_area(st_intersection(a, b)),"
        " 'aa', st_area(a), 'ab', st_area(b),"
        " 'eq', st_equals(a, b),"
        f" 'ct', {_SQL_SHELLS_CONTACT}, 'lc', {_SQL_LINE_CONTACT})), rf9 ->"
        " element_at(transform(array(named_struct("
        "  'ii2', rf9.ia > 0D, 'eq', rf9.eq,"
        "  'ainb', rf9.ia = rf9.aa AND NOT rf9.eq,"
        "  'bina', rf9.ia = rf9.ab AND NOT rf9.eq,"
        "  'ct', rf9.ct, 'lc', rf9.lc)), rg9 ->"
        " concat("
        #  II: interiors overlap
        "  IF(rg9.ii2, '2', 'F'),"
        #  IB: B's boundary crosses A's interior unless equal or A<=B
        "  IF(rg9.ii2 AND NOT rg9.eq AND NOT rg9.ainb, '1', 'F'),"
        #  IE: A's interior escapes B unless A<=B
        "  IF(rg9.ainb OR rg9.eq, 'F', '2'),"
        #  BI: transpose of IB
        "  IF(rg9.ii2 AND NOT rg9.eq AND NOT rg9.bina, '1', 'F'),"
        #  BB: coincident (equal) or positive-length contact -> 1,
        #  point contact -> 0, no contact -> F
        "  CASE WHEN rg9.eq OR (rg9.ct AND rg9.lc) THEN '1'"
        "   WHEN rg9.ct THEN '0' ELSE 'F' END,"
        #  BE: A's boundary escapes B unless A<=B
        "  IF(rg9.ainb OR rg9.eq, 'F', '1'),"
        #  EI / EB: transposes of IE / BE
        "  IF(rg9.bina OR rg9.eq, 'F', '2'),"
        "  IF(rg9.bina OR rg9.eq, 'F', '1'),"
        "  '2')), 1)), 1)"
    )
    return (
        "CASE WHEN rel IS NULL THEN NULL"
        " WHEN length(rel) != 9 OR rel RLIKE '[^TF012*]' THEN"
        "  raise_error(concat('st_relate: invalid DE-9IM pattern: ', rel))"
        " WHEN a.gtype = 'POLYGON' AND b.gtype = 'POLYGON' THEN"
        f" element_at(transform(array({matrix}), rm9 ->"
        " forall(sequence(1, 9), ri9 -> CASE substr(rel, ri9, 1)"
        "  WHEN '*' THEN true"
        "  WHEN 'T' THEN substr(rm9, ri9, 1) != 'F'"
        "  ELSE substr(rel, ri9, 1) = substr(rm9, ri9, 1) END)), 1)"
        " END"
    )


SQL_GEOMETRY_UDFS.update(
    {
        "st_relate": (
            f"a {GEOM_T}, b {GEOM_T}, rel STRING",
            "BOOLEAN",
            _build_relate_body(),
        ),
    }
)


# ---------------------------------------------------------------------------
# Round-6 constructive/diagnostic long-tail closures:
#
# - geometry_invalid_reason (GeoFunctions.java:414): NULL when valid,
#   else a reason string.  The reasons come from THIS engine's validity
#   checks (ring arity / closure / self-intersection — the same
#   predicates st_isvalid evaluates), so the strings differ from the
#   JTS/Esri wording; the NULL-iff-valid contract matches.
# - flatten_geometry_collections (GeoFunctions.java:1179): returns the
#   component geometries.  This engine's WKT subset has no
#   GEOMETRYCOLLECTION constructor, so every input is its own single
#   component — array(g) (the reference's exact behavior for
#   non-collection inputs).
# - simplify_geometry (GeoFunctions.java:763): same validation
#   contract (NaN raises, negative raises, 0 returns the input);
#   positive tolerance applies a DETERMINISTIC single-pass
#   chord-distance filter — an interior vertex is dropped when its
#   perpendicular distance to the chord of its original neighbors is
#   at most the tolerance (endpoints and ring closure preserved,
#   output vertices are a subset of input vertices).  The reference
#   delegates to JTS Douglas-Peucker: same tolerance contract,
#   documented different vertex selection on deeply nested zigzags
#   (the numeric_histogram twin-semantics precedent).
# - st_buffer (GeoFunctions.java:280): same validation contract; a
#   POINT buffers to the 32-gon circle (JTS's default
#   quadrantSegments = 8, i.e. 32 vertices, starting at (x+d, y));
#   LINESTRING/POLYGON buffering raises the documented unsupported
#   error (the Minkowski offset is the remaining constructive gap).
# ---------------------------------------------------------------------------


def _sql_drop_within_chord(r: str) -> str:
    """Vertices of `r` whose chord-distance to their original
    neighbors exceeds `tol` (plus the endpoints); SQL text."""
    # perpendicular distance of v to chord(p, n):
    # |cross(n-p, v-p)| / |n-p| (degenerate chord -> point distance)
    return (
        f"filter(transform({r}, (dv9, di9) -> named_struct('v', dv9,"
        f" 'keep', di9 = 0 OR di9 = size({r}) - 1 OR"
        " element_at(transform(array(named_struct("
        f"  'p', element_at({r}, di9), 'n', element_at({r}, di9 + 2))), dc9 ->"
        " CASE WHEN dc9.p.x = dc9.n.x AND dc9.p.y = dc9.n.y THEN"
        "  sqrt((dv9.x - dc9.p.x) * (dv9.x - dc9.p.x)"
        "   + (dv9.y - dc9.p.y) * (dv9.y - dc9.p.y)) > tol"
        " ELSE abs((dc9.n.x - dc9.p.x) * (dv9.y - dc9.p.y)"
        "   - (dc9.n.y - dc9.p.y) * (dv9.x - dc9.p.x))"
        "  / sqrt((dc9.n.x - dc9.p.x) * (dc9.n.x - dc9.p.x)"
        "   + (dc9.n.y - dc9.p.y) * (dc9.n.y - dc9.p.y)) > tol END), 1)))"
        ", dk9 -> dk9.keep)"
    )


SQL_GEOMETRY_UDFS.update(
    {
        # geometry_to_dissolved_bing_tiles (BingTileFunctions.java:444):
        # minimum mixed-zoom cover.  Over THIS engine's envelope-cover
        # twin (geometry_to_bing_tiles), dissolving = the quadtree
        # cover of the tile rectangle: fold zoom levels bottom-up,
        # replacing every complete 4-child quad by its parent.  The
        # per-level merge is O(n^2) over the current tile set, so the
        # dissolve path carries a tighter 65536-tile guard; output
        # sorted by (x, y, zoom) — deterministic, struct-typed like
        # the zoom-level cover.
        "geometry_to_dissolved_bing_tiles": (
            f"g {GEOM_T}, zoom INT",
            "ARRAY<STRUCT<x: BIGINT, y: BIGINT, zoom: INT>>",
            "CASE WHEN g.gtype IS NULL OR size(flatten(g.rings)) = 0 THEN"
            " CAST(array() AS ARRAY<STRUCT<x: BIGINT, y: BIGINT, zoom: INT>>)"
            " ELSE element_at(transform(array(geometry_to_bing_tiles(g, zoom)),"
            " tz0 -> CASE WHEN size(tz0) > 65536 THEN"
            "  raise_error('geometry_to_dissolved_bing_tiles: cover too"
            " large to dissolve at this zoom')"
            " ELSE array_sort(aggregate(sequence(1, greatest(zoom, 1)), tz0,"
            "  (ts9, st9) -> element_at(transform(array(named_struct("
            "   'ch', filter(ts9, mt9 -> mt9.zoom = zoom - st9 + 1),"
            "   'ot', filter(ts9, mt9 -> mt9.zoom != zoom - st9 + 1))), mp9 ->"
            "  element_at(transform(array(filter(array_distinct("
            "   transform(mp9.ch, mc9 -> named_struct('x', mc9.x DIV 2,"
            "    'y', mc9.y DIV 2, 'zoom', zoom - st9))),"
            "   pp9 -> size(filter(mp9.ch, mc9 -> mc9.x DIV 2 = pp9.x"
            "    AND mc9.y DIV 2 = pp9.y)) = 4)), fl9 ->"
            "   concat(mp9.ot, fl9, filter(mp9.ch, mc9 ->"
            "    NOT exists(fl9, pp9 -> mc9.x DIV 2 = pp9.x"
            "     AND mc9.y DIV 2 = pp9.y)))), 1)), 1))) END), 1) END",
        ),
        "geometry_invalid_reason": (
            f"g {GEOM_T}",
            "STRING",
            "CASE WHEN g.gtype IS NULL THEN 'Unknown geometry type'"
            " WHEN g.gtype = 'POLYGON' AND exists(g.rings, vr9 ->"
            "  size(vr9) < 4) THEN"
            "  'Polygon ring has fewer than 4 points'"
            " WHEN g.gtype = 'POLYGON' AND exists(g.rings, vr9 ->"
            "  element_at(vr9, 1) != element_at(vr9, size(vr9))) THEN"
            "  'Polygon ring is not closed'"
            " WHEN g.gtype IN ('POLYGON', 'LINESTRING')"
            "  AND NOT st_issimple(g) THEN"
            "  CASE WHEN g.gtype = 'POLYGON'"
            "   THEN 'Polygon ring self-intersects'"
            "   ELSE 'LineString self-intersects' END"
            " WHEN size(flatten(g.rings)) = 0 THEN 'Geometry is empty'"
            " ELSE NULL END",
        ),
        "flatten_geometry_collections": (
            f"g {GEOM_T}",
            f"ARRAY<{GEOM_T}>",
            "array(g)",
        ),
        "simplify_geometry": (
            f"g {GEOM_T}, tol DOUBLE",
            GEOM_T,
            "CASE WHEN isnan(tol) THEN"
            "  element_at(transform(array(raise_error("
            "   'distanceTolerance is NaN')), z9 -> g), 1)"
            " WHEN tol < 0D THEN"
            "  element_at(transform(array(raise_error("
            "   'distanceTolerance is negative')), z9 -> g), 1)"
            " WHEN tol = 0D OR g.gtype IS NULL"
            "  OR g.gtype IN ('POINT', 'MULTIPOINT') THEN g"
            " ELSE named_struct('gtype', g.gtype, 'rings',"
            "  transform(g.rings, sr9 ->"
            "  element_at(transform(array("
            + _sql_drop_within_chord("sr9")
            + "), sk9 -> CASE"
            #  a ring collapsing below 4 points (or a line below 2)
            #  keeps its original vertices — simplification must not
            #  invalidate the geometry (JTS topology preservation)
            "  WHEN g.gtype = 'POLYGON' AND size(sk9) < 4 THEN sr9"
            "  WHEN size(sk9) < 2 THEN sr9"
            "  ELSE transform(sk9, sv9 -> sv9.v) END), 1))) END",
        ),
        "st_buffer": (
            f"g {GEOM_T}, d DOUBLE",
            GEOM_T,
            "CASE WHEN isnan(d) THEN"
            "  element_at(transform(array(raise_error('distance is NaN')),"
            "   z9 -> g), 1)"
            " WHEN d < 0D THEN"
            "  element_at(transform(array(raise_error("
            "   'distance is negative')), z9 -> g), 1)"
            " WHEN d = 0D THEN g"
            " WHEN g.gtype IS NULL OR size(flatten(g.rings)) = 0 THEN"
            "  named_struct('gtype', CAST(NULL AS STRING),"
            f"  'rings', CAST(array() AS ARRAY<{_PT_T}>))"
            " WHEN g.gtype = 'POINT' THEN named_struct("
            "  'gtype', 'POLYGON', 'rings', array(transform("
            "   sequence(0, 32), bi9 -> named_struct("
            f"   'x', {_sql_pt_xy('g', 'x')}"
            "    + d * cos(-2D * pi() * pmod(bi9, 32) / 32D),"
            f"   'y', {_sql_pt_xy('g', 'y')}"
            "    + d * sin(-2D * pi() * pmod(bi9, 32) / 32D))))) "
            " ELSE element_at(transform(array(raise_error(concat("
            "  'st_buffer: only POINT inputs are supported in this"
            " engine (JTS 32-gon circle twin); got ', g.gtype))),"
            "  z9 -> g), 1) END",
        ),
    }
)

# ---------------------------------------------------------------------------
# Round-6 st_difference / st_symdifference (GeoFunctions.java
# stDifference / stSymDifference; Esri difference), convex POLYGON x
# POLYGON subset — EXACT as a point set via the classical fan
# decomposition: for B's CCW edges e_1..e_m,
#     A \ B  =  disjoint-union over i of  A ∩ right(e_i) ∩ left(e_1..e_{i-1})
# Each piece is one convex polygon produced by successive
# Sutherland-Hodgman half-plane clips of A's shell, so the result is
# returned as a MULTIPOLYGON of disjoint convex pieces — the same
# point set as the reference's minimal-ring form, in a different (but
# valid) tessellation; st_area over it is the exact difference area
# (pytest pins area(A\B) = area(A) - area(A∩B) on random pairs).
# Degenerate sliver pieces (zero-area chords from boundary contact)
# are dropped at a 1e-9 area epsilon (documented).  POINT probes pass
# through; other combos NULL (documented subset).
# ---------------------------------------------------------------------------


def _sql_ccw_shell(g: str) -> str:
    """closed shell of `g` normalized to CCW orientation (SQL text)."""
    r = f"element_at({g}.rings, 1)"
    return (
        f"IF({_sql_ring_shoelace2(r)} >= 0D, {r}, reverse({r}))"
    )


def _sql_halfplane_clip(ring: str, u: str, w: str, mult: str) -> str:
    """Sutherland-Hodgman clip of closed ring `ring` by the line
    through u->w, keeping the side where mult*cross(w-u, pt-u) >= 0;
    returns a closed ring (or an empty/degenerate array)."""
    def f(pt: str) -> str:
        return (
            f"(({mult}) * (({w}.x - {u}.x) * (({pt}).y - {u}.y)"
            f" - ({w}.y - {u}.y) * (({pt}).x - {u}.x)))"
        )

    cross_pt = (
        "element_at(transform(array("
        f" {f('hg9.p')} / ({f('hg9.p')} - {f('hg9.q')})), ht9 ->"
        " named_struct('x', hg9.p.x + ht9 * (hg9.q.x - hg9.p.x),"
        " 'y', hg9.p.y + ht9 * (hg9.q.y - hg9.p.y))), 1)"
    )
    pts = (
        f"flatten(transform(zip_with(slice({ring}, 1, size({ring}) - 1),"
        f" slice({ring}, 2, size({ring}) - 1),"
        " (hu9, hv9) -> named_struct('p', hu9, 'q', hv9)), hg9 ->"
        f" CASE WHEN {f('hg9.q')} >= 0D THEN"
        f"  IF({f('hg9.p')} >= 0D, array(hg9.q), array({cross_pt}, hg9.q))"
        # exiting edge: emit the crossing only when p is STRICTLY
        # inside — a p exactly ON the clip line was already emitted by
        # the previous edge's entering case (avoids duplicate vertices)
        f" ELSE IF({f('hg9.p')} > 0D,"
        f"  array({cross_pt}), CAST(array() AS {_PT_T})) END))"
    )
    return (
        f"CASE WHEN size({ring}) < 4 THEN CAST(array() AS {_PT_T})"
        f" ELSE element_at(transform(array({pts}), hp9 ->"
        " IF(size(hp9) >= 3, concat(hp9, array(element_at(hp9, 1))),"
        f" CAST(array() AS {_PT_T}))), 1) END"
    )


def _build_difference_pieces() -> str:
    """SQL text: ARRAY of closed piece rings of a \\ b (both bound as
    CCW shells sa0 / sb0 inside a surrounding let)."""
    # one clip step of the fold: cj9 = 0 clips right-of-e_{i9}, else
    # left-of-e_{cj9}
    clip_step = _sql_halfplane_clip(
        "pc9",
        "element_at(sb0, IF(cj9 = 0, i9, cj9))",
        "element_at(sb0, IF(cj9 = 0, i9, cj9) + 1)",
        "IF(cj9 = 0, -1D, 1D)",
    )
    piece = (
        "aggregate(sequence(0, i9 - 1), sa0,"
        f" (pc9, cj9) -> {clip_step})"
    )
    return (
        "filter(transform(sequence(1, size(sb0) - 1), i9 ->"
        f" {piece}), fr9 ->"
        f" size(fr9) >= 4 AND abs({_sql_ring_shoelace2('fr9')}) / 2 > 1e-9)"
    )


def _build_difference_body() -> str:
    pieces = _build_difference_pieces()
    poly_poly = (
        "element_at(transform(array(named_struct("
        f" 'sa0x', {_sql_ccw_shell('a')}, 'sb0x', {_sql_ccw_shell('b')})), lt9 ->"
        " element_at(transform(array(lt9.sa0x), sa0 ->"
        " element_at(transform(array(lt9.sb0x), sb0 ->"
        f" element_at(transform(array({pieces}), ps9 -> CASE"
        " WHEN size(ps9) = 0 THEN named_struct('gtype', CAST(NULL AS STRING),"
        f"  'rings', CAST(array() AS ARRAY<{_PT_T}>))"
        " WHEN size(ps9) = 1 THEN named_struct('gtype', 'POLYGON', 'rings', ps9)"
        " ELSE named_struct('gtype', 'MULTIPOLYGON', 'rings', ps9)"
        " END), 1)), 1)), 1)), 1)"
    )
    return (
        "CASE WHEN a.gtype IS NULL OR b.gtype IS NULL THEN NULL"
        " WHEN a.gtype = 'POINT' AND b.gtype = 'POLYGON' THEN"
        f" CASE WHEN {_sql_contains_point('b', _sql_pt_xy('a', 'x'), _sql_pt_xy('a', 'y'))}"
        f"  OR {_sql_pt_on_boundary('b', _sql_pt_xy('a', 'x'), _sql_pt_xy('a', 'y'))}"
        "  THEN named_struct('gtype', CAST(NULL AS STRING),"
        f"   'rings', CAST(array() AS ARRAY<{_PT_T}>)) ELSE a END"
        " WHEN a.gtype = 'POLYGON' AND b.gtype = 'POINT' THEN a"
        " WHEN a.gtype = 'POLYGON' AND b.gtype = 'POLYGON' THEN"
        " CASE WHEN st_area(st_intersection(a, b)) = 0D THEN a"
        "  WHEN st_area(st_intersection(a, b)) = st_area(a) THEN"
        "   named_struct('gtype', CAST(NULL AS STRING),"
        f"   'rings', CAST(array() AS ARRAY<{_PT_T}>))"
        f"  ELSE {poly_poly} END"
        " END"
    )


SQL_GEOMETRY_UDFS.update(
    {
        "st_difference": (
            f"a {GEOM_T}, b {GEOM_T}",
            GEOM_T,
            _build_difference_body(),
        ),
        # symmetric difference = (a \ b) pieces + (b \ a) pieces —
        # both are piece sets of the SAME disjoint decomposition family
        "st_symdifference": (
            f"a {GEOM_T}, b {GEOM_T}",
            GEOM_T,
            "element_at(transform(array(named_struct("
            " 'd1', st_difference(a, b), 'd2', st_difference(b, a))), sy9 ->"
            " CASE WHEN sy9.d1 IS NULL OR sy9.d2 IS NULL THEN NULL"
            " WHEN sy9.d1.gtype IS NULL THEN sy9.d2"
            " WHEN sy9.d2.gtype IS NULL THEN sy9.d1"
            " ELSE named_struct('gtype', 'MULTIPOLYGON',"
            "  'rings', concat(sy9.d1.rings, sy9.d2.rings)) END), 1)",
        ),
    }
)


# dispatch the tagged type through the existing names:
# - st_distance: spherical points -> great-circle meters (compat.py
#   great_circle_distance is the same Vincenty text; ensure_macros
#   creates it first, as a dependency)
# - st_area: spherical polygon -> spherical excess; other spherical
#   types raise like validateSphericalType
# - st_astext: print the untagged WKT
_sig, _ret, _body = SQL_GEOMETRY_UDFS["st_distance"]
_body = (
    "CASE WHEN substr(a.gtype, 1, 10) = 'SPHERICAL_'"
    " OR substr(b.gtype, 1, 10) = 'SPHERICAL_' THEN"
    " CASE WHEN a.gtype = 'SPHERICAL_POINT'"
    "  AND b.gtype = 'SPHERICAL_POINT' THEN"
    "  great_circle_distance("
    f"  {_sql_pt_xy('a', 'y')}, {_sql_pt_xy('a', 'x')},"
    f"  {_sql_pt_xy('b', 'y')}, {_sql_pt_xy('b', 'x')}) * 1000.0D"
    " ELSE raise_error('When applied to SphericalGeography inputs,"
    " ST_Distance only supports Point') END"
    " ELSE " + _body + " END"
)
SQL_GEOMETRY_UDFS["st_distance"] = (_sig, _ret, _body)

_sig, _ret, _body = SQL_GEOMETRY_UDFS["st_area"]
_body = _body.replace(
    " ELSE 0D END",
    f" WHEN g.gtype = 'SPHERICAL_POLYGON' THEN {_SQL_SPHERICAL_AREA}"
    " WHEN substr(g.gtype, 1, 10) = 'SPHERICAL_' THEN"
    " raise_error(concat('When applied to SphericalGeography inputs,"
    " ST_Area only supports Polygon or MultiPolygon. Input type is: ',"
    " replace(g.gtype, 'SPHERICAL_', '')))"
    " ELSE 0D END",
)
SQL_GEOMETRY_UDFS["st_area"] = (_sig, _ret, _body)

_sig, _ret, _body = SQL_GEOMETRY_UDFS["st_astext"]
_body = (
    "element_at(transform(array(named_struct("
    " 'gtype', replace(g.gtype, 'SPHERICAL_', ''), 'rings', g.rings)),"
    " g9 -> " + _body.replace("g.", "g9.") + "), 1)"
)
SQL_GEOMETRY_UDFS["st_astext"] = (_sig, _ret, _body)


# ---------------------------------------------------------------------------
# spatial_partitions over a KdbTree literal (round 8).
#
# Reference: GeoFunctions.java:1195/:1210 spatialPartitions +
# KdbTree.findIntersectingLeaves (presto-geospatial-toolkit
# KdbTree.java:178) + KdbTreeType.java.  In the reference the KdbTree
# arrives EXCLUSIVELY as a planner-injected literal —
# ExtractSpatialJoins.java:665 wraps KdbTreeUtils.toJson(kdbTree) in
# CAST('<json>' AS KdbTree) — so the Spark-first twin parses that
# literal AT TRANSPILE TIME into a flat leaves array and evaluates the
# intersection predicate as a pure-Catalyst filter() HOF: zero Python
# in the plan, constant-foldable leaves, and the result feeds an
# explode -> equi-join on partition id exactly like the reference's
# addPartitioningNodes (ExtractSpatialJoins.java:655).
# ---------------------------------------------------------------------------
def kdb_tree_leaves(json_text: str) -> list[tuple[int, float, float, float, float]]:
    """KdbTreeUtils.toJson output -> [(leafId, xMin, yMin, xMax, yMax)].

    Traversal order matches KdbTree.findLeaves exactly (explicit stack;
    left pushed before right, so the right subtree is visited first) —
    spatial_partitions output order is the reference's."""
    import json as _json

    root = _json.loads(json_text)
    root = root.get("root", root)
    out: list[tuple[int, float, float, float, float]] = []
    stack = [root]
    while stack:
        node = stack.pop()
        if not node:
            continue
        ext = node["extent"]
        leaf_id = node.get("leafId")
        if leaf_id is not None:
            out.append(
                (
                    int(leaf_id),
                    float(ext["xMin"]),
                    float(ext["yMin"]),
                    float(ext["xMax"]),
                    float(ext["yMax"]),
                )
            )
        else:
            if node.get("left"):
                stack.append(node["left"])
            if node.get("right"):
                stack.append(node["right"])
    if not out:
        raise ValueError("KdbTree has no leaves")
    return out


def sql_spatial_partitions(json_text: str, g: str, d: str | None) -> str:
    """Generated-SQL body for spatial_partitions(kdbTree, g[, d]).

    Semantics bit-for-bit with the reference:
    - empty geometry -> NULL (GeoFunctions.java:1197);
    - leaves exclude their top/right boundaries: a leaf intersects iff
      xMin <= env.xMax AND xMax > env.xMin AND yMin <= env.yMax AND
      yMax > env.yMin (KdbTree.java findIntersectingLeaves comment);
    - the distance form expands the envelope by d on every side after
      rejecting NaN / infinite / negative d (GeoFunctions.java:1212).
    """
    leaves = kdb_tree_leaves(json_text)
    arr = ", ".join(
        f"named_struct('id', {lid}, 'x0', CAST('{x0!r}' AS DOUBLE),"
        f" 'y0', CAST('{y0!r}' AS DOUBLE), 'x1', CAST('{x1!r}' AS DOUBLE),"
        f" 'y1', CAST('{y1!r}' AS DOUBLE))"
        for lid, x0, y0, x1, y1 in leaves
    )
    if d is None:
        dexpr = "0.0D"
    else:
        # runtime-validated distance (literal or expression)
        dexpr = (
            f"CASE WHEN isnan(CAST(({d}) AS DOUBLE)) THEN"
            " raise_error('spatial_partitions: distance is NaN')"
            f" WHEN abs(CAST(({d}) AS DOUBLE)) = CAST('Infinity' AS DOUBLE) THEN"
            " raise_error('spatial_partitions: distance is infinite')"
            f" WHEN CAST(({d}) AS DOUBLE) < 0D THEN"
            " raise_error('spatial_partitions: distance is negative')"
            f" ELSE CAST(({d}) AS DOUBLE) END"
        )
    # The distance is validated OUTSIDE the empty-geometry branch —
    # GeoFunctions.java:1212 throws on NaN/infinite/negative distance
    # BEFORE the :1197 empty check, so spatial_partitions(tree, empty,
    # NaN) must raise, not return NULL (ADVICE r8).  Binding it once in
    # the outer transform also stops the 4x duplication in the envelope.
    return (
        f"element_at(transform(array(CAST(({dexpr}) AS DOUBLE)), d9 ->"
        f" element_at(transform(array(({g})), g9 ->"
        " CASE WHEN g9.gtype IS NULL OR size(flatten(g9.rings)) = 0"
        " THEN NULL ELSE"
        " element_at(transform(array(flatten(g9.rings)), fp9 ->"
        "  element_at(transform(array(named_struct("
        "    'x0', array_min(transform(fp9, p9 -> p9.x)) - d9,"
        "    'x1', array_max(transform(fp9, p9 -> p9.x)) + d9,"
        "    'y0', array_min(transform(fp9, p9 -> p9.y)) - d9,"
        "    'y1', array_max(transform(fp9, p9 -> p9.y)) + d9)), e9 ->"
        f"   transform(filter(array({arr}),"
        "     lf -> lf.x0 <= e9.x1 AND lf.x1 > e9.x0"
        "       AND lf.y0 <= e9.y1 AND lf.y1 > e9.y0),"
        "     lf -> CAST(lf.id AS INT))), 1)), 1)"
        " END), 1)), 1)"
    )
