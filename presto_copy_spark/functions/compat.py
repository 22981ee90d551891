"""Presto-named scalar functions as Spark SQL UDFs.

Reference: SURVEY §2.9 — Presto's scalar surface lives in
presto-main/.../operator/scalar/ (StringFunctions.java, MathFunctions.java,
DateTimeFunctions.java, Array*/Map*/Json* files) and is registered in
metadata/BuiltInTypeAndFunctionNamespaceManager.java:735-1010.

Here every function whose semantics are expressible as a pure Spark SQL
expression is declared as ``name -> (signature, return type, body)`` and
created via ``CREATE OR REPLACE TEMPORARY FUNCTION``
(``functions.ensure_macros``) — so it is inlined by Catalyst into
whole-stage codegen (JVM-side, no Python round-trip; the 100 TB-safe
path).  Functions needing build-time logic (e.g. Presto→Java datetime
format translation) live in presto.py as Column helpers instead.

Naming note: where Spark already has the same name AND same semantics
(length, substr 1-based, upper, lower, concat, replace, split_part,
levenshtein, sequence, element_at, ...) we register nothing.
"""

from __future__ import annotations

__all__ = ["SQL_UDFS"]


# --------------------------------------------------------------------------
# Generated pure-SQL IPv4+IPv6 subnet math (IpPrefixFunctions.java
# ipPrefix / ipSubnetMin / ipSubnetMax / ipSubnetRange / isSubnetOf).
# Everything stays a Catalyst expression — no Python in the plan — so the
# IP surface rides whole-stage codegen on a 100 TB scan.  IPv6 output is
# RFC 5952 canonical (lowercase hex, no leading zeros, leftmost-longest
# zero run >= 2 groups compressed to '::'), verified property-style
# against stdlib `ipaddress` in tests/test_stats_functions.py.
# --------------------------------------------------------------------------
def _let(var: str, value: str, body: str) -> str:
    """SQL let-binding: evaluate `value` once, bind it as lambda var
    `var` inside `body` (transform over a one-element array) — keeps the
    generated expression tree small instead of duplicating subtrees."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def _v6_groups(addr: str, hv: str, tv: str) -> str:
    """array<bigint> of the 8 hextet values of `addr` ('::' expanded)."""
    head = f"filter(split(split_part({addr}, '::', 1), ':'), x6 -> x6 != '')"
    tail = f"filter(split(split_part({addr}, '::', 2), ':'), y6 -> y6 != '')"
    groups = _let(
        hv,
        head,
        _let(
            tv,
            tail,
            f"CASE WHEN contains({addr}, '::') THEN concat({hv}, "
            f"array_repeat('0', 8 - size({hv}) - size({tv})), {tv}) "
            f"ELSE split({addr}, ':') END",
        ),
    )
    return f"transform({groups}, h6 -> cast(conv(h6, 16, 10) AS BIGINT))"


def _v6_masked(vals: str, p: str, kind: str) -> str:
    """Mask hextet i to the first `p` bits (i6 is transform's 0-based
    index; each group keeps clamp(p - 16*i, 0, 16) bits)."""
    shift = f"cast(pow(2, least(greatest(16 * (i6 + 1) - ({p}), 0), 16)) AS BIGINT)"
    lo = f"(v6 DIV {shift}) * {shift}"
    if kind == "min":
        return f"transform({vals}, (v6, i6) -> {lo})"
    return f"transform({vals}, (v6, i6) -> {lo} + {shift} - 1)"


def _v6_format(masked: str) -> str:
    """RFC 5952 canonical form of an array<bigint> of 8 hextets.

    The zero-run scan is `instr` over a 'z'/'n' flag string: trying run
    lengths 8..2 in order, the first hit is the longest run and `instr`
    returns its leftmost position — exactly the RFC's tie-break."""
    return _let(
        "m6",
        masked,
        _let(
            "p6",
            "transform(m6, w6 -> lower(conv(w6, 10, 16)))",
            _let(
                "f6",
                "concat_ws('', transform(m6, z6 -> IF(z6 = 0, 'z', 'n')))",
                _let(
                    "b6",
                    # generation-time fold of the run-length scan: the
                    # former transform(sequence(8, 2, -1), r6 ->
                    # ... repeat('z', r6) ...) kept non-foldable
                    # lambda-bound literals that ConstantFolding
                    # re-attempted on every optimizer iteration —
                    # expanding the 7 literal probes here cuts the
                    # macro's plan-only time (round-5 VERDICT ask #4)
                    "get(filter(array("
                    + ", ".join(
                        f"struct({r} AS r, instr(f6, '{'z' * r}') AS pos)"
                        for r in range(8, 1, -1)
                    )
                    + "), s6 -> s6.pos > 0), 0)",
                    "CASE WHEN b6 IS NULL THEN concat_ws(':', p6) "
                    "ELSE concat(concat_ws(':', slice(p6, 1, b6.pos - 1)), '::', "
                    "concat_ws(':', IF(b6.pos + b6.r > 8, array(), "
                    "slice(p6, b6.pos + b6.r, 9 - b6.pos - b6.r)))) END",
                ),
            ),
        ),
    )


def _v4_val(ip: str, var: str) -> str:
    return _let(
        var,
        f"split({ip}, '[.]')",
        f"cast({var}[0] AS BIGINT) * 16777216 + cast({var}[1] AS BIGINT) * 65536"
        f" + cast({var}[2] AS BIGINT) * 256 + cast({var}[3] AS BIGINT)",
    )


def _v4_fmt(v: str) -> str:
    return (
        f"concat(cast({v} DIV 16777216 AS STRING), '.',"
        f" cast({v} DIV 65536 % 256 AS STRING), '.',"
        f" cast({v} DIV 256 % 256 AS STRING), '.', cast({v} % 256 AS STRING))"
    )


def _ip_subnet_bound_sql(cidr: str, kind: str) -> str:
    """min/max address of `cidr` (either family), canonical string."""
    addr = f"split_part({cidr}, '/', 1)"
    p = f"cast(split_part({cidr}, '/', 2) AS INT)"
    v6 = _let(
        "a6",
        addr,
        _let(
            "q6",
            p,
            _v6_format(_v6_masked(_v6_groups("a6", "h6h", "t6t"), "q6", kind)),
        ),
    )
    s4 = "cast(pow(2, 32 - q4) AS BIGINT)"
    base = f"(n4 DIV {s4}) * {s4}"
    if kind == "max":
        base = f"{base} + {s4} - 1"
    v4 = _let("q4", p, _let("n4", _v4_val(addr, "o4"), _v4_fmt(f"({base})")))
    return f"CASE WHEN contains({cidr}, ':') THEN {v6} ELSE {v4} END"


def _ip_prefix_sql(ip: str, p: str) -> str:
    v6 = _let(
        "a6", ip, _v6_format(_v6_masked(_v6_groups("a6", "h6h", "t6t"), p, "min"))
    )
    s4 = f"cast(pow(2, 32 - ({p})) AS BIGINT)"
    v4 = _let("n4", _v4_val(ip, "o4"), _v4_fmt(f"((n4 DIV {s4}) * {s4})"))
    return (
        f"CASE WHEN contains({ip}, ':') THEN concat({v6}, '/', cast({p} AS STRING)) "
        f"ELSE concat({v4}, '/', cast({p} AS STRING)) END"
    )


def _is_subnet_of_sql(cidr: str, ip: str) -> str:
    """Membership via lexicographic array<bigint> comparison for v6
    (8 equal-length groups, so array ordering IS 128-bit ordering) and
    plain 32-bit range math for v4; families never mix (Presto: false)."""
    addr = f"split_part({cidr}, '/', 1)"
    p = f"cast(split_part({cidr}, '/', 2) AS INT)"
    v6 = _let(
        "q6",
        p,
        _let(
            "iv",
            _v6_groups(ip, "h6a", "t6a"),
            _let(
                "nv",
                _let("c6", addr, _v6_groups("c6", "h6b", "t6b")),
                f"iv >= {_v6_masked('nv', 'q6', 'min')}"
                f" AND iv <= {_v6_masked('nv', 'q6', 'max')}",
            ),
        ),
    )
    s4 = "cast(pow(2, 32 - q4) AS BIGINT)"
    v4 = _let(
        "q4",
        p,
        _let(
            "n4",
            _v4_val(addr, "o4"),
            _let(
                "w4",
                _v4_val(ip, "u4"),
                f"w4 BETWEEN (n4 DIV {s4}) * {s4}"
                f" AND (n4 DIV {s4}) * {s4} + {s4} - 1",
            ),
        ),
    )
    return (
        f"CASE WHEN contains({cidr}, ':') != contains({ip}, ':') THEN false "
        f"WHEN contains({cidr}, ':') THEN {v6} ELSE {v4} END"
    )


# name: (arg signature, return type, body expression)
SQL_UDFS: dict[str, tuple[str, str, str]] = {
    # ---- sketch accessors over the Datasketches twins (round 5;
    # SetDigestFunctions.java / HyperLogLogFunctions.java /
    # TDigestFunctions.java).  The engine's sketches are Datasketches
    # binaries (theta for SetDigest, HLL for HyperLogLog, KLL doubles
    # for tdigest/qdigest — COVERAGE.md), so these operate on those
    # layouts, not Presto's serialized forms; the NAMES and contracts
    # match the reference.
    "merge_hll": (
        "xs ARRAY<BINARY>",
        "BINARY",
        # fold the pairwise union over the array (HyperLogLogFunctions
        # mergeHll of array(hll)); null entries are skipped like the
        # reference's merge — a NULL head/element must not poison the
        # fold (round-5 ADVICE item 5)
        "CASE WHEN xs IS NULL THEN NULL ELSE"
        " element_at(transform(array(filter(xs, x9 -> x9 IS NOT NULL)),"
        " f9 -> CASE WHEN size(f9) = 0 THEN NULL ELSE"
        " aggregate(slice(f9, 2, size(f9) - 1), element_at(f9, 1),"
        " (a, x) -> hll_union(a, x)) END), 1) END",
    ),
    "merge_tdigest": (
        "xs ARRAY<BINARY>",
        "BINARY",
        "CASE WHEN xs IS NULL THEN NULL ELSE"
        " element_at(transform(array(filter(xs, x9 -> x9 IS NOT NULL)),"
        " f9 -> CASE WHEN size(f9) = 0 THEN NULL ELSE"
        " aggregate(slice(f9, 2, size(f9) - 1), element_at(f9, 1),"
        " (a, x) -> kll_sketch_merge_double(a, x)) END), 1) END",
    ),
    "intersection_cardinality": (
        "a BINARY, b BINARY",
        "BIGINT",
        # SetDigestFunctions.intersectionCardinality over the theta twin
        "CAST(round(theta_sketch_estimate(theta_intersection(a, b))) AS BIGINT)",
    ),
    "jaccard_index": (
        "a BINARY, b BINARY",
        "DOUBLE",
        "theta_sketch_estimate(theta_intersection(a, b))"
        " / theta_sketch_estimate(theta_union(a, b))",
    ),
    # ---- string (StringFunctions.java) ----
    "strpos": ("x STRING, sub STRING", "BIGINT", "CAST(instr(x, sub) AS BIGINT)"),
    "codepoint": ("x STRING", "INT", "ascii(x)"),
    "from_utf8": ("x BINARY", "STRING", "decode(x, 'UTF-8')"),
    "to_utf8": ("x STRING", "BINARY", "encode(x, 'UTF-8')"),
    "hamming_distance": (
        "a STRING, b STRING",
        "BIGINT",
        "aggregate(sequence(1, length(a)), 0L,"
        " (acc, i) -> acc + IF(substr(a, i, 1) = substr(b, i, 1), 0L, 1L))",
    ),
    "levenshtein_distance": ("a STRING, b STRING", "INT", "levenshtein(a, b)"),
    "starts_with": ("x STRING, p STRING", "BOOLEAN", "startswith(x, p)"),
    "ends_with": ("x STRING, p STRING", "BOOLEAN", "endswith(x, p)"),
    # SplitToMapFunction.java splits on LITERAL delimiters (indexOf);
    # Spark's str_to_map treats both delimiters as REGEXES, so '.', '|',
    # '+' etc. would silently split wrong — \\Q..\\E-quote them.  chr(92)
    # builds the backslash so no SQL escape layer (CREATE-time parse +
    # inline-time re-parse) can eat it; a delimiter containing the
    # two-char sequence \\E would end the quoting early (noted in
    # COVERAGE).  Duplicate keys: Presto raises "Duplicate keys are not
    # allowed" and Spark's default mapKeyDedupPolicy=EXCEPTION also
    # raises — aligned.
    "split_to_map": (
        "x STRING, ed STRING, kvd STRING",
        "MAP<STRING, STRING>",
        "str_to_map(x,"
        " concat(chr(92), 'Q', ed, chr(92), 'E'),"
        " concat(chr(92), 'Q', kvd, chr(92), 'E'))",
    ),
    # WordStemFunction.java:35 (Lucene stemmer in the reference; the
    # deterministic suffix subset here matches functions/presto.word_stem
    # and its DuckDB twin sql_word_stem)
    "word_stem": (
        "w STRING",
        "STRING",
        """CASE
      WHEN w LIKE '%sses' THEN substr(w, 1, length(w) - 2)
      WHEN w LIKE '%ies' THEN substr(w, 1, length(w) - 2)
      WHEN w LIKE '%ss' THEN w
      WHEN w LIKE '%s' AND length(w) > 3 THEN substr(w, 1, length(w) - 1)
      WHEN w LIKE '%ing' AND length(w) > 5 THEN substr(w, 1, length(w) - 3)
      WHEN w LIKE '%ed' AND length(w) > 4 THEN substr(w, 1, length(w) - 2)
      ELSE w END""",
    ),
    # ---- binary (BinaryFunctions.java) ----
    "sha256": ("x BINARY", "BINARY", "unhex(sha2(x, 256))"),
    "sha512": ("x BINARY", "BINARY", "unhex(sha2(x, 512))"),
    "to_base64url": ("x BINARY", "STRING", "translate(base64(x), '+/', '-_')"),
    "from_base64url": ("x STRING", "BINARY", "unbase64(translate(x, '-_', '+/'))"),
    # hex() on BIGINT emits the full 16-digit two's complement for
    # negatives; lpad covers small positives, and the 32-bit form keeps
    # the low 8 digits
    "to_big_endian_64": ("x BIGINT", "BINARY", "unhex(lpad(hex(x), 16, '0'))"),
    "to_big_endian_32": (
        "x INT",
        "BINARY",
        "unhex(substr(lpad(hex(CAST(x AS BIGINT)), 16, '0'), 9, 8))",
    ),
    # big-endian decode: conv() yields the UNSIGNED value as a decimal
    # string; split hi/lo 32-bit halves and re-sign the high half so the
    # 64-bit form never overflows a BIGINT mid-expression
    "from_big_endian_32": (
        "b BINARY",
        "INT",
        "CAST(CAST(conv(hex(b), 16, 10) AS BIGINT)"
        " - IF(CAST(conv(hex(b), 16, 10) AS BIGINT) >= 2147483648L,"
        " 4294967296L, 0L) AS INT)",
    ),
    "from_big_endian_64": (
        "b BINARY",
        "BIGINT",
        "(CAST(conv(substr(hex(b), 1, 8), 16, 10) AS BIGINT)"
        " - IF(CAST(conv(substr(hex(b), 1, 8), 16, 10) AS BIGINT) >= 2147483648L,"
        " 4294967296L, 0L)) * 4294967296L"
        " + CAST(conv(substr(hex(b), 9, 8), 16, 10) AS BIGINT)",
    ),
    "bitwise_right_shift_arithmetic": (
        "x BIGINT, s INT",
        "BIGINT",
        "shiftright(x, s)",
    ),
    "regexp_position": (
        "s STRING, p STRING",
        "BIGINT",
        # Presto returns 1-based position or -1; regexp_instr returns 0
        # on no-match
        "CASE WHEN regexp_instr(s, p) = 0 THEN -1L"
        " ELSE CAST(regexp_instr(s, p) AS BIGINT) END",
    ),
    # ---- datetime (DateTimeFunctions.java) ----
    "from_iso8601_date": ("s STRING", "DATE", "to_date(s)"),
    "year_of_week": ("d DATE", "BIGINT", "CAST(extract(YEAROFWEEK FROM d) AS BIGINT)"),
    "yow": ("d DATE", "BIGINT", "CAST(extract(YEAROFWEEK FROM d) AS BIGINT)"),
    "to_milliseconds": (
        "i INTERVAL DAY TO SECOND",
        "BIGINT",
        "unix_millis(TIMESTAMP '1970-01-01 00:00:00' + i)",
    ),
    # session-zone offset of a plain timestamp (DateTimeFunctions.java
    # :1261-1276; Presto applies the SESSION zone to zoneless values) —
    # offset = wall-clock minus the UTC instant of that wall clock
    "timezone_hour": (
        "t TIMESTAMP",
        "BIGINT",
        "CAST((unix_seconds(t)"
        " - unix_seconds(to_utc_timestamp(t, current_timezone()))) DIV 3600"
        " AS BIGINT)",
    ),
    "timezone_minute": (
        "t TIMESTAMP",
        "BIGINT",
        "CAST(((unix_seconds(t)"
        " - unix_seconds(to_utc_timestamp(t, current_timezone()))) DIV 60) % 60"
        " AS BIGINT)",
    ),
    # AT TIME ZONE twins (DateTimeFunctions.java:318-351): at_timezone
    # keeps the instant and re-renders in tz; with_timezone re-interprets
    # the wall clock as being in tz
    "at_timezone": (
        "t TIMESTAMP, tz STRING",
        "TIMESTAMP",
        "from_utc_timestamp(to_utc_timestamp(t, current_timezone()), tz)",
    ),
    "with_timezone": (
        "t TIMESTAMP, tz STRING",
        "TIMESTAMP",
        "from_utc_timestamp(to_utc_timestamp(t, tz), current_timezone())",
    ),
    # ---- arrays tier-2 SQL twins (functions/presto.py Column forms) ----
    "array_sort_desc": (
        "a ARRAY<DOUBLE>",
        "ARRAY<DOUBLE>",
        # descending with NULLs at the END (sort_array desc puts nulls
        # first, so sort non-nulls and append the nulls)
        "concat(sort_array(filter(a, e -> e IS NOT NULL), false),"
        " filter(a, e -> e IS NULL))",
    ),
    "remove_nulls": ("a ARRAY<DOUBLE>", "ARRAY<DOUBLE>", "filter(a, e -> e IS NOT NULL)"),
    "array_top_n": (
        "a ARRAY<DOUBLE>, n INT",
        "ARRAY<DOUBLE>",
        "slice(sort_array(filter(a, e -> e IS NOT NULL), false), 1, n)",
    ),
    "array_split_into_chunks": (
        "a ARRAY<DOUBLE>, n INT",
        "ARRAY<ARRAY<DOUBLE>>",
        "transform(sequence(1, CAST(ceil(size(a) / CAST(n AS DOUBLE)) AS INT)),"
        " i -> slice(a, (i - 1) * n + 1, n))",
    ),
    # ---- Bing tiles (BingTileFunctions.java; public Bing tile-system
    # spec).  Tile value = STRUCT<x, y, zoom>; bing_tile_at mirrors
    # functions/geo.py's Column form (same clamped Web-Mercator math).
    "bing_tile": (
        "x INT, y INT, zoom INT",
        "STRUCT<x: BIGINT, y: BIGINT, zoom: INT>",
        "named_struct('x', CAST(x AS BIGINT), 'y', CAST(y AS BIGINT), 'zoom', zoom)",
    ),
    "bing_tile_at": (
        "lat DOUBLE, lon DOUBLE, zoom INT",
        "STRUCT<x: BIGINT, y: BIGINT, zoom: INT>",
        "named_struct("
        " 'x', greatest(0L, least(CAST(floor((lon + 180.0) / 360.0"
        "      * shiftleft(1L, zoom)) AS BIGINT), shiftleft(1L, zoom) - 1)),"
        " 'y', greatest(0L, least(CAST(floor((0.5 - ln((1.0 + sin(radians(lat)))"
        "      / (1.0 - sin(radians(lat)))) / (4.0 * pi()))"
        "      * shiftleft(1L, zoom)) AS BIGINT), shiftleft(1L, zoom) - 1)),"
        " 'zoom', zoom)",
    ),
    "bing_tile_coordinates": (
        "t STRUCT<x: BIGINT, y: BIGINT, zoom: INT>",
        "STRUCT<x: BIGINT, y: BIGINT>",
        "named_struct('x', t.x, 'y', t.y)",
    ),
    "bing_tile_zoom_level": ("t STRUCT<x: BIGINT, y: BIGINT, zoom: INT>", "INT", "t.zoom"),
    "bing_tile_parent": (
        "t STRUCT<x: BIGINT, y: BIGINT, zoom: INT>",
        "STRUCT<x: BIGINT, y: BIGINT, zoom: INT>",
        "named_struct('x', t.x DIV 2, 'y', t.y DIV 2, 'zoom', t.zoom - 1)",
    ),
    "bing_tile_children": (
        "t STRUCT<x: BIGINT, y: BIGINT, zoom: INT>",
        "ARRAY<STRUCT<x: BIGINT, y: BIGINT, zoom: INT>>",
        "array("
        " named_struct('x', t.x * 2,     'y', t.y * 2,     'zoom', t.zoom + 1),"
        " named_struct('x', t.x * 2 + 1, 'y', t.y * 2,     'zoom', t.zoom + 1),"
        " named_struct('x', t.x * 2,     'y', t.y * 2 + 1, 'zoom', t.zoom + 1),"
        " named_struct('x', t.x * 2 + 1, 'y', t.y * 2 + 1, 'zoom', t.zoom + 1))",
    ),
    "bing_tile_quadkey": (
        "t STRUCT<x: BIGINT, y: BIGINT, zoom: INT>",
        "STRING",
        "CASE WHEN t.zoom = 0 THEN ''"
        " ELSE aggregate(sequence(t.zoom - 1, 0, -1), '',"
        "      (acc, i) -> acc || CAST(((t.y DIV shiftleft(1L, i)) % 2) * 2"
        "                            + ((t.x DIV shiftleft(1L, i)) % 2) AS STRING))"
        " END",
    ),
    "bing_tiles_around": (
        "lat DOUBLE, lon DOUBLE, zoom INT",
        "ARRAY<STRUCT<x: BIGINT, y: BIGINT, zoom: INT>>",
        # 3x3 neighborhood of the containing tile, out-of-range rows
        # dropped (reference keeps only valid tiles)
        "filter(flatten(transform(array(-1L, 0L, 1L), dy ->"
        " transform(array(-1L, 0L, 1L), dx -> named_struct("
        "  'x', bing_tile_at(lat, lon, zoom).x + dx,"
        "  'y', bing_tile_at(lat, lon, zoom).y + dy,"
        "  'zoom', zoom)))),"
        " c -> c.x >= 0 AND c.y >= 0 AND c.x < shiftleft(1L, zoom)"
        "      AND c.y < shiftleft(1L, zoom))",
    ),
    "bing_tile_polygon": (
        "t STRUCT<x: BIGINT, y: BIGINT, zoom: INT>",
        "STRING",
        # WKT envelope of the tile via inverse Web-Mercator (our
        # geometry subset is WKT-string-valued; the reference returns a
        # Geometry object with the same corner coordinates)
        "concat('POLYGON ((',"
        " CAST(t.x / shiftleft(1L, t.zoom) * 360.0 - 180.0 AS STRING), ' ',"
        " CAST(degrees(atan(sinh(pi() * (1.0 - 2.0 * (t.y + 1) / shiftleft(1L, t.zoom))))) AS STRING), ', ',"
        " CAST((t.x + 1) / shiftleft(1L, t.zoom) * 360.0 - 180.0 AS STRING), ' ',"
        " CAST(degrees(atan(sinh(pi() * (1.0 - 2.0 * (t.y + 1) / shiftleft(1L, t.zoom))))) AS STRING), ', ',"
        " CAST((t.x + 1) / shiftleft(1L, t.zoom) * 360.0 - 180.0 AS STRING), ' ',"
        " CAST(degrees(atan(sinh(pi() * (1.0 - 2.0 * t.y / shiftleft(1L, t.zoom))))) AS STRING), ', ',"
        " CAST(t.x / shiftleft(1L, t.zoom) * 360.0 - 180.0 AS STRING), ' ',"
        " CAST(degrees(atan(sinh(pi() * (1.0 - 2.0 * t.y / shiftleft(1L, t.zoom))))) AS STRING), ', ',"
        " CAST(t.x / shiftleft(1L, t.zoom) * 360.0 - 180.0 AS STRING), ' ',"
        " CAST(degrees(atan(sinh(pi() * (1.0 - 2.0 * (t.y + 1) / shiftleft(1L, t.zoom))))) AS STRING),"
        " '))')",
    ),
    # ---- json (JsonFunctions.java) ----
    "json_array_get": ("j STRING, i BIGINT", "STRING", "get_json_object(j, concat('$[', i, ']'))"),
    "json_array_contains": (
        "j STRING, v STRING",
        "BOOLEAN",
        "exists(from_json(j, 'array<string>'), e -> e = v)",
    ),
    "is_json_scalar": (
        "j STRING",
        "BOOLEAN",
        # scalar JSON = parseable and not an object/array document; the
        # wrap-in-array trick makes from_json (null on malformed input)
        # validate that the value actually parses — 'not json' is false,
        # not true (Presto raises for invalid JSON; false is the closest
        # non-error behavior, noted in COVERAGE).  The size(...) = 1
        # check rejects non-JSON with top-level commas ('1,2' wraps to a
        # 2-element array); coalesce maps the malformed-input NULL from
        # from_json back to false.
        "CASE WHEN j IS NULL THEN NULL"
        " WHEN ltrim(j) LIKE '[%' OR ltrim(j) LIKE '{%' THEN false"
        " ELSE coalesce("
        "size(from_json(concat('[', j, ']'), 'array<string>')) = 1,"
        " false) END",
    ),
    # ---- ml (MLFunctions.java cosine_similarity on sparse maps) ----
    "cosine_similarity": (
        "a MAP<STRING, DOUBLE>, b MAP<STRING, DOUBLE>",
        "DOUBLE",
        "aggregate(map_keys(a), CAST(0.0 AS DOUBLE),"
        " (acc, k) -> acc + coalesce(a[k] * b[k], CAST(0.0 AS DOUBLE)))"
        " / sqrt(aggregate(map_values(a), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v))"
        " / sqrt(aggregate(map_values(b), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v))",
    ),
    # Vincenty-form great-circle distance in KM
    # (SphericalGeographyUtils.java:82-108, EARTH_RADIUS_KM = 6371.01)
    "great_circle_distance": (
        "lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE",
        "DOUBLE",
        "atan2(sqrt(pow(cos(radians(lat2)) * sin(radians(lon1) - radians(lon2)), 2)"
        " + pow(cos(radians(lat1)) * sin(radians(lat2))"
        "   - sin(radians(lat1)) * cos(radians(lat2))"
        "     * cos(radians(lon1) - radians(lon2)), 2)),"
        " sin(radians(lat1)) * sin(radians(lat2))"
        " + cos(radians(lat1)) * cos(radians(lat2))"
        "   * cos(radians(lon1) - radians(lon2))) * 6371.01",
    ),
    # TypeUtils.java combineHash: h1 * 31 + h2
    "combine_hash": ("h1 BIGINT, h2 BIGINT", "BIGINT", "h1 * 31 + h2"),
    # MathFunctions.java secureRandom(lower, upper) -> [lower, upper)
    "secure_random": (
        "lo DOUBLE, hi DOUBLE",
        "DOUBLE",
        "lo + rand() * (hi - lo)",
    ),
    # FailureFunction.java fail(message) — planned through raise_error
    "fail": ("m STRING", "STRING", "raise_error(m)"),
    # StringFunctions.java stringReversePosition: 1-based position of the
    # LAST occurrence, 0 when absent
    "strrpos": (
        "x STRING, sub STRING",
        "BIGINT",
        "CASE WHEN instr(reverse(x), reverse(sub)) = 0 THEN 0L"
        " ELSE CAST(length(x) - instr(reverse(x), reverse(sub))"
        "      - length(sub) + 2 AS BIGINT) END",
    ),
    # BitwiseFunctions.java width-masked shifts (x, shift, bits)
    "bitwise_shift_left": (
        "x BIGINT, s INT, bits INT",
        "BIGINT",
        "CASE WHEN bits = 64 THEN shiftleft(x, s)"
        " ELSE shiftleft(x, s) & (shiftleft(1L, bits) - 1) END",
    ),
    "bitwise_logical_shift_right": (
        "x BIGINT, s INT, bits INT",
        "BIGINT",
        "CASE WHEN bits = 64 THEN shiftrightunsigned(x, s)"
        " ELSE shiftrightunsigned(x & (shiftleft(1L, bits) - 1), s) END",
    ),
    "bitwise_arithmetic_shift_right": ("x BIGINT, s INT", "BIGINT", "shiftright(x, s)"),
    # StringFunctions.java splitToMultimap: duplicate keys KEPT as
    # array values (str_to_map would drop them)
    "split_to_multimap": (
        "x STRING, ed STRING, kvd STRING",
        "MAP<STRING, ARRAY<STRING>>",
        # entry split is LITERAL in the reference (splitToMultimap uses
        # indexOf), so the regex delimiter is quoted; split_part/instr on
        # the kv delimiter are literal already
        "map_from_arrays("
        " array_distinct(transform(split(x, __RQED__), e -> split_part(e, kvd, 1))),"
        " transform(array_distinct(transform(split(x, __RQED__), e -> split_part(e, kvd, 1))),"
        "  k -> transform(filter(split(x, __RQED__), e -> split_part(e, kvd, 1) = k),"
        "       e -> substr(e, instr(e, kvd) + length(kvd)))))".replace(
            "__RQED__", "concat(chr(92), 'Q', ed, chr(92), 'E')"
        ),
    ),
    # ---- math (MathFunctions.java) ----
    "truncate": (
        "x DOUBLE",
        "DOUBLE",
        "CAST(IF(x < 0, ceil(x), floor(x)) AS DOUBLE)",
    ),
    "is_nan": ("x DOUBLE", "BOOLEAN", "isnan(x)"),
    "is_finite": (
        "x DOUBLE",
        "BOOLEAN",
        "NOT isnan(x) AND abs(x) <> CAST('Infinity' AS DOUBLE)",
    ),
    "is_infinite": ("x DOUBLE", "BOOLEAN", "abs(x) = CAST('Infinity' AS DOUBLE)"),
    "infinity": ("", "DOUBLE", "CAST('Infinity' AS DOUBLE)"),
    "nan": ("", "DOUBLE", "CAST('NaN' AS DOUBLE)"),
    "from_base": ("x STRING, b INT", "BIGINT", "CAST(conv(x, b, 10) AS BIGINT)"),
    "to_base": ("x BIGINT, b INT", "STRING", "lower(conv(CAST(x AS STRING), 10, b))"),
    "cosine_similarity_arrays": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
        " / (sqrt(aggregate(a, CAST(0.0 AS DOUBLE), (s, v) -> s + v * v))"
        " * sqrt(aggregate(b, CAST(0.0 AS DOUBLE), (s, v) -> s + v * v)))",
    ),
    "wilson_interval_lower": (
        "successes BIGINT, trials BIGINT, z DOUBLE",
        "DOUBLE",
        "(successes + z * z / 2) / (trials + z * z)"
        " - z / (trials + z * z) * sqrt(successes * (trials - successes)"
        " / CAST(trials AS DOUBLE) + z * z / 4)",
    ),
    "wilson_interval_upper": (
        "successes BIGINT, trials BIGINT, z DOUBLE",
        "DOUBLE",
        "(successes + z * z / 2) / (trials + z * z)"
        " + z / (trials + z * z) * sqrt(successes * (trials - successes)"
        " / CAST(trials AS DOUBLE) + z * z / 4)",
    ),
    # ---- bitwise (BitwiseFunctions.java) ----
    "bitwise_and": ("a BIGINT, b BIGINT", "BIGINT", "a & b"),
    "bitwise_or": ("a BIGINT, b BIGINT", "BIGINT", "a | b"),
    "bitwise_xor": ("a BIGINT, b BIGINT", "BIGINT", "a ^ b"),
    "bitwise_not": ("a BIGINT", "BIGINT", "~a"),
    "bitwise_left_shift": ("a BIGINT, s INT", "BIGINT", "shiftleft(a, s)"),
    "bitwise_right_shift": ("a BIGINT, s INT", "BIGINT", "shiftright(a, s)"),
    # ---- date/time (DateTimeFunctions.java); arg-translating variants in presto.py ----
    "to_unixtime": ("ts TIMESTAMP", "DOUBLE", "CAST(unix_micros(ts) AS DOUBLE) / 1e6"),
    "from_iso8601_timestamp": ("s STRING", "TIMESTAMP", "to_timestamp(s)"),
    "to_iso8601": (
        "ts TIMESTAMP",
        "STRING",
        "date_format(ts, \"yyyy-MM-dd'T'HH:mm:ss.SSS'Z'\")",
    ),
    "last_day_of_month": ("ts TIMESTAMP", "DATE", "last_day(CAST(ts AS DATE))"),
    # ISO day-of-week (Mon=1..Sun=7). date_format 'e' is a week-based
    # pattern banned since Spark 3.0 (fails at runtime); derive from
    # dayofweek (Sun=1..Sat=7) instead.
    "day_of_week": ("ts TIMESTAMP", "INT", "CAST((dayofweek(ts) + 5) % 7 + 1 AS INT)"),
    "day_of_year": ("ts TIMESTAMP", "INT", "dayofyear(ts)"),
    "week_of_year": ("ts TIMESTAMP", "INT", "weekofyear(ts)"),
    "millisecond": ("ts TIMESTAMP", "INT", "CAST(unix_micros(ts) % 1000000 / 1000 AS INT)"),
    # ---- array (Array*.java) ----
    # NOTE: `cardinality` is NOT registered — Spark's builtin
    # cardinality(array) is semantically identical, and CREATE TEMPORARY
    # FUNCTION cannot shadow a builtin name (registration would fail).
    "array_sum": (
        "a ARRAY<DOUBLE>",
        "DOUBLE",
        "aggregate(a, CAST(0.0 AS DOUBLE), (s, v) -> s + coalesce(v, 0.0))",
    ),
    "array_average": (
        "a ARRAY<DOUBLE>",
        "DOUBLE",
        "aggregate(a, CAST(0.0 AS DOUBLE), (s, v) -> s + coalesce(v, 0.0))"
        " / size(filter(a, v -> v IS NOT NULL))",
    ),
    "array_cum_sum": (
        "a ARRAY<DOUBLE>",
        "ARRAY<DOUBLE>",
        "transform(sequence(1, size(a)),"
        " i -> aggregate(slice(a, 1, i), CAST(0.0 AS DOUBLE), (s, v) -> s + v))",
    ),
    "array_normalize": (
        "a ARRAY<DOUBLE>, p DOUBLE",
        "ARRAY<DOUBLE>",
        "transform(a, v -> v / power(aggregate(a, CAST(0.0 AS DOUBLE),"
        " (s, x) -> s + power(abs(x), p)), 1.0 / p))",
    ),
    "array_has_duplicates": (
        "a ARRAY<STRING>",
        "BOOLEAN",
        "size(a) <> size(array_distinct(a))",
    ),
    "array_duplicates": (
        "a ARRAY<STRING>",
        "ARRAY<STRING>",
        "array_distinct(filter(a, x -> size(filter(a, y -> y = x)) > 1))",
    ),
    "arrays_overlap_compat": ("a ARRAY<STRING>, b ARRAY<STRING>", "BOOLEAN", "arrays_overlap(a, b)"),
    # Presto contains(array, x); `contains` itself is Spark's string
    # builtin (unshadowable), so this takes the _compat suffix like the
    # other colliding names.
    "contains_compat": ("a ARRAY<STRING>, x STRING", "BOOLEAN", "array_contains(a, x)"),
    "ngrams": (
        "a ARRAY<STRING>, n INT",
        "ARRAY<ARRAY<STRING>>",
        "IF(size(a) < n, array(a),"
        " transform(sequence(1, size(a) - n + 1), i -> slice(a, i, n)))",
    ),
    "trim_array": ("a ARRAY<STRING>, n INT", "ARRAY<STRING>", "slice(a, 1, size(a) - n)"),
    "find_first": ("a ARRAY<STRING>, p STRING", "STRING", "get(filter(a, x -> x = p), 0)"),
    "find_first_index": (
        "a ARRAY<STRING>, p STRING",
        "BIGINT",
        "CAST(array_position(a, p) AS BIGINT)",
    ),
    # ---- map (Map*.java) ----
    "map_subset": (
        "m MAP<STRING, STRING>, ks ARRAY<STRING>",
        "MAP<STRING, STRING>",
        "map_filter(m, (k, v) -> array_contains(ks, k))",
    ),
    "map_normalize": (
        "m MAP<STRING, DOUBLE>",
        "MAP<STRING, DOUBLE>",
        "transform_values(m, (k, v) -> v / aggregate(map_values(m),"
        " CAST(0.0 AS DOUBLE), (s, x) -> s + x))",
    ),
    "multimap_from_entries": (
        "es ARRAY<STRUCT<k: STRING, v: STRING>>",
        "MAP<STRING, ARRAY<STRING>>",
        "map_from_entries(transform(array_distinct(transform(es, e -> e.k)),"
        " kk -> struct(kk AS k, transform(filter(es, e -> e.k = kk), e -> e.v) AS v)))",
    ),
    # ---- json (JsonFunctions.java) ----
    # Presto json_extract_scalar returns NULL when the JsonPath resolves
    # to an object/array (only scalars come back); get_json_object would
    # return the serialized JSON text.  Delta: a JSON *string* value whose
    # text itself starts with '[' or '{' is indistinguishable from the
    # serialized form and also maps to NULL here.
    # let-bound via transform-over-singleton so the JSON document is
    # parsed ONCE per call, not once for the guard and once for the
    # result (the dominant cost on hot JSON paths)
    "json_extract_scalar": (
        "j STRING, p STRING",
        "STRING",
        "element_at(transform(array(get_json_object(j, p)),"
        " v -> CASE WHEN substring(ltrim(v), 1, 1) IN ('[', '{')"
        " THEN NULL ELSE v END), 1)",
    ),
    "json_extract_compat": ("j STRING, p STRING", "STRING", "get_json_object(j, p)"),
    "json_array_contains_str": (
        "j STRING, x STRING",
        "BOOLEAN",
        "array_contains(from_json(j, 'array<string>'), x)",
    ),
    "json_array_length_compat": ("j STRING", "INT", "json_array_length(j)"),
    "json_format": ("j STRING", "STRING", "j"),
    # NULL-propagating like the reference (JsonFunctions.java json_parse
    # is @SqlNullable): NULL in -> NULL out, never raise_error on NULL.
    "json_parse": ("j STRING", "STRING", "IF(j IS NULL, NULL, IF(get_json_object(j, '$') IS NOT NULL OR trim(j) IN ('null', 'true', 'false') OR try_cast(j AS DOUBLE) IS NOT NULL, j, raise_error(concat('Cannot convert to JSON: ', j))))"),
    "json_size": (
        "j STRING, p STRING",
        "INT",
        "coalesce(json_array_length(get_json_object(j, p)),"
        " size(from_json(get_json_object(j, p), 'map<string,string>')),"
        " IF(get_json_object(j, p) IS NOT NULL, 0, NULL))",
    ),
    # ---- binary/crypto (VarbinaryFunctions.java) ----
    "to_hex": ("x BINARY", "STRING", "upper(hex(x))"),
    "from_hex": ("x STRING", "BINARY", "unhex(x)"),
    "to_base64": ("x BINARY", "STRING", "base64(x)"),
    "from_base64": ("x STRING", "BINARY", "unbase64(x)"),
    "sha256_compat": ("x BINARY", "BINARY", "unhex(sha2(x, 256))"),
    "sha512_compat": ("x BINARY", "BINARY", "unhex(sha2(x, 512))"),
    "md5_compat": ("x BINARY", "BINARY", "unhex(md5(x))"),
    # ---- url (UrlFunctions.java) ----
    "url_extract_protocol": ("u STRING", "STRING", "parse_url(u, 'PROTOCOL')"),
    "url_extract_host": ("u STRING", "STRING", "parse_url(u, 'HOST')"),
    "url_extract_path": ("u STRING", "STRING", "parse_url(u, 'PATH')"),
    "url_extract_query": ("u STRING", "STRING", "parse_url(u, 'QUERY')"),
    "url_extract_fragment": ("u STRING", "STRING", "parse_url(u, 'REF')"),
    # Hive parse_url has no PORT key; extract from AUTHORITY
    "url_extract_port": (
        "u STRING",
        "BIGINT",
        "CAST(split_part(parse_url(u, 'AUTHORITY'), ':', 2) AS BIGINT)",
    ),
    "url_extract_parameter": ("u STRING, k STRING", "STRING", "parse_url(u, 'QUERY', k)"),
    # NOTE: url_encode/url_decode are NOT registered — Spark's builtins
    # of the same name match Presto's application/x-www-form-urlencoded
    # semantics, and builtin names cannot be shadowed.
    # ---- conditional / misc ----
    "typeof_compat": ("x STRING", "STRING", "typeof(x)"),
    "index": ("x STRING, sub STRING", "BIGINT", "CAST(instr(x, sub) AS BIGINT)"),
    "cbrt_compat": ("x DOUBLE", "DOUBLE", "cbrt(x)"),
    # ---- specialty: ipaddress (IpPrefixFunctions.java ipPrefix /
    # ipSubnetMin/Max/Range / isSubnetOf) — generated pure-Catalyst
    # IPv4 + IPv6 expressions (helpers above); RFC 5952 v6 output,
    # property-tested against stdlib ipaddress ----
    "ip_prefix": ("ip STRING, p INT", "STRING", _ip_prefix_sql("ip", "p")),
    "ip_subnet_min": ("cidr STRING", "STRING", _ip_subnet_bound_sql("cidr", "min")),
    "ip_subnet_max": ("cidr STRING", "STRING", _ip_subnet_bound_sql("cidr", "max")),
    "ip_subnet_range": (
        "cidr STRING",
        "ARRAY<STRING>",
        "array("
        + _ip_subnet_bound_sql("cidr", "min")
        + ", "
        + _ip_subnet_bound_sql("cidr", "max")
        + ")",
    ),
    "is_subnet_of": (
        "cidr STRING, ip STRING",
        "BOOLEAN",
        _is_subnet_of_sql("cidr", "ip"),
    ),
    # ---- sketches (HyperLogLogFunctions.java empty_approx_set():
    # Datasketches-typed here like the whole HLL family; a scalar
    # subquery over zero rows yields the canonical empty sketch, which
    # hll_union/hll_sketch_estimate treat correctly — estimate 0,
    # union identity) ----
    "empty_approx_set": (
        "",
        "BINARY",
        "(SELECT hll_sketch_agg(x) FROM (SELECT 1 AS x) WHERE false)",
    ),
    # ---- specialty: durations / data sizes (DateTimeFunctions.java
    # parse_duration -> seconds as DOUBLE here, not INTERVAL — Spark SQL
    # macros cannot return intervals; DataSizeFunctions.java
    # parse_presto_data_size -> bytes as DOUBLE, Presto returns
    # DECIMAL(38,0)) ----
    # NOTE the doubled backslashes: Spark's string-literal parser
    # unescapes '\s' to plain 's' inside the CREATE FUNCTION body, so a
    # single-escaped regex silently failed on leading whitespace
    # (caught round 6 when the transpiler gained an inlined twin)
    "parse_duration": ("s STRING", "DOUBLE", "CAST(regexp_extract(s, '^\\\\s*([0-9.]+)', 1) AS DOUBLE) * (CASE lower(regexp_extract(s, '([a-zA-Z]+)\\\\s*$', 1)) WHEN 'ns' THEN 1e-9 WHEN 'us' THEN 1e-6 WHEN 'ms' THEN 1e-3 WHEN 's' THEN 1e0 WHEN 'm' THEN 60e0 WHEN 'h' THEN 3600e0 WHEN 'd' THEN 86400e0 END)"),
    "parse_presto_data_size": ("s STRING", "DOUBLE", "CAST(regexp_extract(s, '^\\\\s*([0-9.]+)', 1) AS DOUBLE) * (CASE regexp_extract(s, '([a-zA-Z]+)\\\\s*$', 1) WHEN 'B' THEN 1e0 WHEN 'kB' THEN 1024e0 WHEN 'MB' THEN 1048576e0 WHEN 'GB' THEN 1073741824e0 WHEN 'TB' THEN 1099511627776e0 WHEN 'PB' THEN 1125899906842624e0 END)"),
    # ---- specialty: Teradata (presto-teradata-functions; `index` above) --
    "char2hexint": ("s STRING", "STRING", "upper(hex(encode(s, 'UTF-16BE')))"),
}


# ---------------------------------------------------------------------------
# KHyperLogLog twin (round 6; KHyperLogLogFunctions.java,
# KHyperLogLog.java — the join-ability / re-identification privacy
# metrics a training-data pipeline needs).  The reference's KHLL is a
# bottom-K minhash map from hash(value) to an HLL of uii; the twin here
# is the same bottom-K map with an EXACT sorted-distinct uii-hash array
# per key (documented: exact where the reference estimates, identical
# in the exact regime the tests and oracles pin).  The hash is the
# engine's cross-engine md5 60-bit row hash so a DuckDB oracle can
# replicate the bottom-K selection bit-for-bit.  K = DEFAULT_MAX_SIZE
# = 4096, histogram default = 256 (KHyperLogLog.java:58-59).
# ---------------------------------------------------------------------------

KHLL_T = "MAP<BIGINT, ARRAY<BIGINT>>"
KHLL_K = 4096
_KHLL_PAIR_CAP = 1_048_576


def khll_hash_sql(e: str) -> str:
    """The twin's hash: md5-based 60-bit, bit-identical in DuckDB via
    ('0x' || substr(md5(CAST(e AS VARCHAR)), 1, 15))::BIGINT."""
    return (
        f"CAST(conv(substr(md5(CAST(({e}) AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )


def khll_from_pairs_sql(pairs: str, k: int = KHLL_K) -> str:
    """KHLL twin map from `pairs` (sorted distinct
    ARRAY<STRUCT<h BIGINT, u BIGINT>>): bottom-k distinct h, grouped by
    h via one O(N) boundary scan (no per-key filter — the group slices
    come from the sorted order).  The k-th hash bound is LET-BOUND
    before the filter: an inline bound would re-evaluate the O(N)
    distinct scan per filtered element (measured O(N^2) blowup on the
    truncation property test, round 6)."""
    keys = f"array_distinct(transform(kd9, kq9 -> kq9.h))"
    kmax = f"element_at(slice({keys}, 1, {k}), least(size({keys}), {k}))"
    return (
        f"element_at(transform(array({pairs}), kd9 ->"
        f" CASE WHEN size(kd9) = 0 THEN CAST(map() AS {KHLL_T})"
        f" WHEN size(kd9) > {_KHLL_PAIR_CAP} THEN"
        f"  raise_error('khyperloglog twin: more than {_KHLL_PAIR_CAP}"
        " distinct (value, uii) pairs in one group; use a two-level"
        " aggregation instead (see agg_khll_uniqueness)')"
        f" ELSE element_at(transform(array({kmax}), km9 ->"
        " element_at(transform(array(filter(kd9, kp9 -> kp9.h <= km9)), kt9 ->"
        " element_at(transform(array(filter(sequence(1, size(kt9)),"
        "  ki9 -> ki9 = 1 OR element_at(kt9, ki9).h"
        "   != element_at(kt9, ki9 - 1).h)), kb9 ->"
        " map_from_arrays("
        "  transform(kb9, bi9 -> element_at(kt9, bi9).h),"
        "  transform(sequence(1, size(kb9)), kj9 ->"
        "   transform(slice(kt9, element_at(kb9, kj9),"
        "    IF(kj9 < size(kb9), element_at(kb9, kj9 + 1),"
        "     size(kt9) + 1) - element_at(kb9, kj9)),"
        "    kp9 -> kp9.u)))), 1)), 1)), 1) END), 1)"
    )


SQL_UDFS.update(
    {
        # uniquenessDistribution(khll, histogramSize): buckets 1..size
        # initialized to 0, each sampled key adds 1/|keys| at bucket
        # min(|uii set|, size).  The 1-arg default (256) is a dialect
        # rewrite (SQL UDFs are single-arity).
        "uniqueness_distribution": (
            f"k {KHLL_T}, hist BIGINT",
            "MAP<BIGINT, DOUBLE>",
            "CASE WHEN k IS NULL THEN NULL"
            " WHEN size(map_keys(k)) = 0 THEN CAST(map() AS MAP<BIGINT, DOUBLE>)"
            " ELSE element_at(transform(array(map_values(k)), vs9 ->"
            " map_from_arrays("
            "  transform(sequence(1, hist), hi9 -> CAST(hi9 AS BIGINT)),"
            "  transform(sequence(1, hist), hi9 ->"
            "   CAST(size(filter(vs9, v9 -> least(size(v9), hist) = hi9))"
            "    AS DOUBLE) / size(vs9)))), 1) END",
        ),
        # reidentificationPotential(khll, threshold): fraction of
        # sampled keys whose uii set is at most `threshold` distinct
        # values (KHyperLogLog.java:297)
        "reidentification_potential": (
            f"k {KHLL_T}, t BIGINT",
            "DOUBLE",
            "CASE WHEN k IS NULL THEN NULL"
            " WHEN size(map_keys(k)) = 0 THEN 0D"
            " ELSE CAST(size(filter(map_values(k), v9 -> size(v9) <= t))"
            "  AS DOUBLE) / size(map_values(k)) END",
        ),
        # trimmed_mean(tdigest, lo, hi) (TDigestFunctions.java:142 /
        # TDigest.java:589 — mean of the values between the quantile
        # bounds).  Spark's KLL accessors require FOLDABLE quantile
        # arguments, so the twin integrates the quantile function on a
        # fixed 200-point midpoint grid ((j-0.5)/200): exact whenever
        # the bounds and the group size divide the grid (the regime the
        # pytest oracle pins), midpoint-Riemann otherwise.  Bounds
        # outside [0,1] raise like the reference; lo >= hi -> NaN.
        "trimmed_mean": (
            "t BINARY, lo DOUBLE, hi DOUBLE",
            "DOUBLE",
            "CASE WHEN t IS NULL THEN NULL"
            " WHEN lo < 0D OR lo > 1D OR hi < 0D OR hi > 1D THEN"
            "  raise_error(concat('trimmed_mean: quantile bounds must be"
            " in [0, 1], got ', CAST(lo AS STRING), ', ', CAST(hi AS STRING)))"
            " WHEN lo >= hi THEN CAST('NaN' AS DOUBLE)"
            " ELSE element_at(transform(array(filter(array("
            + ", ".join(
                f"named_struct('q', {(2 * j - 1) / 400!r}D, 'v',"
                f" kll_sketch_get_quantile_double(t, {(2 * j - 1) / 400!r}D))"
                for j in range(1, 201)
            )
            + "), tp9 -> tp9.q >= lo AND tp9.q < hi)), tf9 ->"
            " CASE WHEN size(tf9) = 0 THEN CAST('NaN' AS DOUBLE)"
            " ELSE aggregate(tf9, 0D, (ta9, tv9) -> ta9 + tv9.v)"
            "  / size(tf9) END), 1) END",
        ),
        # mergeKhll(array<khll>): union of the maps re-truncated to the
        # bottom-K keys, uii sets unioned per key; null entries skipped
        "merge_khll": (
            f"ks ARRAY<{KHLL_T}>",
            KHLL_T,
            "CASE WHEN ks IS NULL OR size(filter(ks, k9 -> k9 IS NOT NULL)) = 0"
            " THEN NULL ELSE "
            + khll_from_pairs_sql(
                "array_sort(array_distinct(flatten(transform("
                " flatten(transform(filter(ks, k9 -> k9 IS NOT NULL),"
                "  k9 -> map_entries(k9))),"
                " e9 -> transform(e9.value, eu9 ->"
                "  named_struct('h', e9.key, 'u', eu9))))))"
            )
            + " END",
        ),
    }
)
