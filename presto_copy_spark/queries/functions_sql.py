"""Scalar-function surface coverage (SURVEY §2.9) through the SQL entry
point — each query runs ``spark.sql`` over registered temp views, the
way Engine.sql consumes the engine, and is checked against a DuckDB
oracle computing the same values with that engine's spellings.

Reference: operator/scalar/StringFunctions.java (949 LoC),
MathFunctions.java (1638), DateTimeFunctions.java (1473), Array*/Map*/
Json* function files; registrations in
BuiltInTypeAndFunctionNamespaceManager.java:735-1010.

Where Spark and DuckDB spell a function differently (instr/strpos,
get_json_object/json_extract_string, sequence/generate_series) the two
texts differ but compute the same value — that IS the compat layer's
job.  Semantic trap cases are pinned on purpose: 1-based substr,
dayofweek numbering normalized to ISO, split_part, integer division.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .qutil import compile_once_scalar
from .registry import query


def _sql(spark: SparkSession, sf_dir: str, tables: list[str], text: str) -> DataFrame:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(text)


# ---------------------------------------------------------------------------
@query(
    "func_string",
    oracle="""
SELECT doc_id,
       length(source) AS len_src,
       upper(source) AS up, lower(lang) AS lo,
       substr(source, 1, 3) AS sub3,
       substr(source, 4) AS sub_tail,
       replace(source, 'src', 'S_') AS repl,
       reverse(lang) AS rev,
       split_part(source, 'rc', 1) AS sp1,
       split_part(source, 'rc', 2) AS sp2,
       instr(source, 'rc') AS pos_rc,
       concat(lang, '-', source) AS cat,
       lpad(lang, 5, '.') AS lp, rpad(lang, 5, '.') AS rp,
       trim('  ' || lang || ' ') AS trimmed,
       starts_with(source, 'src') AS sw,
       source LIKE '%1' AS ew,
       levenshtein(lang, 'en') AS lev,
       regexp_extract(source, '[0-9]+', 0) AS digits,
       regexp_replace(source, '[0-9]', '#', 'g') AS masked,
       source LIKE 'src1%' AS like1,
       regexp_matches_compat AS rx
FROM (SELECT d.*, source SIMILAR TO 'src[0-9]+' AS regexp_matches_compat FROM documents d)
""",
)
def func_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions (StringFunctions.java): length/substr(1-based)/
    replace/reverse/split_part/strpos/concat/pad/trim/starts/ends/
    levenshtein/regexp family/LIKE."""
    return compile_once_scalar(
        _sql(
        spark,
        sf_dir,
        ["documents"],
        """
SELECT doc_id,
       length(source) AS len_src,
       upper(source) AS up, lower(lang) AS lo,
       substr(source, 1, 3) AS sub3,
       substr(source, 4) AS sub_tail,
       replace(source, 'src', 'S_') AS repl,
       reverse(lang) AS rev,
       split_part(source, 'rc', 1) AS sp1,
       split_part(source, 'rc', 2) AS sp2,
       CAST(instr(source, 'rc') AS BIGINT) AS pos_rc,
       concat(lang, '-', source) AS cat,
       lpad(lang, 5, '.') AS lp, rpad(lang, 5, '.') AS rp,
       trim('  ' || lang || ' ') AS trimmed,
       startswith(source, 'src') AS sw,
       endswith(source, '1') AS ew,
       levenshtein(lang, 'en') AS lev,
       regexp_extract(source, '[0-9]+', 0) AS digits,
       regexp_replace(source, '[0-9]', '#') AS masked,
       source LIKE 'src1%' AS like1,
       source RLIKE '^src[0-9]+$' AS rx
FROM documents
""",
    )
    )


@query(
    "func_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05) AS a,
       CAST(ceil(l_quantity / 7) AS BIGINT) AS c,
       CAST(floor(l_quantity / 7) AS BIGINT) AS f,
       CAST(round(l_extendedprice) AS BIGINT) AS r0,
       round(CAST(power(l_quantity, 2) AS DOUBLE), 6) AS p2,
       round(sqrt(l_quantity), 6) AS sq,
       round(exp(l_discount), 6) AS ex,
       round(ln(l_quantity), 6) AS lnq,
       round(log10(l_quantity), 6) AS l10,
       round(log2(l_quantity), 6) AS l2,
       CAST(l_quantity AS BIGINT) % 7 AS m7,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS sg,
       round(degrees(l_discount), 6) AS dg, round(radians(l_quantity), 6) AS rd,
       round(sin(l_discount), 6) AS sn, round(cos(l_discount), 6) AS cs, round(atan2(l_discount, 2.0), 6) AS at2,
       greatest(l_quantity, l_linenumber * 10) AS gr,
       least(l_quantity, l_linenumber * 10) AS ls,
       CAST(l_quantity AS BIGINT) // 7 AS idiv
FROM lineitem WHERE l_orderkey % 500 = 0
""",
)
def func_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math functions (MathFunctions.java): rounding family, exp/log
    family, trig, sign, greatest/least, integer division."""
    return compile_once_scalar(
        _sql(
        spark,
        sf_dir,
        ["lineitem"],
        """
SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05) AS a,
       ceil(l_quantity / 7) AS c,
       floor(l_quantity / 7) AS f,
       CAST(round(l_extendedprice) AS BIGINT) AS r0,
       round(power(l_quantity, 2), 6) AS p2,
       round(sqrt(l_quantity), 6) AS sq,
       round(exp(l_discount), 6) AS ex,
       round(ln(l_quantity), 6) AS lnq,
       round(log10(l_quantity), 6) AS l10,
       round(log2(l_quantity), 6) AS l2,
       CAST(l_quantity AS BIGINT) % 7 AS m7,
       sign(l_discount - 0.05) AS sg,
       round(degrees(l_discount), 6) AS dg, round(radians(l_quantity), 6) AS rd,
       round(sin(l_discount), 6) AS sn, round(cos(l_discount), 6) AS cs, round(atan2(l_discount, 2.0), 6) AS at2,
       greatest(l_quantity, l_linenumber * 10) AS gr,
       least(l_quantity, l_linenumber * 10) AS ls,
       CAST(l_quantity AS BIGINT) div 7 AS idiv
FROM lineitem WHERE l_orderkey % 500 = 0
""",
    )
    )


@query(
    "func_datetime",
    oracle="""
SELECT event_id,
       year(ts) AS y, quarter(ts) AS q, month(ts) AS mo, day(ts) AS d,
       hour(ts) AS h, minute(ts) AS mi, second(ts) AS s,
       date_trunc('hour', ts) AS th,
       date_trunc('day', ts) AS td,
       date_trunc('month', ts) AS tm,
       ts + INTERVAL 90 MINUTE AS plus90m,
       ts - INTERVAL 3 DAY AS minus3d,
       CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT) AS days_since,
       strftime(last_day(CAST(ts AS DATE)), '%Y-%m-%d') AS eom,
       isodow(ts) AS iso_dow,
       dayofyear(ts) AS doy,
       CAST(floor(epoch(ts)) AS BIGINT) AS unix_s,
       strftime(ts, '%Y-%m-%d %H:%M') AS fmt
FROM events WHERE event_id % 20 = 0
""",
)
def func_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime functions (DateTimeFunctions.java): extract family,
    date_trunc, interval arithmetic, date_diff, last_day, ISO dow,
    unix epoch, formatting."""
    return compile_once_scalar(
        _sql(
        spark,
        sf_dir,
        ["events"],
        """
SELECT event_id,
       year(ts) AS y, quarter(ts) AS q, month(ts) AS mo, day(ts) AS d,
       hour(ts) AS h, minute(ts) AS mi, second(ts) AS s,
       date_trunc('hour', ts) AS th,
       date_trunc('day', ts) AS td,
       date_trunc('month', ts) AS tm,
       ts + INTERVAL 90 MINUTE AS plus90m,
       ts - INTERVAL 3 DAY AS minus3d,
       datediff(CAST(ts AS DATE), DATE '2024-01-01') AS days_since,
       date_format(last_day(CAST(ts AS DATE)), 'yyyy-MM-dd') AS eom,
       CAST((dayofweek(ts) + 5) % 7 + 1 AS INT) AS iso_dow,
       dayofyear(ts) AS doy,
       unix_seconds(date_trunc('second', ts)) AS unix_s,
       date_format(ts, 'yyyy-MM-dd HH:mm') AS fmt
FROM events WHERE event_id % 20 = 0
""",
    )
    )


@query(
    "func_array",
    oracle="""
WITH t AS (
  SELECT o_orderkey AS k,
         generate_series(1, 1 + (o_orderkey // 100) % 5) AS arr
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT k,
       len(arr) AS n,
       arr[1] AS first_el,
       arr[len(arr)] AS last_el,
       coalesce(nullif(array_to_string(arr[2:3], ','), ''), '-') AS mid,
       list_contains(arr, 3) AS has3,
       array_to_string(list_reverse(list_sort(arr)), ',') AS sorted_desc,
       array_to_string(list_sort(list_distinct(list_concat(arr, [1::BIGINT, 2::BIGINT]))), ',') AS uniq,
       array_to_string(list_transform(arr, x -> x * 10), ',') AS x10,
       coalesce(nullif(array_to_string(list_filter(arr, x -> x % 2 = 0), ','), ''), '-') AS evens,
       CAST(list_sum(arr) AS BIGINT) AS total,
       list_max(arr) AS mx, list_min(arr) AS mn,
       array_to_string(arr, ',') AS joined,
       array_to_string(flatten([arr, [99::BIGINT]]), ',') AS flat,
       coalesce(nullif(CAST(list_position(arr, 2) AS BIGINT), 0), -1) AS pos2,
       coalesce(list_filter(arr, x -> x > 2)[1], -1) AS first_gt2
FROM t
""",
)
def func_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions (~55 Array*.java files): cardinality/element_at/
    slice/contains/sort/distinct/concat/transform/filter/aggregate/
    min/max/join/flatten/position + higher-order lambdas."""
    return compile_once_scalar(
        _sql(
        spark,
        sf_dir,
        ["orders"],
        """
WITH t AS (
  SELECT o_orderkey AS k,
         sequence(1L, 1 + (o_orderkey div 100) % 5) AS arr
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT k,
       size(arr) AS n,
       element_at(arr, 1) AS first_el,
       element_at(arr, size(arr)) AS last_el,
       coalesce(nullif(array_join(slice(arr, 2, 2), ','), ''), '-') AS mid,
       array_contains(arr, 3) AS has3,
       array_join(reverse(array_sort(arr)), ',') AS sorted_desc,
       array_join(array_sort(array_distinct(concat(arr, array(1L, 2L)))), ',') AS uniq,
       array_join(transform(arr, x -> x * 10), ',') AS x10,
       coalesce(nullif(array_join(filter(arr, x -> x % 2 = 0), ','), ''), '-') AS evens,
       aggregate(arr, 0L, (acc, x) -> acc + x) AS total,
       array_max(arr) AS mx, array_min(arr) AS mn,
       array_join(arr, ',') AS joined,
       array_join(flatten(array(arr, array(99L))), ',') AS flat,
       coalesce(nullif(CAST(array_position(arr, 2) AS BIGINT), 0L), -1L) AS pos2,
       coalesce(get(filter(arr, x -> x > 2), 0), -1L) AS first_gt2
FROM t
""",
    )
    )


@query(
    "func_map_json",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       json_extract_string(props, '$.missing') AS missing,
       map_extract(map(['a', 'b'], [1, 2]), 'a')[1] AS m_a,
       cardinality(map(['a', 'b'], [1, 2])) AS m_n,
       array_to_string(list_sort(map_keys(map(['a', 'b'], [1, 2]))), ',') AS ks,
       array_to_string(list_sort(map_values(map(['a', 'b'], [1, 2]))), ',') AS vs,
       coalesce(json_extract_string(props, '$.missing'), 'dflt') AS co,
       nullif(event_type, 'click') AS ni,
       CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS bucket,
       if(value > 50, 1, 0) AS flag
FROM events WHERE event_id % 25 = 0
""",
)
def func_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map + JSON + conditional functions (Map*.java, JsonFunctions.java):
    map construction/keys/values/cardinality/element_at,
    json_extract_scalar ≈ get_json_object, coalesce/nullif/case/if."""
    return compile_once_scalar(
        _sql(
        spark,
        sf_dir,
        ["events"],
        """
SELECT event_id,
       CAST(get_json_object(props, '$.k') AS BIGINT) AS k_val,
       get_json_object(props, '$.missing') AS missing,
       element_at(map('a', 1, 'b', 2), 'a') AS m_a,
       size(map('a', 1, 'b', 2)) AS m_n,
       array_join(array_sort(map_keys(map('a', 1, 'b', 2))), ',') AS ks,
       array_join(array_sort(map_values(map('a', 1, 'b', 2))), ',') AS vs,
       coalesce(get_json_object(props, '$.missing'), 'dflt') AS co,
       nullif(event_type, 'click') AS ni,
       CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS bucket,
       if(value > 50, 1, 0) AS flag
FROM events WHERE event_id % 25 = 0
""",
    )
    )


@query(
    "func_binary_hash",
    oracle="""
SELECT doc_id,
       md5(source) AS h_md5,
       sha256(source) AS h_sha256,
       upper(hex(encode(lang))) AS hx,
       to_base64(encode(source)) AS b64,
       decode(from_base64(to_base64(encode(source)))) AS rt
FROM documents WHERE doc_id % 10 = 0
""",
)
def func_binary_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary/crypto functions (VarbinaryFunctions.java): md5, sha256,
    hex, base64 round-trip."""
    return compile_once_scalar(
        _sql(
        spark,
        sf_dir,
        ["documents"],
        """
SELECT doc_id,
       md5(source) AS h_md5,
       sha2(source, 256) AS h_sha256,
       upper(hex(encode(lang, 'UTF-8'))) AS hx,
       base64(encode(source, 'UTF-8')) AS b64,
       decode(unbase64(base64(encode(source, 'UTF-8'))), 'UTF-8') AS rt
FROM documents WHERE doc_id % 10 = 0
""",
    )
    )


@query(
    "func_url",
    oracle="""
WITH u AS (
  SELECT doc_id, lang, source
  FROM documents WHERE doc_id % 10 = 3
)
SELECT doc_id,
       'https' AS proto,
       'host' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS host,
       CAST(8440 + doc_id % 10 AS INT) AS port,
       '/p/' || source AS path,
       'q=' || lang || '&page=' || CAST(doc_id % 7 AS VARCHAR) AS query,
       lang AS q_param
FROM u
""",
)
def func_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL functions (UrlFunctions.java): protocol/host/port/path/query/
    parameter extraction via parse_url (oracle reconstructs the parts
    arithmetically — DuckDB has no URL parser, which is the point:
    this surface is engine-side)."""
    return compile_once_scalar(
        _sql(
        spark,
        sf_dir,
        ["documents"],
        """
WITH u AS (
  SELECT doc_id,
         concat('https://host', CAST(doc_id % 5 AS STRING), '.example.com:844',
                CAST(doc_id % 10 AS STRING), '/p/', source, '?q=', lang,
                '&page=', CAST(doc_id % 7 AS STRING), '#frag') AS url
  FROM documents WHERE doc_id % 10 = 3
)
SELECT doc_id,
       parse_url(url, 'PROTOCOL') AS proto,
       parse_url(url, 'HOST') AS host,
       CAST(split_part(parse_url(url, 'AUTHORITY'), ':', 2) AS INT) AS port,
       parse_url(url, 'PATH') AS path,
       parse_url(url, 'QUERY') AS query,
       parse_url(url, 'QUERY', 'q') AS q_param
FROM u
""",
    )
    )


_WILSON = (
    "(successes + z * z / 2) / (trials + z * z) {sign} z / (trials + z * z)"
    " * sqrt(successes * (trials - successes) / CAST(trials AS DOUBLE) + z * z / 4)"
)


def _sql_wilson(sign: str, succ: str, trials: str, z: str) -> str:
    return (
        _WILSON.format(sign=sign)
        .replace("successes", succ)
        .replace("trials", trials)
        .replace("z", z)
    )


@query(
    "func_presto_compat",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, source, n_chars,
         CAST([n_chars, 2, 4] AS DOUBLE[]) AS arr,
         [lang, 'en', lang] AS sarr
  FROM documents WHERE doc_id % 10 = 0
)
SELECT doc_id,
       hamming(lang, 'en') AS hd,
       levenshtein(source, 'src1') AS lev,
       ascii(substr(lang, 1, 1)) AS cp,
       CAST(instr(source, 'rc') AS BIGINT) AS sp,
       lower(hex(doc_id + 5)) AS b16,
       CAST(doc_id + 5 AS BIGINT) AS b10,
       CAST(len(sarr) AS INT) AS card,
       list_contains(sarr, 'en') AS has_en,
       len(list_intersect(sarr, ['en', 'xx'])) > 0 AS ov,
       CAST(list_sum(arr) AS DOUBLE) AS asum,
       CAST(list_sum(arr) / len(list_filter(arr, v -> v IS NOT NULL)) AS DOUBLE) AS aavg,
       array_to_string(list_transform(generate_series(1, len(arr)),
                                      i -> CAST(CAST(list_sum(arr[1:i]) AS DECIMAL(24,6)) AS VARCHAR)), ',') AS acum,
       array_to_string(list_transform(arr,
                                      v -> CAST(CAST(v / list_sum(list_transform(arr, x -> abs(x))) AS DECIMAL(24,6)) AS VARCHAR)), ',') AS anorm,
       len(sarr) <> len(list_distinct(sarr)) AS adup,
       array_to_string(list_distinct(list_filter(sarr, x -> len(list_filter(sarr, y -> y = x)) > 1)), ',') AS adups,
       array_to_string(list_transform(generate_series(1, len(sarr) - 1), i -> array_to_string(sarr[i:i+1], ' ')), ',') AS ng,
       array_to_string(sarr[1:len(sarr) - 1], ',') AS tarr,
       list_filter(sarr, x -> x = 'de')[1] AS ff,
       CAST(coalesce(list_position(sarr, 'de'), 0) AS BIGINT) AS ffi,
       {_sql_wilson('-', '(doc_id % 100 + 1)', '200', '1.96')} AS wl,
       {_sql_wilson('+', '(doc_id % 100 + 1)', '200', '1.96')} AS wu,
       (arr[1] * 2.0 + arr[2] * 1.0 + arr[3] * 1.0)
         / (sqrt(arr[1] * arr[1] + arr[2] * arr[2] + arr[3] * arr[3])
            * sqrt(2.0 * 2.0 + 1.0 * 1.0 + 1.0 * 1.0)) AS cossim,
       hex(lang) AS hx,
       lang AS rt,
       3 AS jsz,
       list_contains(['en', 'de'], lang) AS jac,
       '3' AS msub,
       0.75 AS mnorm,
       'a,b' AS mm,
       CAST(-2.0 AS DOUBLE) AS tr,
       true AS isn, true AS isi, true AS isf,
       CAST(isodow(TIMESTAMP '2024-01-01' + to_days(CAST(doc_id % 7 AS INT))) AS INT) AS dw,
       list_contains(sarr, 'en') AS cc,
       'a+b%26c' AS ue,
       'a b&c' AS ud
FROM t
""",
)
def func_presto_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presto-named compat UDFs (functions/compat.py, ≈30 of them) driven
    through the SQL entry point: hamming_distance, codepoint, strpos,
    from_base/to_base, array_sum/average/cum_sum/normalize/duplicates,
    ngrams, trim_array, find_first(_index), wilson_interval_*,
    cosine_similarity_arrays, to/from_hex, to/from_utf8, json_size,
    json_array_contains, map_subset/map_normalize/multimap_from_entries,
    truncate, is_nan/is_finite/is_infinite, nan()/infinity().

    Reference: the matching scalar files in operator/scalar/ (SURVEY
    §2.9); registration BuiltInTypeAndFunctionNamespaceManager.java.
    The oracle recomputes every value in DuckDB spellings (or literal
    ground truth where DuckDB lacks the construct — map element access
    semantics differ, so map outputs are extracted to scalars).
    """
    from ..functions import SQL_UDFS, ensure_macros

    ensure_macros(spark, SQL_UDFS)
    return compile_once_scalar(
        _sql(
        spark,
        sf_dir,
        ["documents"],
        """
WITH t AS (
  SELECT doc_id, lang, source, n_chars,
         array(CAST(n_chars AS DOUBLE), 2.0D, 4.0D) AS arr,
         array(lang, 'en', lang) AS sarr
  FROM documents WHERE doc_id % 10 = 0
)
SELECT doc_id,
       hamming_distance(lang, 'en') AS hd,
       CAST(levenshtein_distance(source, 'src1') AS BIGINT) AS lev,
       CAST(codepoint(substr(lang, 1, 1)) AS INT) AS cp,
       strpos(source, 'rc') AS sp,
       to_base(doc_id + 5, 16) AS b16,
       from_base(to_base(doc_id + 5, 16), 16) AS b10,
       cardinality(sarr) AS card,
       array_contains(sarr, 'en') AS has_en,
       arrays_overlap_compat(sarr, array('en', 'xx')) AS ov,
       array_sum(arr) AS asum,
       array_average(arr) AS aavg,
       array_join(transform(array_cum_sum(arr),
                            x -> CAST(CAST(x AS DECIMAL(24,6)) AS STRING)), ',') AS acum,
       array_join(transform(array_normalize(arr, 1.0D),
                            x -> CAST(CAST(x AS DECIMAL(24,6)) AS STRING)), ',') AS anorm,
       array_has_duplicates(sarr) AS adup,
       array_join(array_duplicates(sarr), ',') AS adups,
       array_join(transform(ngrams(sarr, 2), g -> array_join(g, ' ')), ',') AS ng,
       array_join(trim_array(sarr, 1), ',') AS tarr,
       find_first(sarr, 'de') AS ff,
       find_first_index(sarr, 'de') AS ffi,
       wilson_interval_lower(CAST(doc_id % 100 AS BIGINT) + 1, 200, 1.96D) AS wl,
       wilson_interval_upper(CAST(doc_id % 100 AS BIGINT) + 1, 200, 1.96D) AS wu,
       cosine_similarity_arrays(arr, array(2.0D, 1.0D, 1.0D)) AS cossim,
       to_hex(to_utf8(lang)) AS hx,
       from_utf8(from_hex(to_hex(to_utf8(lang)))) AS rt,
       json_size('{"a":[1,2,3]}', '$.a') AS jsz,
       json_array_contains_str('["en","de"]', lang) AS jac,
       map_subset(map('a', '1', 'b', '2', 'c', '3'), array('a', 'c'))['c'] AS msub,
       map_normalize(map('a', 1.0D, 'b', 3.0D))['b'] AS mnorm,
       array_join(multimap_from_entries(array(named_struct('k', 'k1', 'v', 'a'),
                                              named_struct('k', 'k1', 'v', 'b'),
                                              named_struct('k', 'k2', 'v', lang)))['k1'], ',') AS mm,
       truncate(-2.7D) AS tr,
       is_nan(nan()) AS isn,
       is_infinite(infinity()) AS isi,
       is_finite(CAST(n_chars AS DOUBLE)) AS isf,
       day_of_week(timestampadd(DAY, CAST(doc_id % 7 AS INT), TIMESTAMP '2024-01-01')) AS dw,
       contains_compat(sarr, 'en') AS cc,
       url_encode('a b&c') AS ue,
       url_decode(url_encode('a b&c')) AS ud
FROM t
""",
    )
    )


# ---------------------------------------------------------------------------
# Specialty domains (SURVEY §2.9 last bullet): ipaddress (IPv4 subset,
# IpPrefixFunctions.java), durations/data sizes (parse_duration,
# DataSizeFunctions.java), Teradata char2hexint, lambda find_first
# (ArrayFindFirstFunction.java).
# ---------------------------------------------------------------------------
@query(
    "func_specialty",
    oracle="""
WITH t AS (
  SELECT c_custkey,
         '10.' || CAST(c_custkey % 200 AS VARCHAR) || '.' ||
         CAST((c_custkey * 7) % 256 AS VARCHAR) || '.' ||
         CAST((c_custkey * 13) % 256 AS VARCHAR) AS ip,
         CAST(8 + c_custkey % 17 AS INT) AS p,
         CAST(c_custkey % 50 AS VARCHAR) || 'm' AS dur,
         CAST(c_custkey % 9 AS VARCHAR) || 'MB' AS ds,
         right(c_name, 2) AS tail2,
         list_value(CAST((c_custkey * 3) % 10 AS BIGINT),
                    CAST((c_custkey * 7) % 10 AS BIGINT),
                    CAST((c_custkey * 11) % 10 AS BIGINT)) AS digits
  FROM customer WHERE c_custkey % 30 = 0
),
ipm AS (
  SELECT t.*,
         CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
         + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
         + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
         + CAST(string_split(ip, '.')[4] AS BIGINT) AS ipl,
         CAST(pow(2, 32 - p) AS BIGINT) AS msize
  FROM t
),
ipn AS (SELECT ipm.*, (ipl // msize) * msize AS net FROM ipm)
SELECT c_custkey, ip, p,
       CAST(net // 16777216 AS VARCHAR) || '.' ||
       CAST((net // 65536) % 256 AS VARCHAR) || '.' ||
       CAST((net // 256) % 256 AS VARCHAR) || '.' ||
       CAST(net % 256 AS VARCHAR) || '/' || CAST(p AS VARCHAR) AS prefix,
       CAST((net + msize - 1) // 16777216 AS VARCHAR) || '.' ||
       CAST(((net + msize - 1) // 65536) % 256 AS VARCHAR) || '.' ||
       CAST(((net + msize - 1) // 256) % 256 AS VARCHAR) || '.' ||
       CAST((net + msize - 1) % 256 AS VARCHAR) AS subnet_max,
       (ipl BETWEEN net AND net + msize - 1) AS in_own_subnet,
       CAST(regexp_extract(dur, '^\\s*([0-9.]+)', 1) AS DOUBLE) * 60.0 AS dur_secs,
       CAST(regexp_extract(ds, '^\\s*([0-9.]+)', 1) AS DOUBLE) * 1048576.0 AS ds_bytes,
       list_filter(digits, x -> x > 4)[1] AS ff_digit,
       printf('%04X%04X', ascii(substr(tail2, 1, 1)), ascii(substr(tail2, 2, 1)))
         AS hex16
FROM ipn
""",
)
def func_specialty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ip_prefix/ip_subnet_max/is_subnet_of (generated v4+v6 Catalyst
    macros), parse_duration, parse_presto_data_size, char2hexint, lambda
    find_first — all inlined into whole-stage codegen.  The oracle
    spells the same bit math with DuckDB's list/string toolkit.

    The prefix is computed once in an inner SELECT: the macro bodies are
    sizeable trees, and nesting ip_prefix inside ip_subnet_max /
    is_subnet_of would re-inline it three times — pure Catalyst planning
    overhead (execution is identical)."""
    from pyspark.sql import functions as F

    from ..functions import register_all
    from ..functions.presto import find_first

    from ..dialect import transpile

    register_all(spark)  # no-op when the session is already registered
    t = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 30 == 0)
        .select(
            "c_custkey",
            F.concat(
                F.lit("10."),
                (F.col("c_custkey") % 200).cast("string"),
                F.lit("."),
                ((F.col("c_custkey") * 7) % 256).cast("string"),
                F.lit("."),
                ((F.col("c_custkey") * 13) % 256).cast("string"),
            ).alias("ip"),
            (F.lit(8) + F.col("c_custkey") % 17).cast("int").alias("p"),
            F.concat((F.col("c_custkey") % 50).cast("string"), F.lit("m")).alias("dur"),
            F.concat((F.col("c_custkey") % 9).cast("string"), F.lit("MB")).alias("ds"),
            F.substring(F.col("c_name"), -2, 2).alias("tail2"),
            F.array(
                (F.col("c_custkey") * 3) % 10,
                (F.col("c_custkey") * 7) % 10,
                (F.col("c_custkey") * 11) % 10,
            ).alias("digits"),
        )
    )
    t.createOrReplaceTempView("_specialty_t")
    # transpile() inlines the ip_* macro bodies at the call sites —
    # bypassing ResolveSQLFunctions' per-call body re-analysis, the
    # dominant cost of this query's plan time (round-5 VERDICT ask #4)
    out = spark.sql(
        transpile(
            """
SELECT c_custkey, ip, p,
       prefix,
       ip_subnet_max(prefix) AS subnet_max,
       is_subnet_of(prefix, ip) AS in_own_subnet,
       parse_duration(dur) AS dur_secs,
       parse_presto_data_size(ds) AS ds_bytes,
       char2hexint(tail2) AS hex16,
       digits
FROM (SELECT *, ip_prefix(ip, p) AS prefix FROM _specialty_t)
"""
        )
    )
    return compile_once_scalar(
        out.withColumn(
        "ff_digit", find_first(F.col("digits"), lambda x: x > 4)
    ).drop("digits")
    )


# ---------------------------------------------------------------------------
@query(
    "func_i18n_color",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, source,
         (regexp_split_to_array(trim(text), '\\s+'))[1] AS tk1
  FROM documents WHERE doc_id % 97 = 0
)
SELECT doc_id,
       nfc_normalize('e' || chr(769) || lang) AS nfc,
       length(lang) + 2 AS nfd_len,
       '1' || lang AS nfkc,
       {{stem_lang}} AS stem_lang,
       {{stem_src}} AS stem_src,
       {{stem_tk}} AS stem_tk,
       (doc_id % 256) * 65536 + 100 * 256 + 50 AS rgbint,
       16746496 AS colorint,
       chr(27) || '[38;5;214m' || lang || chr(27) || '[0m' AS rendered,
       {{bar10}} AS bar10
FROM t
""".format(
        stem_lang=__import__(
            "presto_copy_spark.functions.presto", fromlist=["sql_word_stem"]
        ).sql_word_stem("(lang || 'ies')"),
        stem_src=__import__(
            "presto_copy_spark.functions.presto", fromlist=["sql_word_stem"]
        ).sql_word_stem("(source || 'ing')"),
        stem_tk=__import__(
            "presto_copy_spark.functions.presto", fromlist=["sql_word_stem"]
        ).sql_word_stem("tk1"),
        bar10=__import__(
            "presto_copy_spark.functions.presto", fromlist=["sql_bar"]
        ).sql_bar("(doc_id % 11) / 10.0", 10),
    ),
)
def func_i18n_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i18n + color scalar surface: normalize (NFC/NFD/NFKC via the
    Arrow-batched unicodedata pandas UDF), word_stem (deterministic
    suffix heuristic; reference wraps Lucene, WordStemFunction.java),
    rgb/color packed ints, render() ANSI truecolor, and bar() with
    per-character red->green interpolation (ColorFunctions.java:bar).

    The oracle replays everything literally except normalize forms
    DuckDB lacks (NFD/NFKC), which are pinned by construction: NFD of a
    precomposed accent has length+1, NFKC of a circled digit is the
    plain digit."""
    from ..functions.presto import (
        bar,
        color,
        normalize_string,
        render_color,
        rgb,
        word_stem,
    )
    from ..operators.text import tokens

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 97 == 0)
    decomp = F.concat(F.lit("é"), F.col("lang"))  # e + combining acute
    comp = F.concat(F.lit("é"), F.col("lang"))  # precomposed
    circled = F.concat(F.lit("①"), F.col("lang"))  # ① -> NFKC '1'
    tk1 = F.element_at(tokens(F.col("text")), 1)
    return compile_once_scalar(
        d.select(
        "doc_id",
        normalize_string(decomp, "NFC").alias("nfc"),
        F.length(normalize_string(comp, "NFD")).alias("nfd_len"),
        normalize_string(circled, "NFKC").alias("nfkc"),
        word_stem(F.concat(F.col("lang"), F.lit("ies"))).alias("stem_lang"),
        word_stem(F.concat(F.col("source"), F.lit("ing"))).alias("stem_src"),
        word_stem(tk1).alias("stem_tk"),
        rgb(F.col("doc_id") % 256, F.lit(100), F.lit(50)).alias("rgbint"),
        color("#ff8800").alias("colorint"),
        render_color(F.col("lang"), color("#ff8800")).alias("rendered"),
        bar((F.col("doc_id") % 11) / 10.0, 10).alias("bar10"),
    )
    )


# ---------------------------------------------------------------------------
@query(
    "func_tier2_arrays_maps",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, source,
         [n_chars % 5, 7, NULL, CAST(doc_id % 3 AS INT)] AS arr,
         [lang, lang, source, 'zz'] AS rep,
         [lang, source, 'xx'] AS sarr,
         CAST(doc_id % 7 AS INT) AS v1,
         CAST(doc_id % 5 AS INT) AS v2,
         CAST(doc_id % 3 AS INT) AS v3
  FROM documents WHERE doc_id % 13 = 0
)
SELECT doc_id,
       array_to_string(list_sort(list_filter(arr, x -> x IS NOT NULL), 'DESC'), ',') AS sd,
       array_to_string((list_sort(list_filter(arr, x -> x IS NOT NULL), 'DESC'))[1:2], ',') AS top2,
       array_to_string((list_sort([source, 'zz']))[1:2], ',') AS lf2,
       (list_sort(list_transform(sarr, s -> {'l': length(s), 's': s}), 'DESC'))[1]['s'] AS amax,
       (list_sort(list_transform(sarr, s -> {'l': length(s), 's': s})))[1]['s'] AS amin,
       array_to_string((list_sort(['k1', lang, source], 'DESC'))[1:2], ',') AS tkeys,
       array_to_string(list_transform((list_sort([{'v': v1, 'k': 'k1'}, {'v': v2, 'k': lang},
                                  {'v': v3, 'k': source}], 'DESC'))[1:2],
                      s -> s['k']), ',') AS kbv,
       len(list_filter([v1, v2, v3], v -> v > 3)) > 0 AS avm,
       len(list_filter([v1, v2, v3], v -> v > 10)) = 0 AS nvm,
       CASE WHEN instr(source, 'rc') = 0 THEN source
            ELSE substr(source, 1, instr(source, 'rc') - 1) || '__'
                 || substr(source, instr(source, 'rc') + 2) END AS rf,
       reverse(substr(reverse(source), 1, 3)) AS tr,
       """
    + __import__(
        "presto_copy_spark.functions.presto", fromlist=["sql_key_sampling_percent"]
    ).sql_key_sampling_percent("lang")
    + """ AS ksp
FROM t
""",
)
def func_tier2_arrays_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-2 SQL-invoked scalar surface (ArraySqlFunctions /
    MapSqlFunctions / StringSqlFunctions / SimpleSamplingPercent):
    array_sort_desc, array_top_n, array_least_frequent, array_min_by /
    array_max_by (lambda), map_top_n_keys, map_keys_by_top_n_values,
    any/no_values_match, replace_first, trail, key_sampling_percent —
    every output replayed literally by the DuckDB oracle (lists, struct
    sorts, and the md5 sampling hash are engine-portable)."""
    from ..functions.presto import (
        any_values_match,
        array_least_frequent,
        array_max_by,
        array_min_by,
        array_sort_desc,
        array_top_n,
        key_sampling_percent,
        map_keys_by_top_n_values,
        map_top_n_keys,
        no_values_match,
        remove_nulls,
        replace_first,
        trail,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 13 == 0)
    arr = F.array(
        (F.col("n_chars") % 5).cast("int"),
        F.lit(7),
        F.lit(None).cast("int"),
        (F.col("doc_id") % 3).cast("int"),
    )
    rep = F.array(F.col("lang"), F.col("lang"), F.col("source"), F.lit("zz"))
    sarr = F.array(F.col("lang"), F.col("source"), F.lit("xx"))
    v1 = (F.col("doc_id") % 7).cast("int")
    v2 = (F.col("doc_id") % 5).cast("int")
    v3 = (F.col("doc_id") % 3).cast("int")
    m = F.create_map(F.lit("k1"), v1, F.col("lang"), v2, F.col("source"), v3)
    def _joined(col: Column) -> Column:
        # Driver hashability contract: serialize array outputs to CSV
        # strings (both sides — the oracle uses array_to_string).
        return F.array_join(F.transform(col, lambda e: e.cast("string")), ",")

    return compile_once_scalar(d.select(
        "doc_id",
        _joined(array_sort_desc(remove_nulls(arr))).alias("sd"),
        _joined(array_top_n(arr, 2)).alias("top2"),
        _joined(array_least_frequent(rep, 2)).alias("lf2"),
        array_max_by(sarr, lambda s: F.length(s)).alias("amax"),
        array_min_by(sarr, lambda s: F.length(s)).alias("amin"),
        _joined(map_top_n_keys(m, 2)).alias("tkeys"),
        _joined(map_keys_by_top_n_values(m, 2)).alias("kbv"),
        any_values_match(m, lambda v: v > 3).alias("avm"),
        no_values_match(m, lambda v: v > 10).alias("nvm"),
        replace_first(F.col("source"), "rc", "__").alias("rf"),
        trail(F.col("source"), 3).alias("tr"),
        key_sampling_percent(F.col("lang")).alias("ksp"),
    ))
