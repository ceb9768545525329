"""Round-7 fidelity pins, batch 4 (sweep 28): byte-length semantics,
bin over strings, ngram multiset distance/search, interval month-end
clamping, UTF8 family, arrayEnumerate*, encodings, dateName, Julian
day — values from published ClickHouse documentation examples;
jaro values cross-checked against DuckDB's implementations."""
from __future__ import annotations

import pytest

from clickhouse_from_scratch_spark.plans import execute_sql


def rows(spark, sql):
    return [tuple(r) for r in execute_sql(spark, sql, {}).collect()]


def one(spark, sql):
    return rows(spark, sql)[0]


def test_length_counts_bytes_lengthutf8_codepoints(spark):
    # docs string-functions#length: bytes, not code points
    assert one(spark, "SELECT length('héllo') AS b, "
               "lengthUTF8('héllo') AS c, length('abc') AS a") \
        == (6, 5, 3)


def test_bin_string_byte_dump(spark):
    assert one(spark, "SELECT bin('a') AS a, bin('ab') AS b, "
               "unbin(bin('a')) AS r") \
        == ('01100001', '0110000101100010', 'a')


def test_ngram_distance_multiset(spark):
    # docs: ngramDistance('ClickHouse','clickhouse') = 0.71428573
    a, b, c = one(spark, "SELECT ngramDistance('ClickHouse', "
                  "'clickhouse') AS a, ngramDistance('ClickHouse', "
                  "'ClickHouse') AS b, "
                  "ngramDistanceCaseInsensitive('ClickHouse', "
                  "'clickhouse') AS c")
    assert a == pytest.approx(0.714285714)
    assert b == 0.0 and c == 0.0


def test_ngram_search_needle_fraction(spark):
    a, b = one(spark, "SELECT ngramSearch('hello world', 'hello') AS a, "
               "ngramSearchCaseInsensitive('Hello World', 'hello') AS b")
    assert a == 1.0 and b == 1.0


def test_jaro_values_match_duckdb(spark):
    a, b = one(spark, "SELECT jaroSimilarity('stringdistance', "
               "'srtingdistence') AS a, jaroWinklerSimilarity("
               "'stringdistance', 'srtingdistence') AS b")
    assert a == pytest.approx(0.9010989010989011)
    assert b == pytest.approx(0.910989010989011)


def test_interval_month_end_clamp(spark):
    assert one(spark, "SELECT toString(addMonths(toDate('2024-01-31'), 1)) "
               "AS a, toString(addMonths(toDate('2023-01-31'), 1)) AS b, "
               "toString(addYears(toDate('2024-02-29'), 1)) AS c, "
               "toString(addQuarters(toDate('2023-11-30'), 1)) AS d") \
        == ('2024-02-29', '2023-02-28', '2025-02-28', '2024-02-29')


def test_utf8_family_values(spark):
    assert one(spark, "SELECT substringUTF8('привет', 2, 3) AS a, "
               "leftUTF8('привет', 3) AS b, rightUTF8('привет', 3) AS c, "
               "reverseUTF8('abc д') AS d, upperUTF8('münchen') AS e") \
        == ('рив', 'при', 'вет', 'д cba', 'MÜNCHEN')


def test_array_enumerate_family(spark):
    a, b, c = one(spark, "SELECT arrayEnumerate([10,20,30]) AS a, "
                  "arrayEnumerateUniq([10,20,10,30,10]) AS b, "
                  "arrayEnumerateDense([10,20,10,30]) AS c")
    assert list(a) == [1, 2, 3]
    assert list(b) == [1, 1, 2, 1, 3]
    assert list(c) == [1, 2, 1, 3]


def test_encoding_round_trips(spark):
    assert one(spark, "SELECT base64Encode('clickhouse') AS a, "
               "base58Encode('Encoded') AS b, "
               "base58Decode('3dc8KtHrwM') AS c, "
               "tryBase64Decode('invalid!!') AS d, "
               "unhex(hex('abc')) AS e") \
        == ('Y2xpY2tob3VzZQ==', '3dc8KtHrwM', 'Encoded', '', 'abc')


def test_tuple_arithmetic_family(spark):
    a, b, c, d = one(spark, "SELECT tuplePlus((1, 2), (2, 3)) AS a, "
                     "tupleMultiply((1, 2), (2, 3)) AS b, "
                     "tupleDivide((1, 2), (2, 3)) AS c, "
                     "tupleNegate((1, 2)) AS d")
    assert tuple(a) == (3, 5) and tuple(b) == (2, 6)
    assert c[0] == 0.5 and c[1] == pytest.approx(2 / 3)
    assert tuple(d) == (-1, -2)
    e, f, g = one(spark, "SELECT tupleIntDiv((15, 10, 5), (5, 5, 5)) "
                  "AS e, tupleModulo((15, 10, 5), (5, 3, 2)) AS f, "
                  "tupleHammingDistance((1, 2, 3), (3, 2, 1)) AS g")
    assert tuple(e) == (3, 2, 1) and tuple(f) == (0, 1, 1) and g == 2
    h, = one(spark, "SELECT tupleConcat((1, 2), tuple('a')) AS h")
    assert tuple(h) == (1, 2, 'a')
    # a non-Tuple argument is a named error, never a Spark analysis leak
    from clickhouse_from_scratch_spark.plans.builder import BuildError
    for bad in ("tuplePlus(tuple(1, 2), 3)", "tupleMinus(3, (1, 2))",
                "tupleHammingDistance((1, 2), 3)", "tupleNegate(5)",
                "tupleMultiplyByNumber(2, 3)", "tupleConcat((1, 2), 3)"):
        with pytest.raises(BuildError, match="must be Tuples"):
            one(spark, f"SELECT {bad} AS x")


def test_bit_rotate_width_aware(spark):
    # UInt8 literal width: bitRotateLeft(129,1) wraps the high bit
    assert one(spark, "SELECT bitRotateLeft(3, 4) AS a, "
               "bitRotateLeft(129, 1) AS b, bitRotateRight(3, 1) AS c, "
               "bitRotateLeft(toUInt32(1), 31) AS d, "
               "bitRotateLeft(toUInt16(32769), 1) AS e") \
        == (48, 3, 129, 2147483648, 3)


def test_quantile_exclusive_inclusive(spark):
    a, b = one(spark, "SELECT quantileExactExclusive(0.6)(number) AS a, "
               "quantileExactInclusive(0.6)(number) AS b "
               "FROM numbers(1, 10)")
    assert a == pytest.approx(6.6) and b == pytest.approx(6.4)
    c, d = one(spark, "SELECT quantilesExactExclusive(0.25, 0.5, 0.75)"
               "(number) AS c, quantilesExactInclusive(0.25, 0.5, 0.75)"
               "(number) AS d FROM numbers(1, 11)")
    assert list(c) == [3.0, 6.0, 9.0] and list(d) == [3.5, 6.0, 8.5]


def test_normalize_utf8_forms(spark):
    assert one(spark, "SELECT lengthUTF8(normalizeUTF8NFD('é')) AS a, "
               "lengthUTF8(normalizeUTF8NFC(normalizeUTF8NFD('é'))) AS b, "
               "normalizeUTF8NFKC('ﬁ') AS c, normalizeUTF8NFKD('²') AS d") \
        == (2, 1, 'fi', '2')


def test_damerau_levenshtein(spark):
    # transposition counts once; values match DuckDB damerau_levenshtein
    assert one(spark, "SELECT damerauLevenshteinDistance('clickhouse', "
               "'mouse') AS a, damerauLevenshteinDistance('ab', 'ba') AS b, "
               "damerauLevenshteinDistance('ca', 'abc') AS c") == (6, 1, 2)


def test_map_key_like_helpers(spark):
    a, b, c = one(spark, "SELECT mapContainsKeyLike(map('abc', 1, "
                  "'def', 2), 'a%') AS a, mapContainsKeyLike(map('abc', 1"
                  ", 'def', 2), 'x%') AS b, mapExtractKeyLike(map("
                  "'abc', 1, 'abe', 2, 'def', 3), 'ab%') AS c")
    assert (a, b) == (1, 0) and dict(c) == {'abc': 1, 'abe': 2}


def test_extract_all_groups_orientations(spark):
    h, v = one(spark, r"""SELECT
        extractAllGroupsHorizontal('abc=111, def=222', '(\\w+)=(\\w+)') AS h,
        extractAllGroupsVertical('abc=111, def=222', '(\\w+)=(\\w+)') AS v""")
    assert [list(g) for g in h] == [['abc', 'def'], ['111', '222']]
    assert [list(g) for g in v] == [['abc', '111'], ['def', '222']]


def test_uuid_renders_lowercase(spark):
    assert one(spark, "SELECT UUIDNumToString(UUIDStringToNum("
               "'612F3C40-5D3B-217E-707B-6A546A3D7B29')) AS a, "
               "toUUID('61F0C404-5CB3-11E7-907B-A6006AD3DBA0') AS b") \
        == ('612f3c40-5d3b-217e-707b-6a546a3d7b29',
            '61f0c404-5cb3-11e7-907b-a6006ad3dba0')


def test_geo_distances(spark):
    # docs example (args are LON, LAT): sphere R=6371 km
    a, b, c = one(spark, "SELECT greatCircleDistance(55.755831, "
                  "37.617673, -55.755831, -37.617673) AS a, "
                  "geoDistance(-77.0366, 38.8976, -75.1503, 39.9496) "
                  "AS b, greatCircleAngle(0, 0, 45, 0) AS c")
    assert a == pytest.approx(14128352, rel=1e-4)
    # DC->Philadelphia WGS84 geodesic = 199830 m (Vincenty): the FCC
    # ellipsoid path must beat the sphere's 0.35% error
    assert b == pytest.approx(199830, rel=2e-3)
    assert c == pytest.approx(45.0)


def test_ipv4_ipv6_cidr_ranges(spark):
    lo, hi, v6 = one(spark, "SELECT toString(tupleElement("
                     "IPv4CIDRToRange(toIPv4('192.168.5.2'), 16), 1)) "
                     "AS lo, toString(tupleElement(IPv4CIDRToRange("
                     "toIPv4('192.168.5.2'), 16), 2)) AS hi, "
                     "toString(tupleElement(IPv6CIDRToRange(toIPv6("
                     "'2001:0db8:0000:85a3:0000:0000:ac1f:8001'), 32), "
                     "1)) AS v6")
    assert (lo, hi, v6) == ('192.168.0.0', '192.168.255.255',
                            '2001:db8::')


def test_reinterpret_and_mac(spark):
    assert one(spark, "SELECT reinterpretAsString(97) AS a, "
               "reinterpretAsString(25185) AS b, "
               "reinterpretAsUInt8(reinterpretAsString(97)) AS c, "
               "MACNumToString(1108152157446) AS d, "
               "MACStringToNum('01:02:03:04:05:06') AS e") \
        == ('a', 'ab', 97, '01:02:03:04:05:06', 1108152157446)


def test_point_in_ellipses(spark):
    assert one(spark, "SELECT pointInEllipses(10., 10., 10., 9.1, 1., "
               "0.9999) AS a, pointInEllipses(10., 10., 10., 8., 1., "
               "0.9999) AS b") == (1, 0)


def test_array_flatten_all_levels(spark):
    # docs array-functions#flatten: every nesting level unrolls
    a, b = one(spark, "SELECT arrayFlatten([[[1]], [[2], [3]]]) AS a, "
               "flatten([[1, 2], [3]]) AS b")
    assert list(a) == [1, 2, 3] and list(b) == [1, 2, 3]


def test_window_fn_breadth(spark):
    nt, = one(spark, "SELECT groupArray(nt) AS x FROM (SELECT ntile(3) "
              "OVER (ORDER BY number) AS nt FROM numbers(6))")
    assert list(nt) == [1, 1, 2, 2, 3, 3]
    nv, = one(spark, "SELECT groupArray(nv) AS x FROM (SELECT "
              "nth_value(number, 2) OVER (ORDER BY number ROWS BETWEEN "
              "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nv "
              "FROM numbers(3))")
    assert list(nv) == [1, 1, 1]


def test_interval_aggregates(spark):
    # docs: intervalLengthSum of [1.1,2.9],[2.5,3.2],[4,4] = 2.1;
    # maxIntersections of [1,4],[2,5],[3,6] = 3
    a, = one(spark, "SELECT round(intervalLengthSum(s, e), 1) AS x "
             "FROM (SELECT arrayJoin([(1.1, 2.9), (2.5, 3.2), "
             "(4.0, 4.0)]) AS seg, seg.1 AS s, seg.2 AS e)")
    b, = one(spark, "SELECT maxIntersections(s, e) AS x FROM (SELECT "
             "arrayJoin([(1, 4), (2, 5), (3, 6)]) AS seg, seg.1 AS s, "
             "seg.2 AS e)")
    assert a == 2.1 and b == 3


def test_moments_match_population_formulas(spark):
    # numpy cross-check: [1,2,3,4,10] -> skewPop 1.138420, kurtPop 2.788
    s, k = one(spark, "SELECT round(skewPop(x), 6) AS s, "
               "round(kurtPop(x), 6) AS k FROM (SELECT "
               "arrayJoin([1, 2, 3, 4, 10]) AS x)")
    assert s == pytest.approx(1.138420, abs=2e-6)
    assert k == pytest.approx(2.788, abs=2e-6)


def test_snowflake_converters(spark):
    # docs example instant (18:57:56 Asia/Shanghai = 10:57:56 UTC)
    a, b = one(spark, "SELECT dateTimeToSnowflake(toDateTime("
               "'2021-08-15 10:57:56')) AS a, toString("
               "snowflakeToDateTime(1426860702823350272)) AS b")
    assert a == 1426860702823350272
    assert b == "2021-08-15 10:57:56"


def test_unix64_round_trip(spark):
    a, b = one(spark, "SELECT toUnixTimestamp64Milli(toDateTime64("
               "'2009-02-13 23:31:31.011', 3)) AS a, toString("
               "fromUnixTimestamp64Milli(1234567891011)) AS b")
    assert a == 1234567891011 and b == "2009-02-13 23:31:31.011"


def test_parametric_quantile_combinators(spark):
    """-If/-OrNull/-Array stack on the parametric quantile family."""
    a, = one(spark, "SELECT quantileExactExclusiveIf(0.6)(number, "
             "number > 0) AS x FROM numbers(11)")
    assert a == pytest.approx(6.6)
    b, = one(spark, "SELECT quantileExactExclusiveOrNull(0.5)(number) "
             "AS x FROM numbers(0)")
    assert b is None
    c, = one(spark, "SELECT quantileExactInclusiveArray(0.5)"
             "([1, 2, 3, 4]) AS x")
    assert c == pytest.approx(2.5)
    d, = one(spark, "SELECT quantileOrNull(0.5)(number) AS x "
             "FROM numbers(5)")
    assert d == pytest.approx(2.0)


def test_dict_hierarchy_functions(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE hsrc (id UInt64, name String, "
                 "parent UInt64) ENGINE = Memory")
    sess.execute("INSERT INTO hsrc VALUES (1, 'one', 0), (2, 'two', 1), "
                 "(3, 'three', 2), (4, 'four', 1)")
    sess.execute("CREATE DICTIONARY hd (id UInt64, name String, "
                 "parent UInt64 HIERARCHICAL) PRIMARY KEY id "
                 "SOURCE(CLICKHOUSE(TABLE 'hsrc')) LAYOUT(HASHED()) "
                 "LIFETIME(300)")
    h, = [tuple(r) for r in sess.execute(
        "SELECT dictGetHierarchy('hd', toUInt64(3)) AS x").collect()][0]
    assert list(h) == [3, 2, 1]
    r = sess.execute("SELECT dictIsIn('hd', toUInt64(3), toUInt64(1)) "
                     "AS a, dictIsIn('hd', toUInt64(3), toUInt64(4)) "
                     "AS b").collect()[0]
    assert (r.a, r.b) == (1, 0)
    c, = [tuple(r) for r in sess.execute(
        "SELECT dictGetChildren('hd', toUInt64(1)) AS x").collect()][0]
    assert list(c) == [2, 4]


def test_date_name_and_julian(spark):
    assert one(spark, "SELECT dateName('weekday', toDate('2024-02-29')) "
               "AS a, monthName(toDate('2024-02-29')) AS b, "
               "toModifiedJulianDay('2020-01-01') AS c, "
               "toString(fromModifiedJulianDay(58849)) AS d") \
        == ('Thursday', 'February', 58849, '2020-01-01')


def test_apply_parametric_aggregate(spark):
    """* APPLY(quantile(0.5)) — FuncCall arguments become aggregate
    PARAMS, not leading value arguments."""
    assert one(spark, "SELECT * APPLY(quantileExactInclusive(0.5)) "
               "FROM (SELECT number AS a, number * 10 AS b "
               "FROM numbers(3))") == (1.0, 10.0)


def test_to_json_string(spark):
    assert one(spark, """SELECT toJSONString('a"b') AS a,
        toJSONString(NULL) AS b, toJSONString(1.25) AS c,
        toJSONString([1, 2, 3]) AS d, toJSONString(map('k', 1)) AS e""") \
        == ('"a\\"b"', 'null', '1.25', '[1,2,3]', '{"k":1}')


def test_is_constant_and_introspection(spark):
    a, b, c, d = one(spark, "SELECT isConstant(1 + 2) AS a, "
                     "isConstant(number) AS b, FQDN() AS c, "
                     "tcpPort() AS d FROM numbers(1)")
    assert (a, b, c, d) == (1, 0, 'localhost', 9000)


def test_type_name_constructors(spark):
    """toTypeName over constructors: literal element typing reaches
    tuple()/map() (FieldToDataType), and conversion constructors carry
    their declared CH type (IPv4/UUID/FixedString(N))."""
    assert one(spark, "SELECT toTypeName(toIPv4('1.2.3.4')) AS a, "
               "toTypeName(toUUID('61f0c404-5cb3-11e7-907b-a6006ad3dba0'"
               ")) AS b, toTypeName(tuple(1, 'a')) AS c, "
               "toTypeName(map('k', 1)) AS d, "
               "toTypeName(toFixedString('ab', 4)) AS e, "
               "toTypeName([tuple(1, 'a'), (2, 'b')]) AS f") \
        == ('IPv4', 'UUID', 'Tuple(UInt8, String)', 'Map(String, UInt8)',
            'FixedString(4)', 'Array(Tuple(UInt8, String))')


def test_format_row_family(spark):
    """formatRow/NoNewline: per-row CSV/TSV/JSONEachRow/Values rendering
    with the engine's text-format cell conventions (\\N nulls, CSV
    quote doubling, quoted 64-bit ints in JSON)."""
    a, = one(spark, "SELECT formatRow('CSV', number, 'hel\"lo', "
             "[1, 2]) AS x FROM numbers(1)")
    assert a == '0,"hel""lo","[1,2]"\n'
    b, = one(spark, "SELECT formatRowNoNewline('TSV', number, 'a\tb') "
             "AS x FROM numbers(1)")
    assert b == '0\ta\\tb'
    c, = one(spark, "SELECT formatRow('JSONEachRow', number) AS x "
             "FROM numbers(1)")
    assert c == '{"number":"0"}\n'
    d, = one(spark, "SELECT formatRowNoNewline('Values', 1, 'it''s', "
             "NULL) AS x")
    assert d == "(1,'it\\'s',NULL)"


def test_subsecond_arithmetic_and_dt64_scale(spark):
    """add/subtract Milli/Microseconds over DateTime64, and toString
    rendering EXACTLY the declared scale's digit count (CH
    DateTime64(3) prints '.000', never Spark's trimmed cast)."""
    assert one(spark, "SELECT toString(addMilliseconds(toDateTime64("
               "'2024-01-01 00:00:00.000', 3), 500)) AS a, "
               "toString(toDateTime64('2024-01-01 00:00:00', 3)) AS b, "
               "toString(addMicroseconds(toDateTime64("
               "'2024-01-01 00:00:00', 6), 42)) AS c, "
               "date_diff('week', toDate('2024-01-01'), "
               "toDate('2024-01-20')) AS d, timezoneOffset(now()) AS e") \
        == ('2024-01-01 00:00:00.500', '2024-01-01 00:00:00.000',
            '2024-01-01 00:00:00.000042', 2, 0)


# --- round 10: variance-zero moment family yields nan, not NULL --------------

def test_degenerate_moments_nan(spark):
    # CH evaluates the moment formulas in Float64: n=1 for the -Samp
    # family and zero variance for corr/skew/kurt are IEEE 0/0 = nan
    # (probe w4; numpy cross-check: corrcoef of a single pair is nan)
    import math
    r = one(spark, "SELECT corr(a, b) AS c, covarSamp(a, b) AS cs, "
            "varSamp(a) AS v, stddevSamp(a) AS sd, skewPop(a) AS sp, "
            "skewSamp(a) AS ss, kurtPop(a) AS kp, kurtSamp(a) AS ks "
            "FROM (SELECT 1.0 AS a, 2.0 AS b)")
    assert all(isinstance(x, float) and math.isnan(x) for x in r)
    # population forms at n=1 are well-defined zeros
    assert one(spark, "SELECT varPop(a) AS v, stddevPop(a) AS sd, "
               "covarPop(a, b) AS c FROM (SELECT 1.0 AS a, 2.0 AS b)") \
        == (0.0, 0.0, 0.0)
    # zero-variance corr over n>=2 is also 0/0
    assert math.isnan(one(spark, "SELECT corr(a, b) AS c FROM (SELECT "
                         "1.0 AS a, 2.0 AS b UNION ALL SELECT 1.0, "
                         "3.0)")[0])
    # all-NULL Nullable input keeps NULL (AggregateFunctionNull)
    assert one(spark, "SELECT varSamp(nullIf(a, 1.0)) AS v, "
               "corr(nullIf(a, 1.0), a) AS c FROM (SELECT 1.0 AS a)") \
        == (None, None)
    # windowed frame of one row behaves like n=1
    got = rows(spark, "SELECT number, varSamp(number) OVER (ORDER BY "
               "number) AS v FROM numbers(3) ORDER BY number")
    assert math.isnan(got[0][1]) and got[1][1] == 0.5


# --- round 10 sweep A pins ----------------------------------------------------

def test_with_fill_generated_rows_type_defaults(spark):
    # CH FillingTransform: generated rows carry the TYPE default in
    # every non-fill, non-INTERPOLATE column (docs example shows ''),
    # while genuine NULLs on ORIGINAL rows stay NULL
    assert rows(spark, "SELECT number * 2 AS n, 'x' AS t FROM "
                "numbers(3) ORDER BY n WITH FILL STEP 1") \
        == [(0, 'x'), (1, ''), (2, 'x'), (3, ''), (4, 'x')]
    assert rows(spark, "SELECT number * 2 AS n, nullIf(number, 1) AS v "
                "FROM numbers(3) ORDER BY n WITH FILL STEP 1") \
        == [(0, 0), (1, 0), (2, None), (3, 0), (4, 2)]
    # INTERPOLATE columns are interpolated, everything else defaulted
    assert rows(spark, "SELECT number * 2 AS n, number + 10 AS v, "
                "'y' AS t FROM numbers(3) ORDER BY n WITH FILL STEP 1 "
                "INTERPOLATE (v AS v + 1)") \
        == [(0, 10, 'y'), (1, 11, ''), (2, 11, 'y'), (3, 12, ''),
            (4, 12, 'y')]


def test_limit_offset_by_form(spark):
    # LIMIT n OFFSET m BY k ≡ LIMIT m, n BY k (public CH grammar)
    assert rows(spark, "SELECT number % 3 AS g, number FROM numbers(9) "
                "ORDER BY g, number LIMIT 1 OFFSET 1 BY g") \
        == [(0, 3), (1, 4), (2, 5)]
    assert rows(spark, "SELECT number % 3 AS g, number FROM numbers(9) "
                "ORDER BY g, number LIMIT 1, 1 BY g") \
        == [(0, 3), (1, 4), (2, 5)]


def test_arrayjoin_result_in_where(spark):
    # WHERE referencing an arrayJoin result (directly or via its alias)
    # filters AFTER the expansion — CH ARRAY-JOIN-function semantics
    assert rows(spark, "SELECT arrayJoin([1, 2, 3]) AS x WHERE x > 1") \
        == [(2,), (3,)]
    # identical calls CSE: the WHERE's arrayJoin is the SELECT's
    assert rows(spark, "SELECT arrayJoin([1, 2, 3]) AS x "
                "WHERE arrayJoin([1, 2, 3]) > 1") == [(2,), (3,)]
    assert rows(spark, "SELECT number, arrayJoin([1, 2]) AS x "
                "FROM numbers(2) WHERE x = 2 ORDER BY number") \
        == [(0, 2), (1, 2)]
    assert rows(spark, "SELECT arrayJoin([(1, 'a'), (2, 'b')]) AS t "
                "WHERE t.1 = 2") == [((2, 'b'),)]


def test_multicolumn_scalar_subquery_is_tuple(spark):
    # CH: a scalar subquery with N>1 columns yields a Tuple value
    assert one(spark, "SELECT (SELECT 1, 2) AS t") == ((1, 2),)
    assert one(spark, "SELECT (SELECT 1, 2).2 AS snd") == (2,)
    assert one(spark, "SELECT (SELECT min(number), max(number) "
               "FROM numbers(5)).1 AS lo") == (0,)
    assert rows(spark, "SELECT number FROM numbers(3) "
                "WHERE (number, number) = (SELECT 1, 1)") == [(1,)]


def test_enum_insert_validation(spark, tmp_path):
    # CH rejects INSERTed values outside the Enum element set at INSERT
    # time ("Unknown element ... for enum"); a failed INSERT leaves the
    # table unchanged
    from clickhouse_from_scratch_spark.ddl import ChSession
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE en (e Enum8('a' = 1, 'b' = 2)) "
                 "ENGINE = Memory")
    sess.execute("INSERT INTO en VALUES ('a'), ('b')")
    with pytest.raises(Exception, match="unknown element"):
        sess.execute("INSERT INTO en VALUES ('zzz')")
    got = sorted(r[0] for r in sess.execute("SELECT e FROM en").collect())
    assert got == ["a", "b"]


def test_numbers_mt_and_uniq_combined_precision(spark):
    assert one(spark, "SELECT count() AS c FROM numbers_mt(100)") == (100,)
    # uniqCombined(HLL_precision)(x): precision parameter accepted
    u = one(spark, "SELECT uniqCombined(12)(number) AS u "
            "FROM numbers(100)")[0]
    assert 90 <= u <= 110
    assert one(spark, "SELECT min(number) AS lo, max(number) AS hi "
               "FROM numbers(5, 10)") == (5, 14)


def test_datetime64_scale_truncates(spark):
    import datetime
    a, b, c = one(spark, "SELECT toDateTime64('2024-05-07 "
                  "01:02:03.123456', 3) AS a, toDateTime64('2024-05-07 "
                  "01:02:03.123456', 6) AS b, toDateTime64('2024-05-07 "
                  "01:02:03.999999', 0) AS c")
    assert a == datetime.datetime(2024, 5, 7, 1, 2, 3, 123000)
    assert b == datetime.datetime(2024, 5, 7, 1, 2, 3, 123456)
    assert c == datetime.datetime(2024, 5, 7, 1, 2, 3)


def test_dict_descendants_and_cut_ipv6(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE dsrc (id UInt64, nm String, "
                 "parent UInt64) ENGINE = Memory")
    sess.execute("INSERT INTO dsrc VALUES (1, 'one', 0), (2, 'two', 1),"
                 " (3, 'three', 2), (4, 'four', 1)")
    sess.execute("CREATE DICTIONARY hd (id UInt64, nm String, parent "
                 "UInt64 HIERARCHICAL) PRIMARY KEY id "
                 "SOURCE(CLICKHOUSE(TABLE 'dsrc')) LAYOUT(FLAT()) "
                 "LIFETIME(0)")
    r = sess.execute("SELECT dictGetDescendants('hd', toUInt64(1)) AS "
                     "a, dictGetDescendants('hd', toUInt64(1), 1) AS b"
                     ).collect()[0]
    assert (sorted(r[0]), sorted(r[1])) == ([2, 3, 4], [2, 4])
    assert one(spark, "SELECT cutIPv6(IPv6StringToNum('2001:db8:ac10:"
               "fe01:feed:babe:cafe:f00d'), 8, 0) AS c") \
        == ('2001:db8:ac10:fe01::',)


def test_outfile_single_file_and_show_create_database(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    # CH INTO OUTFILE produces ONE file at the named path
    import os
    out = str(tmp_path / "o.csv")
    sess.execute(f"SELECT number AS n, number * 2 AS d FROM numbers(3) "
                 f"ORDER BY n INTO OUTFILE '{out}' FORMAT CSV")
    assert os.path.isfile(out)
    assert open(out).read() == "0,0\n1,2\n2,4\n"
    got = sess.execute("SHOW CREATE DATABASE default").collect()
    assert got[0][0] == "CREATE DATABASE default"


def test_query_param_in_table_function(spark):
    from clickhouse_from_scratch_spark.plans import execute_sql
    got = execute_sql(spark, "SELECT number FROM numbers({lim:UInt8}) "
                      "ORDER BY number", {}, params={"lim": 3}).collect()
    assert [r[0] for r in got] == [0, 1, 2]


def test_qualified_refs_after_joins(spark, tmp_path):
    # CH allows alias- AND bare-table-name qualification of columns, in
    # inner and outer joins alike; after a USING/defaults join the
    # colliding right column is addressable as r.v (output name v__r)
    from clickhouse_from_scratch_spark.ddl import ChSession
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE ta (k UInt32, v UInt32) ENGINE = Memory")
    sess.execute("CREATE TABLE tb (k UInt32, v UInt32) ENGINE = Memory")
    sess.execute("INSERT INTO ta VALUES (1, 10)")
    sess.execute("INSERT INTO tb VALUES (1, 100)")
    assert [tuple(r) for r in sess.execute(
        "SELECT ta.v AS av, tb.v AS bv FROM ta JOIN tb ON ta.k = tb.k"
        ).collect()] == [(10, 100)]
    assert [tuple(r) for r in sess.execute(
        "SELECT ta.v AS av, tb.v AS bv FROM ta LEFT JOIN tb "
        "ON ta.k = tb.k").collect()] == [(10, 100)]
    assert [tuple(r) for r in sess.execute("SELECT ta.v FROM ta"
                                           ).collect()] == [(10,)]
    got = rows(spark, "SELECT l.v AS lv, r.v AS rv FROM "
               "(SELECT 1 AS k, 10 AS v) l LEFT JOIN "
               "(SELECT 1 AS k, 100 AS v) r USING (k)")
    assert got == [(10, 100)]
    # unqualified collision resolves to the LEFT side (CH scoping)
    assert rows(spark, "SELECT v FROM (SELECT 1 AS k, 10 AS v) l "
                "LEFT JOIN (SELECT 1 AS k, 100 AS v) r USING (k)") \
        == [(10,)]


def test_parenthesized_inline_alias(spark):
    # CH attaches aliases to ANY expression element; a parenthesized
    # aliased expression both evaluates and registers the alias for
    # reuse anywhere in the query
    assert one(spark, "SELECT (1 + 1 AS two) AS a, two + 1 AS b") == (2, 3)
    assert one(spark, "SELECT 1 + (2 AS b) AS v, b AS bb") == (3, 2)
    assert rows(spark, "SELECT (number * 2 AS d) FROM numbers(3) "
                "WHERE d > 2") == [(4,)]
    assert one(spark, "SELECT ((1, (2, 3)) AS t).2.1 AS x") == (2,)
    assert one(spark, "SELECT (1 AS one, 2 AS two) AS t, one + two "
               "AS s") == ((1, 2), 3)


def test_state_merge_combinator_stacking(spark):
    # -If on a State-producing side belongs to that side; the matching
    # -Merge re-aggregates (sumIfMerge ≡ sumMerge), and count states
    # merge by SUMMING, never by counting state rows
    assert one(spark, "SELECT sumIfMerge(s) AS a FROM (SELECT "
               "sumIfState(number, number > 1) AS s FROM numbers(5))") \
        == (9,)
    assert one(spark, "SELECT avgIfMerge(s) AS a FROM (SELECT "
               "avgIfState(number, number > 1) AS s FROM numbers(5))") \
        == (3.0,)
    assert one(spark, "SELECT countIfMerge(s) AS a FROM (SELECT "
               "countIfState(number > 1) AS s FROM numbers(5))") == (3,)
    assert one(spark, "SELECT countMerge(s) AS a FROM (SELECT number "
               "% 2 AS g, countState() AS s FROM numbers(10) "
               "GROUP BY g)") == (10,)
    assert one(spark, "SELECT sumMerge(s) AS a FROM (SELECT number "
               "% 2 AS g, sumState(number) AS s FROM numbers(10) "
               "GROUP BY g)") == (45,)
    assert sorted(one(spark, "SELECT groupArrayMerge(s) AS a FROM "
                  "(SELECT number % 2 AS g, groupArrayState(number) AS "
                  "s FROM numbers(4) GROUP BY g)")[0]) == [0, 1, 2, 3]


def test_uniq_state_input_types(spark):
    # the HLL sketch state accepts every input type: narrow integrals
    # widen, other types stringify (distinct-count preserving)
    assert one(spark, "SELECT uniqMerge(s) AS a FROM (SELECT number % "
               "2 AS g, uniqState(number % 3) AS s FROM numbers(10) "
               "GROUP BY g)") == (3,)
    assert one(spark, "SELECT uniqMerge(s) AS a FROM (SELECT number % "
               "2 AS g, uniqState(number / 2) AS s FROM numbers(10) "
               "GROUP BY g)") == (10,)


def test_insert_jsoneachrow_inline_multirow(spark, tmp_path):
    # CH accepts whitespace-separated objects; every object is a row
    from clickhouse_from_scratch_spark.ddl import ChSession
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute("CREATE TABLE jt (a UInt32, b String) ENGINE = Memory")
    sess.execute('INSERT INTO jt FORMAT JSONEachRow {"a": 1, "b": "x"} '
                 '{"a": 2, "b": "y {z}"}')
    got = [tuple(r) for r in
           sess.execute("SELECT a, b FROM jt ORDER BY a").collect()]
    assert got == [(1, "x"), (2, "y {z}")]


def test_values_schemaless_and_describe_query(spark, tmp_path):
    # schema-less values(): columns c1..cN, types inferred (CH contract)
    assert rows(spark, "SELECT * FROM values((1, 'x'), (2, 'y')) "
                "ORDER BY c1") == [(1, 'x'), (2, 'y')]
    assert rows(spark, "SELECT * FROM values(5, 6) ORDER BY c1") \
        == [(5,), (6,)]
    # DESCRIBE (SELECT ...) returns the result schema
    from clickhouse_from_scratch_spark.ddl import ChSession
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    got = [(r.name, r.type) for r in
           sess.execute("DESCRIBE (SELECT 'a' AS s, [1, 2] AS arr)"
                        ).collect()]
    assert got[0] == ("s", "String")
    assert got[1][0] == "arr" and got[1][1].startswith("Array(")


def test_tuple_in_subquery(spark):
    # CH: (a, b) IN (SELECT x, y ...) — tuple membership against a
    # multi-column subquery (marker/semi-join lowerings alike)
    assert rows(spark, "SELECT number FROM numbers(5) WHERE (number, "
                "number + 1) IN (SELECT 2, 3) ORDER BY number") == [(2,)]
    assert rows(spark, "SELECT number FROM numbers(5) WHERE (number % "
                "2, number) IN (SELECT number % 2, number FROM "
                "numbers(3)) ORDER BY number") == [(0,), (1,), (2,)]
    assert rows(spark, "SELECT number FROM numbers(5) WHERE (number, "
                "number) NOT IN (SELECT 2, 2) ORDER BY number") \
        == [(0,), (1,), (3,), (4,)]
    assert rows(spark, "SELECT number, (number, number + 1) IN "
                "(SELECT 2, 3) AS m FROM numbers(4) ORDER BY number") \
        == [(0, False), (1, False), (2, True), (3, False)]


def test_multiarg_uniq_counts_tuples(spark):
    # CH multi-argument uniq counts distinct argument TUPLES
    assert one(spark, "SELECT uniq(number % 2, number % 3) AS u, "
               "uniqExact(number % 2, number % 3) AS e, "
               "count(DISTINCT number % 2, number % 3) AS c "
               "FROM numbers(12)") == (6, 6, 6)


def test_array_reduction_lambda_forms(spark):
    # arrayMin/Max/Sum/Avg([func,] arr): optional leading lambda maps
    # elements before reducing
    assert one(spark, "SELECT arrayMin(x -> -x, [1, 2]) AS a, "
               "arrayMax(x -> x * 2, [1, 3]) AS b, "
               "arraySum(x -> x * x, [2, 3]) AS c, "
               "arrayAvg(x -> x * 10, [1, 2]) AS d") == (-2, 6, 13.0, 15.0)
    assert one(spark, "SELECT arrayUnion([1, 2], [2, 3]) AS u, "
               "arraySymmetricDifference([1, 2], [2, 3]) AS d") \
        == ([1, 2, 3], [1, 3])


def test_port_and_typed_json_containers(spark):
    assert one(spark, "SELECT port('http://x.com:8080/a') AS a, "
               "port('http://x.com/a') AS b, "
               "port('http://x.com/a', 80) AS c") == (8080, 0, 80)
    assert one(spark, "SELECT JSONExtract('[1,2]', 'Array(Int64)') AS "
               "arr, JSONExtract('{\"a\": [1,2]}', 'a', 'Array(Int64)') "
               "AS n") == ([1, 2], [1, 2])


def test_parse_datetime_separators_and_tz_arg(spark):
    import datetime
    # literal separators (incl. Java-reserved '#') quote correctly
    assert one(spark, "SELECT parseDateTime('2024#05#07', '%Y#%m#%d') "
               "AS d") == (datetime.datetime(2024, 5, 7),)
    # toDateTime(s, tz): wall time interpreted in tz (UTC session shows
    # the instant in UTC)
    assert one(spark, "SELECT toDateTime('2024-06-01 00:00:00', "
               "'America/New_York') AS t") \
        == (datetime.datetime(2024, 6, 1, 4, 0),)


def test_union_wide_cte_scope(spark):
    # a WITH before the first arm scopes over the WHOLE union statement
    assert sorted(rows(spark, "WITH t AS (SELECT 1 AS a) SELECT a FROM "
                       "t UNION ALL SELECT a + 1 FROM t")) == [(1,), (2,)]
    assert sorted(rows(spark, "WITH 5 AS x SELECT x AS v UNION ALL "
                       "SELECT x * 2")) == [(5,), (10,)]


def test_fetch_first_without_offset(spark):
    assert rows(spark, "SELECT number FROM numbers(10) ORDER BY number "
                "FETCH FIRST 3 ROWS ONLY") == [(0,), (1,), (2,)]
    assert rows(spark, "SELECT v FROM (SELECT 1 AS v UNION ALL SELECT "
                "1 UNION ALL SELECT 2) ORDER BY v "
                "FETCH FIRST 1 ROWS WITH TIES") == [(1,), (1,)]
