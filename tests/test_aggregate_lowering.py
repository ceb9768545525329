"""One aggregate lowering path: every spelling of an aggregate — FILTER,
-If, -OrNull, -Array, the *MappedArrays alias, arrayReduce — resolves
through the same kernel, so the spellings agree.

Also pins results the single path must keep, the SHOW FUNCTIONS listing,
the catalog queries' warehouse, and out-of-range INSERT literals."""

from __future__ import annotations

import math

import pytest

from clickhouse_from_scratch_spark.plans.engine import execute_sql


def one(spark, sql):
    return tuple(execute_sql(spark, sql, {}).collect()[0])


# x holds NULLs (Nullable), c selects the even rows, g groups by 3
NULLABLE = ("(SELECT if(number % 3 = 0, NULL, number % 4) AS x, "
            "number % 2 = 0 AS c, number % 3 AS g FROM numbers(9))")

MAP_ROWS = ("(SELECT [1] AS k, [toInt32(2147483647)] AS v "
            "FROM numbers(2))")


# --- sumMap: every spelling is the plain sumMap kernel ---------------------

def test_sum_map_spellings_widen_like_sum_map(spark):
    sql = ("SELECT sumMap(k, v) AS a, sumMapIf(k, v, 1) AS b, "
           "sumMap(k, v) FILTER (WHERE 1) AS c, sumMapOrNull(k, v) AS d, "
           f"sumMappedArrays(k, v) AS e FROM {MAP_ROWS}")
    df = execute_sql(spark, sql, {})
    row = df.collect()[0]
    assert tuple(row.a) == ([1], [4294967294])
    for name in "bcde":
        assert tuple(row[name]) == tuple(row.a), name
    for f in df.schema.fields:
        assert f.dataType["_2"].dataType.simpleString() == "array<bigint>", \
            f.name


# --- one-value sample variance is nan in every spelling --------------------

def test_one_value_samp_reducers_are_nan(spark):
    row = one(spark, "SELECT varSamp(y), stddevSamp(y), "
              "varSampArray([y]), stddevSampArray([y]), "
              "arrayReduce('varSamp', [1.5]), "
              "arrayReduce('stddevSamp', [1.5]) FROM (SELECT 1.5 AS y)")
    assert all(v is not None and math.isnan(v) for v in row), row


def test_samp_reducers_of_no_value_are_null(spark):
    empty = "(SELECT CAST([] AS Array(Float64)) AS a)"
    assert one(spark, f"SELECT varSampArray(a) FROM {empty}") == (None,)
    assert one(spark, f"SELECT arrayReduce('varSamp', a) FROM {empty}") \
        == (None,)


# --- arrayReduce uses the -Array reducer -----------------------------------

@pytest.mark.parametrize("spelled, array_form", [
    ("quantileExactExclusive(0.5)", "quantileExactExclusiveArray(0.5)"),
    ("minOrNull", "minOrNullArray"),
    ("quantilesExactInclusive(0.25, 0.75)",
     "quantilesExactInclusiveArray(0.25, 0.75)"),
])
def test_array_reduce_equals_array_combinator(spark, spelled, array_form):
    arr = "(SELECT [3, 1, 4, 2] AS a)"
    reduced, = one(spark, f"SELECT arrayReduce('{spelled}', a) FROM {arr}")
    aggregated, = one(spark, f"SELECT {array_form}(a) FROM {arr}")
    assert reduced is not None and reduced == aggregated


@pytest.mark.parametrize("spelled, picked", [
    ("quantileExact(0.5)", 30),
    ("quantilesExact(0.25, 0.5, 1)", [20, 30, 40]),
    ("quantileExactLow(0.5)", 20),
    ("quantileExactHigh(0.5)", 30),
])
def test_exact_quantile_array_forms_pick_like_row_kernel(spark, spelled,
                                                          picked):
    # no interpolation in any spelling: [10, 20, 30, 40] at 0.5 is 30
    # (quantileExact's sorted element at floor(level·n)), never 25
    name, params = spelled.split("(", 1)
    arr = "[10, 40, 20, 30]"
    row, = one(spark, f"SELECT {spelled}(x) FROM "
               f"(SELECT arrayJoin({arr}) AS x)")
    array_form, reduced = one(spark, f"SELECT {name}Array({params}({arr}), "
                              f"arrayReduce('{spelled}', {arr})")
    assert row == array_form == reduced == picked


def test_array_reduce_base_names_match_case_insensitively(spark):
    assert one(spark, "SELECT arrayReduce('SUM', [1, 2]), "
               "arrayReduce('anylast', [7, 8]), "
               "arrayReduce('VarPop', [1, 3])") == (3, 8, 1.0)


# --- pins: results the single path keeps -----------------------------------

def test_count_distinct_spellings_count_null(spark):
    assert one(spark, "SELECT count(DISTINCT x), countDistinct(x), "
               f"uniqExact(x) FROM {NULLABLE}") == (5, 5, 5)


def test_count_distinct_filter_is_uniq_exact_if(spark):
    assert one(spark, "SELECT count(DISTINCT x) FILTER (WHERE c), "
               f"uniqExactIf(x, c) FROM {NULLABLE}") == (3, 3)


def test_sum_if_equals_sum_filter(spark):
    assert one(spark, "SELECT sumIf(x, c), sum(x) FILTER (WHERE c) "
               f"FROM {NULLABLE}") == (2, 2)


def test_parametric_if(spark):
    assert one(spark, "SELECT topKIf(2)(x, c), quantileIf(0.5)(x, c) "
               f"FROM {NULLABLE}") == ([0, 2], 0.0)


def test_sum_if_window(spark):
    rows = execute_sql(spark, "SELECT g, sumIf(x, c) OVER (PARTITION BY "
                       f"g) AS s FROM {NULLABLE} ORDER BY g", {}).collect()
    assert sorted({(r.g, r.s) for r in rows}, key=lambda t: t[0]) \
        == [(0, None), (1, 0), (2, 2)]


# --- SHOW FUNCTIONS: one row per name --------------------------------------

def test_show_functions_lists_each_name_once(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))

    def show(pattern):
        return [tuple(r) for r in sess.execute(
            f"SHOW FUNCTIONS LIKE '{pattern}'").collect()]
    assert show("sum") == [("sum", 1)]
    assert show("plus") == [("plus", 0)]
    # combinator spellings resolve but are not listed (system.functions)
    assert show("sumIf") == []


# --- catalog queries keep their tables out of the working directory -------

def test_catalog_sessions_use_a_temporary_warehouse(spark, sf_dir, tmp_path,
                                                    monkeypatch):
    from clickhouse_from_scratch_spark.queries import QUERIES
    monkeypatch.chdir(tmp_path)
    for name in ("sql_udf_macro", "sql_dict_get", "sql_final_summing"):
        assert QUERIES[name](spark, sf_dir).count() > 0
    assert not (tmp_path / ".chspark_warehouse").exists()


# --- INSERT VALUES: a literal beyond 64 bits is an error, never 0 ----------

@pytest.mark.parametrize("engine", ["Memory", "MergeTree ORDER BY a"])
def test_insert_literal_beyond_64_bits_raises(spark, tmp_path, engine):
    from clickhouse_from_scratch_spark.ddl import ChSession
    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    sess.execute(f"CREATE TABLE big (a Int64) ENGINE = {engine}")
    with pytest.raises(ValueError, match="64-bit"):
        sess.execute("INSERT INTO big VALUES (1180591620717411303424)")
    assert sess.execute("SELECT count() FROM big").collect()[0][0] == 0


# --- -ArgMin/-ArgMax/-Map fold through the base's array kernel -------------

def test_arg_and_map_combinators_type_like_the_base(spark):
    """sumArgMin, sumArgMax and avgMap reduce with reduce_array, the
    kernel of sumArray and arrayReduce: an Int32 sum is Int64."""
    src = "(SELECT toInt32(number) AS x, number % 3 AS v FROM numbers(9))"
    assert one(spark, "SELECT toTypeName(sumArgMin(x, v)), "
               "toTypeName(sumArgMax(x, v)), toTypeName(sum(x)), "
               f"toTypeName(sumArray([x])) FROM {src}") == ("Int64",) * 4
    assert one(spark, f"SELECT sumArgMin(x, v), sumArgMax(x, v), "
               f"avgMap(map('k', x)) FROM {src}") == (9, 15, {"k": 4.0})


def test_probe_memo_lives_for_one_build(spark, monkeypatch):
    """A frame the builder probes for a type is garbage once its
    statement is built: the memo belongs to the build's Context."""
    import gc
    import weakref

    from clickhouse_from_scratch_spark.plans import builder
    probed = []
    real = builder._probe_field

    def spy(arg, col, ctx, df):
        if df is not None:
            probed.append(weakref.ref(df))
        return real(arg, col, ctx, df)
    monkeypatch.setattr(builder, "_probe_field", spy)
    src = spark.range(3).toDF("x")
    out = execute_sql(spark, "SELECT toString(x + 1) AS s FROM t",
                      {"t": src})
    assert sorted(r.s for r in out.collect()) == ["1", "2", "3"]
    assert probed
    del out, src
    gc.collect()
    assert [r for r in probed if r() is not None] == []
