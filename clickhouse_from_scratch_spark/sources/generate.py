"""generateRandom table function — deterministic synthetic data.

ClickHouse's ``generateRandom('a Int64, b String', [seed],
[max_string_length], [max_array_length])`` produces an unbounded stream
of random rows shaped by the schema (the reference's parser accepts it
as a generic table function, ``ParserTablesInSelectQuery``). Here the
stream is bounded by the enclosing LIMIT (same contract as
``system.numbers``) and generation is fully deterministic for a given
(seed, n): every column derives from ``spark.range`` + seeded JVM
expressions — no Python UDFs, so it scales to any n.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.typemap import parse_structure

_EPOCH_2000 = 946684800          # 2000-01-01 unix seconds


def _gen(typ: str, tag: str, seed: int, max_str: int,
         max_arr: int) -> Column:
    """A deterministic pseudo-random column of CH type ``typ``; ``tag``
    disambiguates sibling columns so they are independent."""
    # per-column deterministic double in [0, 1): hash of (row id, tag)
    u = (F.pmod(F.xxhash64(F.col("number"), F.lit(tag), F.lit(seed)),
                F.lit(1_000_000_007)) / F.lit(1_000_000_007.0))
    t = typ.strip()
    m = re.fullmatch(r"Nullable\((.*)\)", t)
    if m:
        inner = _gen(m.group(1), tag + "n", seed, max_str, max_arr)
        return F.when(u < 0.1, F.lit(None)).otherwise(inner)
    m = re.fullmatch(r"Array\((.*)\)", t)
    if m:
        elems = [_gen(m.group(1), f"{tag}e{i}", seed, max_str, max_arr)
                 for i in range(max_arr)]
        ln = (u * max_arr).cast("int") + 1
        return F.slice(F.array(*elems), F.lit(1), ln)
    m = re.fullmatch(r"FixedString\((\d+)\)", t)
    if m:
        n = int(m.group(1))
        return F.rpad(F.sha2(F.concat(F.col("number").cast("string"),
                                      F.lit(tag)), 256).substr(1, n),
                      n, "x")
    if t == "String":
        ln = (u * max_str).cast("int") + 1
        return (F.sha2(F.concat(F.col("number").cast("string"),
                                F.lit(tag)), 256)
                .substr(F.lit(1), ln))
    if t in ("Int8", "UInt8", "Int16", "UInt16", "Int32", "UInt32",
             "Int64", "UInt64"):
        from ..functions.typemap import ch_type_to_spark

        bits = int(re.sub(r"\D", "", t))
        signed = not t.startswith("U")
        span = 1 << min(bits, 32)            # keep UInt64 in Long range
        val = (u * span).cast("long") - (span // 2 if signed else 0)
        # §1.2 policy widths: UInt8→smallint etc., so unsigned values
        # keep their 0..2^bits-1 domain
        return val.cast(ch_type_to_spark(t))
    if t in ("Float32", "Float64"):
        v = (u - 0.5) * 2_000_000
        return v.cast("float" if t == "Float32" else "double")
    if t == "Bool":
        return u < 0.5
    if t == "Date":
        return F.date_add(F.lit("2000-01-01").cast("date"),
                          (u * 8000).cast("int"))
    if t in ("DateTime", "DateTime64"):
        return F.timestamp_seconds(
            F.lit(_EPOCH_2000) + (u * 1_000_000_000).cast("long"))
    m = re.fullmatch(r"Decimal\((\d+),\s*(\d+)\)", t)
    if m:
        p, s = int(m.group(1)), int(m.group(2))
        return ((u - 0.5) * 1_000_000).cast(f"decimal({p},{s})")
    raise ValueError(f"generateRandom: unsupported type {typ!r}")


def generate_random(spark: SparkSession, schema: str, n: int,
                    seed: int = 42, max_str: int = 10,
                    max_arr: int = 10) -> DataFrame:
    cols = parse_structure(schema)
    base = spark.range(n).withColumnRenamed("id", "number")
    return base.select(*[
        _gen(typ, f"c{i}_{name}", seed, max_str, max_arr).alias(name)
        for i, (name, typ) in enumerate(cols)])
