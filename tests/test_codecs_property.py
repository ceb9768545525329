"""Property-based round-trip tests for the hand-rolled wire codecs
(MsgPackEachRow, RowBinary ULEB128) — pure driver-side, no Spark.

Hypothesis hunts the byte-level edge cases example tests miss: fixint
boundaries, width-selection cutovers, multi-byte UTF-8 at length
thresholds, deeply varied arrays.
"""

from __future__ import annotations

import sys

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, "/root/repo")

from clickhouse_from_scratch_spark.sources.formats import (
    _mp_decode, _mp_value, _read_uleb128, _uleb128)


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=-(1 << 63), max_value=(1 << 64) - 1))
def test_msgpack_int_roundtrip(v):
    blob = _mp_value(v, "bigint")
    out, pos = _mp_decode(blob, 0)
    assert out == v and pos == len(blob)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=300))
def test_msgpack_str_roundtrip(s):
    blob = _mp_value(s, "string")
    out, pos = _mp_decode(blob, 0)
    assert out == s and pos == len(blob)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=300))
def test_msgpack_bin_roundtrip(b):
    blob = _mp_value(b, "binary")
    out, pos = _mp_decode(blob, 0)
    assert out == b and pos == len(blob)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(st.none(),
                          st.integers(min_value=-(1 << 63),
                                      max_value=(1 << 63) - 1)),
                max_size=40))
def test_msgpack_array_roundtrip(arr):
    blob = _mp_value(arr, "Array(Int64)")
    out, pos = _mp_decode(blob, 0)
    assert out == arr and pos == len(blob)


@settings(max_examples=200, deadline=None)
@given(st.floats(allow_nan=False, width=64))
def test_msgpack_double_roundtrip(f):
    blob = _mp_value(f, "double")
    out, pos = _mp_decode(blob, 0)
    assert out == f and pos == len(blob)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1),
                min_size=1, max_size=10))
def test_uleb128_stream_roundtrip(vals):
    blob = b"".join(_uleb128(v) for v in vals)
    pos, out = 0, []
    for _ in vals:
        v, pos = _read_uleb128(blob, pos)
        out.append(v)
    assert out == vals and pos == len(blob)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(
    st.integers(min_value=-(1 << 31), max_value=(1 << 31) - 1),
    st.text(alphabet=st.characters(codec="utf-8"), max_size=40),
    st.booleans()), max_size=15))
def test_msgpack_row_stream_roundtrip(rows):
    """Concatenated heterogeneous rows decode back in order — the
    actual MsgPackEachRow framing (no row delimiters)."""
    types = ("int", "string", "boolean")
    blob = b"".join(_mp_value(v, t) for row in rows
                    for v, t in zip(row, types))
    pos, out = 0, []
    for _ in rows:
        row = []
        for t in types:
            v, pos = _mp_decode(blob, pos)
            row.append(bool(v) if t == "boolean" else v)
        out.append(tuple(row))
    assert out == rows and pos == len(blob)


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1))
def test_protobuf_varint_twos_complement_roundtrip(v):
    from clickhouse_from_scratch_spark.sources.protobuf import (
        _read_varint, _varint, _zz_dec, _zz_enc)
    raw = _varint(v)
    out, pos = _read_varint(raw, 0)
    if out >= 1 << 63:
        out -= 1 << 64
    assert out == v and pos == len(raw)
    assert _zz_dec(_zz_enc(v)) == v


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(
    st.integers(min_value=-(1 << 62), max_value=(1 << 62) - 1),
    st.text(alphabet=st.characters(codec="utf-8"), max_size=30),
    st.lists(st.integers(min_value=0, max_value=1 << 30), max_size=8)),
    min_size=1, max_size=8))
def test_protobuf_message_stream_roundtrip(rows):
    from clickhouse_from_scratch_spark.sources.protobuf import (
        _dec_message, _read_varint, _row_bytes, _varint,
        parse_proto_schema)
    fields = parse_proto_schema(
        "int64 a = 1; string b = 2; repeated uint64 c = 3;")
    blob = b"".join(_varint(len(m)) + m for m in
                    (_row_bytes(fields, r) for r in rows))
    pos, out = 0, []
    while pos < len(blob):
        ln, pos = _read_varint(blob, pos)
        d = _dec_message(fields, blob[pos:pos + ln])
        pos += ln
        out.append((d["a"], d["b"], d["c"]))
    got = [(a if a is not None else 0, b if b is not None else "", c)
           for a, b, c in out]
    # proto3 zero-values: 0 / "" / [] encode as absent and decode as such
    want = [(a, b, c) for a, b, c in rows]
    assert [(a, b, c) for a, b, c in got] == want


@settings(max_examples=500, deadline=None)
@given(st.text(max_size=200))
def test_lexer_totality(s):
    """tokenize() either succeeds or raises LexError — never crashes."""
    from clickhouse_from_scratch_spark.plans.lexer import LexError, tokenize
    try:
        tokenize(s)
    except LexError:
        pass


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=" ()[]',.*+-<>=SELECTFROMWHEREinandor0123456789x",
               max_size=120))
def test_parser_totality(s):
    """parse() raises only ParseError/LexError on malformed input."""
    from clickhouse_from_scratch_spark.plans import ParseError, parse
    from clickhouse_from_scratch_spark.plans.lexer import LexError
    try:
        parse(s)
    except (ParseError, LexError):
        pass


# --- CapnProto (spec framing; pure encode/decode cores) ---------------------

from clickhouse_from_scratch_spark.sources.capnproto import (  # noqa: E402
    _decode_rows,
    _encode_rows,
)

# the codec lays a row out by its columns' CH types
_CP_TYPES = ["Int32", "Int64", "Float64", "String", "String", "Bool"]


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(
    st.integers(min_value=-(1 << 31), max_value=(1 << 31) - 1),
    st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
    st.floats(allow_nan=False, width=64),
    st.text(alphabet=st.characters(codec="utf-8",
                                   exclude_characters="\x00"),
            max_size=60),
    st.text(alphabet=st.characters(codec="utf-8",
                                   exclude_characters="\x00"),
            max_size=9),
    st.booleans()), max_size=8))
def test_capnproto_property_roundtrip(rows):
    blob = _encode_rows(_CP_TYPES, rows)
    assert len(blob) % 8 == 0          # word-aligned framing throughout
    assert _decode_rows(_CP_TYPES, blob) == rows
