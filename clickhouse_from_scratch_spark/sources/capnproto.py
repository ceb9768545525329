"""CapnProto format: hand-rolled Cap'n Proto wire codec.

The reference declares the format name (``registerFormats.cpp:47-48``;
registration commented out at ``:83-153`` like every non-Native format).
This implements the public Cap'n Proto encoding spec
(capnproto.org/encoding.html): one *message* per row (the CH CapnProto
format reads/writes a sequence of framed messages), each message a
single segment whose root is one struct holding the row.

Because no ``.capnp`` compiler is involved, the struct layout is derived
deterministically from the columns' CH types: fixed-width fields are
packed in declaration order at natural alignment into the data section
at their RowBinary widths and values (``formats.WIRE_WIDTH``/``to_wire``;
Bool as one byte — our derivation, documented; the wire format itself
is spec-conformant), strings become Text fields (byte lists with a NUL
terminator) in the pointer section in declaration order.

Message framing (spec "serialization over a stream"):
  u32 little-endian: segment count - 1
  u32 per segment:   segment size in 8-byte words
  padding to an 8-byte boundary, then the segment bytes.

Struct pointer word: bits 0-1 = 0, bits 2-31 = signed word offset from
the word after the pointer to the struct content, bits 32-47 = data
words, bits 48-63 = pointer count. List pointer word: bits 0-1 = 1,
bits 2-31 = offset, bits 32-34 = element size code (2 = byte),
bits 35-63 = element count.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..functions.typemap import column_ch_types
from .formats import (byte_columns, from_wire, is_text, to_wire,
                      wire_width)


def _layout(types: list[str]) -> tuple[list, int, int]:
    """Assign data-section byte offsets (first-fit at natural alignment,
    declaration order) and pointer slots. Returns (plan, data_words,
    ptr_count); plan entries are ("data", offset, packc, ch) or
    ("ptr", slot)."""
    plan, cursor, ptrs = [], 0, 0
    for t in types:
        width = wire_width(t)
        if width is not None:
            size, packc = width
            cursor = (cursor + size - 1) // size * size   # align
            plan.append(("data", cursor, packc, t))
            cursor += size
        elif is_text(t):
            plan.append(("ptr", ptrs))
            ptrs += 1
        else:
            raise ValueError(f"CapnProto: unsupported type {t}")
    return plan, (cursor + 7) // 8, ptrs


def _struct_ptr(offset_words: int, data_words: int, ptr_count: int) -> bytes:
    return struct.pack("<Q", ((offset_words & 0x3FFFFFFF) << 2)
                       | (data_words << 32) | (ptr_count << 48))


def _list_ptr(offset_words: int, elem_size_code: int, count: int) -> bytes:
    return struct.pack("<Q", 1 | ((offset_words & 0x3FFFFFFF) << 2)
                       | (elem_size_code << 32) | (count << 35))


def to_capnproto(df: DataFrame) -> bytes:
    """Encode every row as a sequence of framed Cap'n Proto messages
    (one message per row, CH CapnProto style)."""
    return _encode_rows(column_ch_types(df), df.collect())


def _encode_rows(types: list[str], rows) -> bytes:
    """Pure encode core (no Spark session needed — property-testable)."""
    plan, data_words, ptr_count = _layout(types)
    out = bytearray()
    for row in rows:
        data = bytearray(data_words * 8)
        ptr_words = [b""] * ptr_count
        blobs = bytearray()
        # text blobs live after the pointer section; pointer offsets are
        # measured from the word following the pointer itself
        blob_word = 0
        for (kind, *rest), v in zip(plan, row):
            if kind == "data":
                # Cap'n Proto has no null; CH exports NULL as the type's
                # default (0 / false / epoch — the non-Nullable column
                # semantics, as input_format_null_as_default reads it)
                off, packc, t = rest
                struct.pack_into("<" + packc, data, off,
                                 0 if v is None else to_wire(v, t))
            else:
                (slot,) = rest
                # NULL text → empty string (the type default, as above)
                raw = ("" if v is None else v).encode("utf-8") + b"\x00"
                words_after_ptr = (ptr_count - slot - 1) + blob_word
                ptr_words[slot] = _list_ptr(words_after_ptr, 2, len(raw))
                blobs += raw + b"\x00" * (-len(raw) % 8)
                blob_word = len(blobs) // 8
        seg = (_struct_ptr(0, data_words, ptr_count) + bytes(data)
               + b"".join(ptr_words) + bytes(blobs))
        out += struct.pack("<II", 0, len(seg) // 8) + seg
    return bytes(out)


def from_capnproto(spark: SparkSession, data: bytes,
                   structure: str) -> DataFrame:
    """Decode a sequence of framed Cap'n Proto messages back into a
    DataFrame of CH ``structure`` (the layout is derived from it)."""
    types, st = byte_columns(structure)
    return spark.createDataFrame(_decode_rows(types, data), st)


def _decode_rows(types: list[str], data: bytes) -> list[tuple]:
    """Pure decode core (inverse of _encode_rows)."""
    plan, _dw, _pc = _layout(types)
    rows, pos = [], 0
    while pos < len(data):
        (nseg_m1, seg_words) = struct.unpack_from("<II", data, pos)
        if nseg_m1 != 0:
            raise ValueError("CapnProto: multi-segment messages not "
                             "produced by this codec")
        pos += 8
        seg = data[pos:pos + seg_words * 8]
        pos += seg_words * 8
        (root,) = struct.unpack_from("<Q", seg, 0)
        if root & 3 != 0:
            raise ValueError("CapnProto: root is not a struct pointer")
        s_off = ((root >> 2) & 0x3FFFFFFF)          # words after pointer
        dwords = (root >> 32) & 0xFFFF
        pcount = (root >> 48) & 0xFFFF
        dstart = (1 + s_off) * 8                    # data section bytes
        pstart = dstart + dwords * 8                # pointer section
        row = []
        for (kind, *rest) in plan:
            if kind == "data":
                off, packc, t = rest
                (v,) = struct.unpack_from("<" + packc, seg, dstart + off)
                row.append(from_wire(v, t))
            else:
                (slot,) = rest
                pword_at = pstart + slot * 8
                (p,) = struct.unpack_from("<Q", seg, pword_at)
                if p & 3 != 1 or ((p >> 32) & 7) != 2:
                    raise ValueError("CapnProto: expected byte-list "
                                     "(Text) pointer")
                loff = (p >> 2) & 0x3FFFFFFF
                count = p >> 35
                tstart = pword_at + 8 + loff * 8
                row.append(seg[tstart:tstart + count - 1].decode("utf-8"))
        rows.append(tuple(row))
    return rows
