"""Format/source registry (SURVEY.md §2.2)."""

from .formats import (
    FORMATS,
    TEXT_FORMATS,
    from_msgpack,
    from_native,
    from_row_binary,
    read_format,
    read_regexp,
    render_text,
    to_json,
    to_json_compact,
    to_json_each_row,
    to_markdown,
    to_msgpack,
    to_native,
    to_row_binary,
    to_template,
    to_tskv,
    to_values,
    to_vertical,
    to_xml,
    write_format,
)
from .capnproto import from_capnproto, to_capnproto
from .protobuf import from_protobuf, parse_proto_schema, to_protobuf

__all__ = ["FORMATS", "TEXT_FORMATS", "read_format", "write_format",
           "to_native", "from_native", "to_row_binary", "from_row_binary",
           "to_msgpack", "from_msgpack",
           "to_capnproto", "from_capnproto",
           "to_protobuf", "from_protobuf", "parse_proto_schema",
           "to_values", "to_vertical", "to_tskv", "to_markdown", "to_xml",
           "to_json", "to_json_compact", "to_json_each_row", "to_template",
           "read_regexp", "render_text"]
