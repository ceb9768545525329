"""Format/source registry (SURVEY.md §2.2): ``read_format`` is the one
input path, ``write_format`` / ``render_text`` the one output path."""

from .formats import (
    FORMATS,
    TEXT_FORMATS,
    Inline,
    from_msgpack,
    from_row_binary,
    read_format,
    render_text,
    to_json,
    to_json_compact,
    to_json_each_row,
    to_markdown,
    to_msgpack,
    to_row_binary,
    to_template,
    to_tskv,
    to_values,
    to_vertical,
    to_xml,
    values_frame,
    write_format,
)
from .capnproto import from_capnproto, to_capnproto
from .protobuf import from_protobuf, parse_proto_schema, to_protobuf

__all__ = ["FORMATS", "TEXT_FORMATS", "Inline", "read_format",
           "write_format", "values_frame", "render_text",
           "to_row_binary", "from_row_binary", "to_msgpack", "from_msgpack",
           "to_capnproto", "from_capnproto",
           "to_protobuf", "from_protobuf", "parse_proto_schema",
           "to_values", "to_vertical", "to_tskv", "to_markdown", "to_xml",
           "to_json", "to_json_compact", "to_json_each_row", "to_template"]
