"""Content parsers and distributed readers."""
from .parsers import get_parser, register_parser
from .reader import compact_to_parquet, read_source, stream_source

__all__ = ["get_parser", "register_parser", "read_source", "stream_source", "compact_to_parquet"]
