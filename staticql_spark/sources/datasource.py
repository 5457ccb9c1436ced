"""PySpark 4 Python DataSource for structured static content (S1-S4).

The cleaner sibling of ``reader.read_source``'s wholetext+mapInPandas
pipeline: registers a real ``spark.read.format("staticql_content")`` source

    spark.dataSource.register(ContentDataSource)
    df = (spark.read.format("staticql_content")
          .option("pattern", "/data/content/herbs/*.md")
          .option("type", "markdown")          # markdown | yaml | json | csv ...
          .load())                              # -> (slug, raw, payload)

Parity: parser dispatch per declared type (reference src/parser/index.ts:72-88),
slug from path relative to the glob base with '/'->'--' (SourceConfigResolver
.ts:143-182), explicit per-record slug for multi-record YAML/JSON files
(SourceLoader.ts:102-107), slug-mismatch load error (SourceLoader.ts:163-169).

Scale shape: file listing happens once at plan time (driver); files are
grouped into ``parallelism`` input partitions, and each executor parses its
own batch — the same distribution contract as Spark's file sources. At
100 TB, content should be compacted to parquet once (reader.compact_to_parquet)
and this source used only for the initial ingest hop.
"""

from __future__ import annotations

import glob as _glob
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .parsers import get_parser
from .reader import parse_file_records

_DEFAULT_PARALLELISM = 32


class _FileBatch(InputPartition):
    def __init__(self, files: list[str], base: str):
        self.files = files
        self.base = base


class ContentDataSource(DataSource):
    """``staticql_content`` — (slug, raw, payload-JSON) rows from content files."""

    @classmethod
    def name(cls) -> str:
        return "staticql_content"

    def schema(self) -> str:
        return "slug string, raw string, payload string"

    def reader(self, schema) -> "ContentReader":
        return ContentReader(self.options)

    def simpleStreamReader(self, schema) -> "ContentStreamReader":
        return ContentStreamReader(self.options)


class ContentReader(DataSourceReader):
    def __init__(self, options):
        self.pattern = options["pattern"]
        self.parser_type = options.get("type", "markdown")
        self.parallelism = int(options.get("parallelism", _DEFAULT_PARALLELISM))
        # glob base = longest wildcard-free prefix, for slug derivation
        self.base = _glob_base(self.pattern)

    def partitions(self):
        files = sorted(_glob.glob(self.pattern, recursive=True))
        if not files:
            return [_FileBatch([], self.base)]
        width = max(1, (len(files) + self.parallelism - 1) // self.parallelism)
        return [
            _FileBatch(files[i : i + width], self.base)
            for i in range(0, len(files), width)
        ]

    def read(self, partition: _FileBatch):
        yield from _parse_files(
            partition.files, partition.base, self.parser_type, self.pattern
        )


def _parse_files(files, base, parser_type, pattern):
    # the per-file slug rules of every backend, labelled by the glob
    parser = get_parser(parser_type)
    for path in files:
        with open(path, encoding="utf-8") as f:
            raw = f.read()
        rel = os.path.relpath(path, base) if base else path
        yield from parse_file_records(parser, pattern, rel, raw)


def _glob_base(pattern: str) -> str:
    parts = pattern.split("/")
    base_parts = []
    for p in parts[:-1]:
        if any(ch in p for ch in "*?["):
            break
        base_parts.append(p)
    return "/".join(base_parts)


class ContentStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of ``staticql_content``: continuous content
    ingestion — every trigger picks up files newly matching the glob
    (the CMS-drop / crawler-output shape), so the incremental-index and
    near-dup streams can hang directly off a content directory:

        spark.readStream.format("staticql_content").option(...).load()

    Offsets carry the sorted list of already-ingested paths — exact,
    replayable (``readBetweenOffsets`` re-parses exactly the files
    between two offsets), and right-sized for content corpora, which are
    bounded by construction (the reference's own operating envelope);
    mtime watermarks would be smaller but lose exactly-once on equal
    timestamps. The simple-reader API executes on the driver — this
    source is the initial ingest hop, not the 100 TB path (compact to
    parquet once and stream THAT for scale).
    """

    def __init__(self, options):
        self.pattern = options["pattern"]
        self.parser_type = options.get("type", "markdown")
        self.base = _glob_base(self.pattern)

    def initialOffset(self):
        return {"seen": json.dumps([])}

    def _seen(self, offset) -> set:
        return set(json.loads(offset["seen"]))

    def read(self, start):
        seen = self._seen(start)
        files = sorted(set(_glob.glob(self.pattern, recursive=True)))
        new = [f for f in files if f not in seen]
        end = {"seen": json.dumps(sorted(seen | set(new)))}
        rows = list(_parse_files(new, self.base, self.parser_type, self.pattern))
        return iter(rows), end

    def readBetweenOffsets(self, start, end):
        new = sorted(self._seen(end) - self._seen(start))
        return iter(list(_parse_files(new, self.base, self.parser_type, self.pattern)))
