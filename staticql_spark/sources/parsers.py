"""Content parsers: raw file text -> record dict(s).

Parity targets (behavior, not code):
- frontmatter: extract the YAML block between leading ``---`` fences; the
  body is NOT part of the record (only ``raw`` keeps it)
  (reference: src/parser/frontMatter.ts:11-23).
- yaml: full YAML via PyYAML (a superset of the reference's minimal
  indentation parser, src/parser/yaml.ts:11-177 — scalar coercion of
  bool/number/null comes free). Multi-record files yield a list.
- json: whole-file JSON.parse (src/parser/json.ts:10-16).
- registry: per-``type`` parser injection (src/parser/index.ts:50-52,
  dispatch :72-88) — a registered parser may return one record or a list
  (UDTF-shaped, e.g. the CSV example in README.md:164-199).

These are plain Python functions; the Spark boundary (wholetext read +
``mapInPandas``) lives in reader.py so parsers stay unit-testable.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable

import yaml

ParserFn = Callable[[str], dict | list[dict]]

_FRONTMATTER_RE = re.compile(r"\A﻿?---\r?\n(.*?)\r?\n---(?:\r?\n|\Z)", re.DOTALL)


def parse_frontmatter(raw: str) -> dict:
    m = _FRONTMATTER_RE.match(raw)
    if not m:
        return {}
    data = yaml.safe_load(m.group(1))
    return data if isinstance(data, dict) else {}


def parse_yaml(raw: str) -> dict | list[dict]:
    data = yaml.safe_load(raw)
    if data is None:
        return {}
    return data


def parse_json(raw: str) -> dict | list[dict]:
    return json.loads(raw)


def parse_csv(raw: str) -> list[dict]:
    """Simple header CSV -> list of records (parser-injection demo parity,
    reference tests/parser-injection.test.ts:15-34)."""
    import csv as _csv
    import io

    return list(_csv.DictReader(io.StringIO(raw)))


_REGISTRY: dict[str, ParserFn] = {
    "markdown": parse_frontmatter,
    "yaml": parse_yaml,
    "json": parse_json,
    "csv": parse_csv,
}


def register_parser(type_name: str, fn: ParserFn) -> None:
    """Parser injection (reference: src/parser/index.ts:50-52)."""
    _REGISTRY[type_name] = fn


def get_parser(type_name: str) -> ParserFn:
    try:
        return _REGISTRY[type_name]
    except KeyError:
        raise ValueError(f"no parser registered for type {type_name!r}") from None

