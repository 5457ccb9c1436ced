"""Pure-Python unit tests: parsers, slug/path math, cursor codec, prefix hex.

Mirrors the reference's unit layer (SURVEY §5.1): pagination codec
(tests/pagenation.test.ts), YAML parsing (tests/yaml-parser.test.ts),
prefix hexification incl. Unicode (tests/constants.test.ts:20-40).
"""

from __future__ import annotations

import pytest

from staticql_spark.functions import (
    decode_cursor,
    encode_cursor,
    glob_base_and_regex,
    path_to_slug,
    prefix_hex_path,
    slug_to_path,
)
from staticql_spark.sources.parsers import (
    get_parser,
    parse_csv,
    parse_frontmatter,
    parse_json,
    parse_yaml,
    register_parser,
)


def test_frontmatter_basic():
    doc = "---\nname: ゴボウ\ntags:\n  - a\n  - b\n---\nbody text\n"
    rec = parse_frontmatter(doc)
    assert rec == {"name": "ゴボウ", "tags": ["a", "b"]}


def test_frontmatter_no_fence():
    assert parse_frontmatter("no frontmatter here") == {}


def test_frontmatter_empty_value_is_none():
    rec = parse_frontmatter("---\nname: x\nefficacy:\n---\n")
    assert rec["efficacy"] is None


def test_yaml_multi_record():
    out = parse_yaml("- slug: a\n  name: x\n- slug: b\n  name: y\n")
    assert isinstance(out, list) and len(out) == 2
    assert out[0]["slug"] == "a"


def test_yaml_scalar_coercion():
    out = parse_yaml("flag: true\nnum: 3.5\nint: 7\nnothing: null\nurl: http://x/y\n")
    assert out == {"flag": True, "num": 3.5, "int": 7, "nothing": None, "url": "http://x/y"}


def test_json():
    assert parse_json('{"a": 1}') == {"a": 1}


def test_csv_and_registry_injection():
    rows = parse_csv("slug,name\nx,1\ny,2\n")
    assert rows == [{"slug": "x", "name": "1"}, {"slug": "y", "name": "2"}]
    register_parser("tsv", lambda raw: [{"slug": r.split("\t")[0]} for r in raw.splitlines()])
    assert get_parser("tsv")("a\t1\nb\t2") == [{"slug": "a"}, {"slug": "b"}]


def test_slug_path_roundtrip():
    assert path_to_slug("recipeGroup001/001.md") == "recipeGroup001--001"
    assert slug_to_path("recipeGroup001--001", ".md") == "recipeGroup001/001.md"
    assert path_to_slug("arctium-lappa.md") == "arctium-lappa"


def test_glob_base_and_regex():
    base, rx = glob_base_and_regex("content/recipes/**/*.md")
    assert base == "content/recipes"
    assert rx.match("a/b/c.md") and rx.match("c.md") and not rx.match("c.txt")
    base2, rx2 = glob_base_and_regex("content/herbs/*.md")
    assert base2 == "content/herbs"
    assert rx2.match("x.md") and not rx2.match("sub/x.md")


def test_prefix_hex_unicode():
    # reference tests/constants.test.ts:20-40
    assert prefix_hex_path("a") == "0061"
    assert prefix_hex_path("あ") == "3042"
    assert prefix_hex_path("ab", depth=2) == "0061/0062"
    assert prefix_hex_path("") == "0000"


def test_cursor_roundtrip_unicode():
    cur = encode_cursor("my-slug", {"name": "ゴボウ"})
    out = decode_cursor(cur)
    assert out == {"slug": "my-slug", "order": {"name": "ゴボウ"}}


def test_cursor_invalid():
    with pytest.raises(ValueError, match="invalid cursor"):
        decode_cursor("!!!notbase64!!!")
    with pytest.raises(ValueError, match="invalid cursor"):
        decode_cursor("eyJ4IjogMX0=")  # valid b64 JSON but no slug
