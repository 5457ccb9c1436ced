"""Relation match tables kept with a ``StaticQL`` snapshot.

The first read that attaches a relation builds its (slug, _matches) table
over the whole source snapshot; later reads of the instance join that
table.  These tests hold the kept-table attach equal to computing the
relation over the filtered frame (``QueryBuilder`` without a
``match_table``, the per-read path), and pin when a table is kept.
"""

from __future__ import annotations

import re
import shutil

import pytest

from staticql_spark import QueryBuilder, define
from tests.conftest import CONFIG

STR = {"type": "string"}
STR_ARRAY = {"type": "array", "items": STR}

# hasOne, belongsTo, hasMany and belongsToMany over two YAML sources, with
# rows that match nothing and key arrays out of (key value, slug) order.
SHELF_CONFIG = {
    "sources": {
        "books": {
            "pattern": "content/books.yaml",
            "type": "yaml",
            "schema": {
                "type": "object",
                "properties": {"title": STR, "authorSlug": STR, "tagSlugs": STR_ARRAY},
                "required": ["title"],
            },
            "relations": {
                "author": {
                    "type": "belongsTo",
                    "to": "authors",
                    "localKey": "authorSlug",
                    "foreignKey": "slug",
                },
                "featuredBy": {
                    "type": "hasOne",
                    "to": "authors",
                    "localKey": "slug",
                    "foreignKey": "featured",
                },
                "tags": {
                    "type": "hasMany",
                    "to": "authors",
                    "localKey": "tagSlugs",
                    "foreignKey": "genres",
                },
            },
            "index": ["title", "authorSlug", "author.name"],
        },
        "authors": {
            "pattern": "content/authors.yaml",
            "type": "yaml",
            "schema": {
                "type": "object",
                "properties": {"name": STR, "featured": STR, "genres": STR_ARRAY},
                "required": ["name"],
            },
            "relations": {
                "books": {
                    "type": "hasMany",
                    "to": "books",
                    "localKey": "slug",
                    "foreignKey": "authorSlug",
                },
                "taggedBooks": {
                    "type": "belongsToMany",
                    "to": "books",
                    "localKey": "genres",
                    "foreignKey": "tagSlugs",
                },
            },
            "index": ["name"],
        },
    }
}

BOOKS_YAML = """- slug: b1
  title: One
  authorSlug: ann
  tagSlugs: [poetry, essay]
- slug: b2
  title: Two
  authorSlug: ann
  tagSlugs: []
- slug: b3
  title: Three
  authorSlug: nobody
  tagSlugs: [essay]
- slug: b0
  title: Zero
  authorSlug: bob
  tagSlugs: [poetry]
"""

AUTHORS_YAML = """- slug: ann
  name: Ann
  featured: b2
  genres: [poetry, essay]
- slug: bob
  name: Bob
  genres: [poetry]
- slug: cy
  name: Cy
  genres: []
"""


def _shelf(spark, tmp_path, authors=AUTHORS_YAML):
    (tmp_path / "content").mkdir()
    (tmp_path / "content" / "books.yaml").write_text(BOOKS_YAML, encoding="utf-8")
    (tmp_path / "content" / "authors.yaml").write_text(authors, encoding="utf-8")
    return define(SHELF_CONFIG)(base_dir=str(tmp_path), spark=spark)


def _per_read(sql, name):
    """The same query builder without kept tables: every relation is
    computed over the filtered frame."""
    dfs = {n: sql.df(n) for n in sql.configs}
    return QueryBuilder(dfs[name], sql.configs[name], dfs, sql.configs)


def _rows(qb, rel_names):
    for r in rel_names:
        qb.join(r)
    return sorted(
        (r.asDict(recursive=True) for r in qb.plan().collect()), key=lambda d: d["slug"]
    )


def _slugs(v):
    if v is None:
        return None
    return [m["slug"] for m in v] if isinstance(v, list) else v["slug"]


@pytest.mark.parametrize(
    "name, rels, where",
    [
        ("books", ["author", "featuredBy", "tags"], None),
        ("books", ["author", "tags"], ("title", "in", ["Two", "Three"])),
        ("books", ["tags"], ("author.name", "eq", "Ann")),
        ("authors", ["books", "taggedBooks"], None),
        ("authors", ["taggedBooks"], ("name", "eq", "Cy")),
    ],
)
def test_kept_table_attach_equals_per_read_attach(spark, tmp_path, name, rels, where):
    sql = _shelf(spark, tmp_path)
    qb, per_read = sql.from_(name), _per_read(sql, name)
    if where:
        qb.where(*where)
        per_read.where(*where)
    got = _rows(qb, rels)
    assert got == _rows(per_read, rels)
    assert {(name, r) for r in rels} <= set(sql._tables)


def test_kept_table_values_order_and_no_match(spark, tmp_path):
    sql = _shelf(spark, tmp_path)
    books = {
        r["slug"]: r for r in _rows(sql.from_("books"), ["author", "featuredBy", "tags"])
    }
    # belongsTo / hasOne are first-or-null; hasMany is [] without a match and
    # ordered by (key value, slug): essay before poetry whatever the array order
    assert [(s, _slugs(r["author"]), _slugs(r["featuredBy"]), _slugs(r["tags"]))
            for s, r in sorted(books.items())] == [
        ("b0", "bob", None, ["ann", "bob"]),
        ("b1", "ann", None, ["ann", "bob"]),
        ("b2", "ann", "ann", []),
        ("b3", None, None, ["ann"]),
    ]
    authors = {r["slug"]: r for r in _rows(sql.from_("authors"), ["books", "taggedBooks"])}
    assert [(s, _slugs(r["books"]), _slugs(r["taggedBooks"]))
            for s, r in sorted(authors.items())] == [
        ("ann", ["b1", "b2"], ["b1", "b3", "b0"]),
        ("bob", ["b0"], ["b0", "b1"]),
        ("cy", [], []),
    ]


@pytest.mark.parametrize(
    "name, where, rels",
    [
        ("recipes", ("herbs.slug", "eq", "centella-asiatica"), []),
        ("recipes", ("herbs.slug", "eq", "centella-asiatica"), ["herbs", "process"]),
        ("herbs", ("slug", "in", ["arctium-lappa", "cymbopogon-citratus"]), ["recipes"]),
        ("herbs", ("tagSlugs", "eq", "memory"), ["tags", "compounds"]),
    ],
)
def test_herbal_relation_path_filter_and_through(herbal, name, where, rels):
    got = _rows(herbal.from_(name).where(*where), rels)
    assert got == _rows(_per_read(herbal, name).where(*where), rels)
    assert got and all(set(rels) <= set(r) for r in got)
    if name == "recipes":
        assert [r["slug"] for r in got] == ["recipeGroup002--001"]
        assert "herbs" not in rels or _slugs(got[0]["herbs"]) == [
            "centella-asiatica", "cymbopogon-citratus"
        ]


def test_edited_related_source_is_seen_by_fresh(spark, content_dir, tmp_path):
    shutil.copytree(content_dir, tmp_path, dirs_exist_ok=True)
    sql = define(CONFIG)(base_dir=str(tmp_path), spark=spark)

    def tag_names(s):
        page = s.from_("herbs").where("tagSlugs", "eq", "memory").join("tags").exec()
        return [t["name"] for t in page.data[0]["tags"]]

    assert tag_names(sql) == ["記憶", "肌"]
    p = tmp_path / "content" / "tags.yaml"
    p.write_text(p.read_text().replace("name: 記憶", "name: 記憶力"), encoding="utf-8")
    assert tag_names(sql) == ["記憶", "肌"]
    assert tag_names(sql.fresh()) == ["記憶力", "肌"]


def test_failed_table_build_is_not_kept(spark, tmp_path):
    # an author without the required name fails validation when the first
    # read builds the books -> authors table; no table stands in for it
    sql = _shelf(spark, tmp_path, authors=AUTHORS_YAML + "- slug: dee\n  genres: []\n")
    for _ in range(2):
        with pytest.raises(Exception, match="required field 'name' is null for slug=dee"):
            sql.from_("books").join("author").exec()
        assert ("books", "author") not in sql._tables


def test_relation_over_parquet_keeps_pushed_filters(spark, tmp_path):
    # a relation that reads a parquet source is computed per read, so the
    # where() still reaches the parquet reader and no table is kept
    spark.createDataFrame(
        [("a", "x", ["poetry"]), ("b", "y", ["essay"])],
        "slug string, name string, tagSlugs array<string>",
    ).write.parquet(str(tmp_path / "items"))
    (tmp_path / "content").mkdir()
    (tmp_path / "content" / "authors.yaml").write_text(AUTHORS_YAML, encoding="utf-8")
    cfg = {
        "sources": {
            "items": {
                "pattern": "items",
                "type": "parquet",
                "relations": {
                    "authors": {
                        "type": "hasMany",
                        "to": "authors",
                        "localKey": "tagSlugs",
                        "foreignKey": "genres",
                    }
                },
                "index": ["name"],
            },
            "authors": SHELF_CONFIG["sources"]["authors"] | {"relations": {}},
        }
    }
    sql = define(cfg)(base_dir=str(tmp_path), spark=spark)
    df = sql.from_("items").where("name", "eq", "x").join("authors").plan()
    assert [(r["slug"], _slugs(r["authors"])) for r in df.collect()] == [("a", ["ann", "bob"])]
    assert sql._tables == {}
    p = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert re.search(r"PushedFilters: \[.*EqualTo\(name,x\)", p), p
