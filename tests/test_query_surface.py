"""E2E staticql-surface tests on the herbal fixture corpus.

This is the reference's primary correctness layer (tests/query.test.ts,
SURVEY §5.2) — the six canonical queries plus ingestion shape checks.
"""

from __future__ import annotations

import re

import pytest

from staticql_spark import NeedsIndexError


def test_ingestion_shapes(herbal):
    assert herbal.df("herbs").count() == 3
    assert herbal.df("tags").count() == 6
    assert herbal.df("compounds").count() == 5
    assert herbal.df("recipes").count() == 2
    assert herbal.df("recipeGroups").count() == 2
    assert herbal.df("processes").count() == 6
    # multi-record YAML slugs are explicit; markdown slugs derive from path
    slugs = {r["slug"] for r in herbal.df("herbs").select("slug").collect()}
    assert slugs == {"arctium-lappa", "centella-asiatica", "cymbopogon-citratus"}
    # nested-dir slug with '--' separator
    rslugs = {r["slug"] for r in herbal.df("recipes").select("slug").collect()}
    assert rslugs == {"recipeGroup001--001", "recipeGroup002--001"}


def test_q1_point_filter(herbal):
    # query.test.ts:16-25
    page = herbal.from_("herbs").where("slug", "eq", "arctium-lappa").exec()
    assert len(page.data) == 1
    assert page.data[0]["name"] == "ゴボウ"


def test_q2_join_filter_on_relation_field(herbal):
    # query.test.ts:27-37 — 1 recipe; its herbs array has exactly 2 elements
    page = (
        herbal.from_("recipes")
        .join("herbs")
        .where("herbs.slug", "in", ["centella-asiatica"])
        .exec()
    )
    assert len(page.data) == 1
    rec = page.data[0]
    assert rec["slug"] == "recipeGroup002--001"
    assert len(rec["herbs"]) == 2
    herb_slugs = {h["slug"] for h in rec["herbs"]}
    assert herb_slugs == {"centella-asiatica", "cymbopogon-citratus"}


def test_q3_full_scan_default_order(herbal):
    # query.test.ts:41-54 — slug asc, no cursor
    page = herbal.from_("herbs").exec()
    assert [r["slug"] for r in page.data] == [
        "arctium-lappa",
        "centella-asiatica",
        "cymbopogon-citratus",
    ]
    assert page.page_info.has_next_page is False
    assert page.page_info.has_previous_page is False
    assert page.page_info.start_cursor and page.page_info.end_cursor


def test_q4_order_by_name(herbal):
    # query.test.ts:57-81 — ゴツゴラ < ゴボウ < レモングラス
    asc = herbal.from_("herbs").order_by("name", "asc").exec()
    assert [r["slug"] for r in asc.data] == [
        "centella-asiatica",
        "arctium-lappa",
        "cymbopogon-citratus",
    ]
    desc = herbal.from_("herbs").order_by("name", "desc").exec()
    assert [r["slug"] for r in desc.data] == [
        "cymbopogon-citratus",
        "arctium-lappa",
        "centella-asiatica",
    ]


def test_q5_cursor_pagination(herbal):
    # query.test.ts:84-108
    p1 = herbal.from_("herbs").order_by("name", "asc").page_size(2).exec()
    assert [r["slug"] for r in p1.data] == ["centella-asiatica", "arctium-lappa"]
    assert p1.page_info.has_next_page is True
    assert p1.page_info.has_previous_page is False

    p2 = (
        herbal.from_("herbs")
        .order_by("name", "asc")
        .page_size(2)
        .cursor(p1.page_info.end_cursor, "after")
        .exec()
    )
    assert [r["slug"] for r in p2.data] == ["cymbopogon-citratus"]
    assert p2.page_info.has_next_page is False
    assert p2.page_info.has_previous_page is True


def test_q5b_cursor_before(herbal):
    p1 = herbal.from_("herbs").order_by("name", "asc").page_size(2).exec()
    back = (
        herbal.from_("herbs")
        .order_by("name", "asc")
        .page_size(2)
        .cursor(p1.page_info.end_cursor, "before")
        .exec()
    )
    # rows strictly before arctium-lappa in name order
    assert [r["slug"] for r in back.data] == ["centella-asiatica"]


def test_q6_needs_index_error(herbal):
    # query.test.ts:111-122
    with pytest.raises(NeedsIndexError) as ei:
        herbal.from_("herbs").where("overview", "eq", "ゴボウの概要").exec()
    msg = str(ei.value)
    assert msg.startswith("[herbs] needs index:")
    assert '"field":"overview"' in msg


def test_has_many_join_attach(herbal):
    page = herbal.from_("herbs").join("tags").where("slug", "eq", "arctium-lappa").exec()
    tags = page.data[0]["tags"]
    assert {t["slug"] for t in tags} == {"antioxidant", "antiinflammatory"}
    assert all("name" in t.asDict() for t in tags)


def test_dangling_fk_tolerated(herbal):
    # arctigenin is not in compounds — reference tolerates dangling FKs
    page = herbal.from_("herbs").join("compounds").where("slug", "eq", "arctium-lappa").exec()
    comps = page.data[0]["compounds"]
    assert {c["slug"] for c in comps} == {"inulin"}


def test_has_one_through(herbal):
    page = herbal.from_("recipes").join("process").where("slug", "eq", "recipeGroup001--001").exec()
    proc = page.data[0]["process"]
    assert proc is not None and proc["slug"] == "infusion"


def test_through_from_herbs_side(herbal):
    # herbs -> recipes via recipeGroups (nested array through key)
    page = herbal.from_("herbs").join("recipes").where("slug", "eq", "centella-asiatica").exec()
    recs = page.data[0]["recipes"]
    assert [r["slug"] for r in recs] == ["recipeGroup002--001"]


def test_array_field_any_element_eq(herbal):
    # eq on array field = membership (P5)
    page = herbal.from_("herbs").where("tagSlugs", "eq", "memory").exec()
    assert [r["slug"] for r in page.data] == ["centella-asiatica"]


def test_startswith_filter(herbal):
    page = herbal.from_("herbs").where("name", "startsWith", "ゴ").exec()
    assert {r["slug"] for r in page.data} == {"arctium-lappa", "centella-asiatica"}


def test_find(herbal):
    row = herbal.from_("herbs").find("centella-asiatica")
    assert row is not None and row["name"] == "ゴツゴラ"
    assert herbal.from_("herbs").find("nope") is None


def test_peek_index_only(herbal):
    page = herbal.from_("herbs").where("slug", "eq", "arctium-lappa").peek()
    row = page.data[0]
    cols = set(row.asDict().keys())
    # only indexed/covering columns — no overview/raw
    assert "overview" not in cols and "raw" not in cols
    assert "slug" in cols and "name" in cols


def test_spark_native_sql_surface(herbal):
    out = herbal.sql(
        """
        SELECT h.slug, count(*) AS n_tags
        FROM herbs h LATERAL VIEW explode(tagSlugs) t AS tag
        GROUP BY h.slug ORDER BY h.slug
        """
    ).collect()
    assert [(r["slug"], r["n_tags"]) for r in out] == [
        ("arctium-lappa", 2),
        ("centella-asiatica", 2),
        ("cymbopogon-citratus", 2),
    ]


def test_unknown_source_and_relation_errors(herbal):
    with pytest.raises(ValueError, match="unknown source"):
        herbal.from_("nope")
    with pytest.raises(ValueError, match="unknown relation"):
        herbal.from_("herbs").join("nonexistent").exec()


def test_garbage_cursor_rejected(herbal):
    with pytest.raises(ValueError, match="invalid cursor"):
        herbal.from_("herbs").cursor("!!!garbage!!!").exec()


@pytest.mark.parametrize("n", [0, -1, -2])
def test_non_positive_page_size_rejected(herbal, n):
    # 0/-1 used to return an empty page with has_next_page=True and no
    # end cursor; <= -2 failed inside Spark with a raw LIMIT error
    with pytest.raises(ValueError, match="page size must be >= 1"):
        herbal.from_("herbs").page_size(n)


def test_slug_mismatch_is_load_error(spark, tmp_path):
    # single-record file whose embedded slug disagrees with the path-derived
    # slug must fail the load (reference: src/SourceLoader.ts:163-169)
    from staticql_spark import define

    d = tmp_path / "content" / "herbs"
    d.mkdir(parents=True)
    (d / "real-name.md").write_text(
        "---\nslug: other-name\nname: x\ntagSlugs:\n  - t\noverview: o\n---\n",
        encoding="utf-8",
    )
    cfg = {
        "sources": {
            "herbs": {
                "pattern": "content/herbs/*.md",
                "type": "markdown",
                "schema": {
                    "type": "object",
                    "properties": {"name": {"type": "string"}},
                    "required": ["name"],
                },
            }
        }
    }
    sql = define(cfg)(base_dir=str(tmp_path), spark=spark)
    with pytest.raises(Exception, match="slug mismatch"):
        sql.df("herbs").collect()


def test_instance_reads_a_snapshot_of_its_content(spark, content_dir, tmp_path):
    # An instance parses its sources once; an edit made after its first
    # read is seen by a new define(), not by the same instance.
    import shutil

    from staticql_spark import define
    from tests.conftest import CONFIG

    shutil.copytree(content_dir, tmp_path, dirs_exist_ok=True)
    sql = define(CONFIG)(base_dir=str(tmp_path), spark=spark)
    assert sql.from_("herbs").find("arctium-lappa")["name"] == "ゴボウ"

    p = tmp_path / "content" / "herbs" / "arctium-lappa.md"
    p.write_text(p.read_text().replace("name: ゴボウ", "name: 牛蒡"), encoding="utf-8")
    assert sql.from_("herbs").find("arctium-lappa")["name"] == "ゴボウ"
    assert sql.fresh().from_("herbs").find("arctium-lappa")["name"] == "牛蒡"
    again = define(CONFIG)(base_dir=str(tmp_path), spark=spark)
    assert again.from_("herbs").find("arctium-lappa")["name"] == "牛蒡"


def test_find_is_one_job(herbal):
    # slugs are unique, so find collects its filtered rows in one job, for
    # a hit and for a miss alike
    sc = herbal.spark.sparkContext
    herbal.from_("herbs").find("arctium-lappa")  # the snapshot's first parse
    for slug, name in [("arctium-lappa", "ゴボウ"), ("no-such-herb", None)]:
        group = f"test-find-{slug}"
        sc.setJobGroup(group, "find")
        try:
            row = herbal.from_("herbs").find(slug)
        finally:
            sc._jsc.clearJobGroup()
        assert (row and row["name"]) == name
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_failed_first_read_is_not_kept(spark, tmp_path):
    # A source whose first read fails validation fails again on the next
    # read of the same instance: no partial snapshot stands in for it.
    from staticql_spark import define

    d = tmp_path / "content" / "herbs"
    d.mkdir(parents=True)
    (d / "ok.md").write_text("---\nname: x\n---\n", encoding="utf-8")
    (d / "bad.md").write_text("---\noverview: o\n---\n", encoding="utf-8")
    cfg = {
        "sources": {
            "herbs": {
                "pattern": "content/herbs/*.md",
                "type": "markdown",
                "schema": {
                    "type": "object",
                    "properties": {"name": {"type": "string"}},
                    "required": ["name"],
                },
                "index": ["name"],
            }
        }
    }
    sql = define(cfg)(base_dir=str(tmp_path), spark=spark)
    for _ in range(2):
        with pytest.raises(Exception, match="required field 'name' is null for slug=bad"):
            sql.from_("herbs").where("name", "eq", "x").exec()


def test_parquet_source_keeps_pushed_filters(spark, tmp_path):
    # type: parquet sources are columnar already and are not snapshotted,
    # so a where() still reaches the parquet reader as a pushed filter.
    from staticql_spark import define

    spark.createDataFrame(
        [("a", "x"), ("b", "y")], "slug string, name string"
    ).write.parquet(str(tmp_path / "items"))
    cfg = {"sources": {"items": {"pattern": "items", "type": "parquet", "index": ["name"]}}}
    sql = define(cfg)(base_dir=str(tmp_path), spark=spark)
    df = sql.from_("items").where("name", "eq", "x").plan()
    assert [r["slug"] for r in df.collect()] == ["a"]
    p = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Scan parquet" in p and "ExistingRDD" not in p, p
    assert re.search(r"PushedFilters: \[.*EqualTo\(name,x\)", p), p


def test_type_mismatch_is_descriptive_load_error(spark, tmp_path):
    # simpleValidate parity (reference src/validator/simpleValidate.ts:82-115):
    # a wrong-typed field must fail loudly with the expected type in the
    # message, not silently load as null (from_json's PERMISSIVE default).
    from staticql_spark import define

    d = tmp_path / "content" / "items"
    d.mkdir(parents=True)
    (d / "bad.md").write_text(
        "---\nname: x\nrating: not-a-number\n---\n", encoding="utf-8"
    )
    cfg = {
        "sources": {
            "items": {
                "pattern": "content/items/*.md",
                "type": "markdown",
                "schema": {
                    "type": "object",
                    "properties": {
                        "name": {"type": "string"},
                        "rating": {"type": "number"},
                    },
                    "required": ["name"],
                },
            }
        }
    }
    sql = define(cfg)(base_dir=str(tmp_path), spark=spark)
    with pytest.raises(Exception, match="expected number at 'rating'"):
        sql.df("items").collect()

    # a genuinely absent / null optional field still loads as null
    (d / "bad.md").unlink()
    (d / "ok.md").write_text("---\nname: x\nrating:\n---\n", encoding="utf-8")
    rows = define(cfg)(base_dir=str(tmp_path), spark=spark).df("items").collect()
    assert rows[0]["rating"] is None

    # nested object leaf: the walk recurses with a dotted path, like the
    # reference's 'value.meta.weight' path strings
    (d / "ok.md").unlink()
    (d / "nested.md").write_text(
        "---\nname: x\nmeta:\n  weight: heavy\n---\n", encoding="utf-8"
    )
    cfg["sources"]["items"]["schema"]["properties"]["meta"] = {
        "type": "object",
        "properties": {"weight": {"type": "number"}},
    }
    sql = define(cfg)(base_dir=str(tmp_path), spark=spark)
    with pytest.raises(Exception, match="expected number at 'meta.weight'"):
        sql.df("items").collect()


def test_type_mismatch_string_and_integer_token_shapes(spark, tmp_path):
    # the two cases where from_json alone cannot see the raw token type
    # (simpleValidate.ts:82-90 parity via the VARIANT probe):
    # 1. a number under a string-typed field errors ("got number") instead
    #    of silently coercing to its string form
    # 2. an integral float (3.0) under an integer-typed field is ACCEPTED
    #    (Number.isInteger semantics) and loads as 3
    from staticql_spark import define

    d = tmp_path / "content" / "items"
    d.mkdir(parents=True)
    cfg = {
        "sources": {
            "items": {
                "pattern": "content/items/*.md",
                "type": "markdown",
                "schema": {
                    "type": "object",
                    "properties": {
                        "name": {"type": "string"},
                        "count": {"type": "integer"},
                    },
                    "required": [],
                },
            }
        }
    }

    (d / "a.md").write_text("---\nname: 123\ncount: 1\n---\n", encoding="utf-8")
    sql = define(cfg)(base_dir=str(tmp_path), spark=spark)
    with pytest.raises(Exception, match="expected string at 'name', got number"):
        sql.df("items").collect()

    (d / "a.md").unlink()
    (d / "b.md").write_text("---\nname: x\ncount: 3.0\n---\n", encoding="utf-8")
    rows = define(cfg)(base_dir=str(tmp_path), spark=spark).df("items").collect()
    assert rows[0]["count"] == 3

    (d / "b.md").unlink()
    (d / "c.md").write_text("---\nname: x\ncount: 3.5\n---\n", encoding="utf-8")
    sql = define(cfg)(base_dir=str(tmp_path), spark=spark)
    with pytest.raises(Exception, match="expected integer at 'count', got number"):
        sql.df("items").collect()

    # genuine strings that LOOK numeric still load fine
    (d / "c.md").unlink()
    (d / "dd.md").write_text('---\nname: "123"\ncount: 7\n---\n', encoding="utf-8")
    rows = define(cfg)(base_dir=str(tmp_path), spark=spark).df("items").collect()
    assert rows[0]["name"] == "123" and rows[0]["count"] == 7


def test_q5c_cursor_dot_path_order_key(herbal):
    # ordering by an indexed relation dot-path ('herbs.slug' on recipes):
    # the emitted cursor must carry the RESOLVED order value, not the row
    # slug — a slug-valued cursor poisons the next page's keyset predicate
    from staticql_spark.functions import decode_cursor

    q = lambda: herbal.from_("recipes").join("herbs").order_by("herbs.slug", "asc")
    full = [r["slug"] for r in q().page_size(10).exec().data]
    assert len(full) == 2

    p1 = q().page_size(1).exec()
    cur = decode_cursor(p1.page_info.end_cursor)
    row1 = p1.data[0]
    first_herb_slug = sorted(h["slug"] for h in row1["herbs"])[0]
    assert cur["order"]["herbs.slug"] == first_herb_slug
    assert cur["order"]["herbs.slug"] != row1["slug"]

    p2 = q().page_size(1).cursor(p1.page_info.end_cursor, "after").exec()
    assert [r["slug"] for r in p1.data] + [r["slug"] for r in p2.data] == full


def test_orderby_icu_collation_matches_localecompare(spark):
    # reference client sorts via localeCompare (src/QueryBuilder.ts:639-641);
    # the default here is binary code-point order (oracle-reproducible,
    # documented divergence), with ICU order available per-query via the
    # Spark 4 collation: 'é' sorts between 'a' and 'z' under ICU but after
    # both under code-point order.
    from staticql_spark.config import SourceConfig
    from staticql_spark.query import QueryBuilder

    cfg = SourceConfig(name="docs", index_fields=["name"])
    df = spark.createDataFrame(
        [("s1", "é-doc"), ("s2", "z-doc"), ("s3", "a-doc")], ["slug", "name"]
    )
    qb = lambda: QueryBuilder(df, cfg, {"docs": df}, {"docs": cfg})

    binary = [r["name"] for r in qb().order_by("name", "asc").exec().data]
    assert binary == ["a-doc", "z-doc", "é-doc"]

    icu = [
        r["name"]
        for r in qb().order_by("name", "asc", collation="UNICODE").exec().data
    ]
    assert icu == ["a-doc", "é-doc", "z-doc"]  # localeCompare order

    # keyset cursor must honor the collation too: after page 1 ('a-doc'),
    # ICU page 2 is 'é-doc' (binary would give 'z-doc')
    p1 = qb().order_by("name", "asc", collation="UNICODE").page_size(1).exec()
    p2 = (
        qb()
        .order_by("name", "asc", collation="UNICODE")
        .page_size(1)
        .cursor(p1.page_info.end_cursor, "after")
        .exec()
    )
    assert [r["name"] for r in p2.data] == ["é-doc"]


def test_driver_contract_registry_is_total():
    """Meta-contract: every queries() key has an oracle twin, keys are
    unique strings, and oracles are non-empty SQL — a registration typo
    (key in one dict but not the other) surfaces here, not in the driver
    run."""
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(q) == set(o), set(q) ^ set(o)
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in o.values())
    # the driver's correctness gate reads the FIRST 50 keys in insertion
    # order, so a new or changed key goes at the front of queries()
    head = list(q)[:50]
    assert len(head) == 50


def test_entry_module_has_no_shadowed_defs_or_keys():
    """r7 regression guard: a duplicate `def q_*` silently replaces the
    earlier function and a duplicate dict key silently drops a registry
    row — both happened (events_retention / events_funnel /
    events_attribution) when r7 re-used r5 names. Parse the source and
    fail loudly instead."""
    import collections
    import re

    src = open("__spark_entry__.py").read()
    defs = re.findall(r"^def (q_[a-z0-9_]+)\(", src, re.M)
    dup_defs = [k for k, c in collections.Counter(defs).items() if c > 1]
    assert not dup_defs, f"shadowed query defs: {dup_defs}"
    keys = re.findall(r'^\s+"([a-z0-9_]+)": q_', src, re.M)
    dup_keys = [k for k, c in collections.Counter(keys).items() if c > 1]
    assert not dup_keys, f"duplicate registry keys: {dup_keys}"
