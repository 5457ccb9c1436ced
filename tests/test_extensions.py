"""Extension points: custom indexers (U2), SSG export (S9), CLI (S7/S8)."""

from __future__ import annotations

import pytest

import json
import subprocess
import sys

from pyspark.sql import functions as F

from staticql_spark.indexing import index_entries
from staticql_spark.ssg import export_query, static_query
from tests.conftest import CONFIG, SF_SMOKE


def test_custom_indexer_derived_field(herbal):
    # U2: callback computing a derived indexed value; arrays fan out
    cfg = herbal.configs["herbs"]
    dfs = {n: herbal.df(n) for n in herbal.configs}
    indexers = {
        "herbs.nameLength": lambda rec: str(len(rec["name"])),
        "herbs.firstTag": lambda rec: rec["tagSlugs"][:1],
    }
    before = list(cfg.index_fields)
    try:
        entries = index_entries(dfs["herbs"], cfg, dfs, indexers=indexers)
        rows = entries.filter(F.col("field") == "nameLength").collect()
        by_slug = {r["slug"]: r["v"] for r in rows}
        assert by_slug["arctium-lappa"] == "3"  # ゴボウ
        assert by_slug["cymbopogon-citratus"] == "6"  # レモングラス
        first = entries.filter(F.col("field") == "firstTag").collect()
        assert {r["v"] for r in first} == {"antioxidant", "memory", "relaxation"}
    finally:
        cfg.index_fields = before


def test_custom_indexer_errors_skipped(herbal):
    cfg = herbal.configs["herbs"]
    dfs = {n: herbal.df(n) for n in herbal.configs}
    before = list(cfg.index_fields)
    try:
        entries = index_entries(
            dfs["herbs"], cfg, dfs,
            indexers={"herbs.boom": lambda rec: 1 / 0},
        )
        assert entries.filter(F.col("field") == "boom").count() == 0
    finally:
        cfg.index_fields = before


def test_ssg_static_query_payload(herbal):
    payload = static_query(
        herbal, lambda sq: sq.from_("herbs").order_by("name", "asc").page_size(2)
    )
    assert [r["slug"] for r in payload["data"]] == ["centella-asiatica", "arctium-lappa"]
    assert payload["pageInfo"]["hasNextPage"] is True
    assert payload["generatedAt"]


def test_ssg_export_writes_json(herbal, tmp_path):
    out = tmp_path / "herbs.json"
    export_query(herbal, lambda sq: sq.from_("herbs").page_size(1), str(out))
    data = json.loads(out.read_text())
    assert data["data"][0]["slug"] == "arctium-lappa"
    assert data["pageInfo"]["endCursor"]


@pytest.mark.slow  # soak-grade: excluded from the default gate (pytest.ini)
def test_cli_generate_index_full(content_dir, tmp_path):
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(CONFIG))
    out_dir = tmp_path / "index"
    res = subprocess.run(
        [
            sys.executable, "-m", "staticql_spark.cli", "generate-index",
            "--config", str(cfg_path), "--base-dir", str(content_dir),
            "--output", str(out_dir), "--manifest",
        ],
        capture_output=True, text=True, timeout=420, cwd="/root/repo",
    )
    assert res.returncode == 0, res.stderr[-2000:]
    manifest = json.loads((out_dir / "staticql-manifest.json").read_text())
    assert manifest["files"]
    assert (out_dir / "herbs").exists()


def test_cli_incremental_requires_diff_file(tmp_path):
    res = subprocess.run(
        [
            sys.executable, "-m", "staticql_spark.cli", "generate-index",
            "--config", "x.json", "--base-dir", ".", "--output", str(tmp_path),
            "--incremental",
        ],
        capture_output=True, text=True, timeout=60, cwd="/root/repo",
    )
    # parity: flag-validation failure exits non-zero (generate-index.test.ts:44-62)
    assert res.returncode != 0
    assert "diff-file" in res.stderr


def test_cli_compact_materializes_sources(spark, content_dir, tmp_path):
    from staticql_spark.cli import main

    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(CONFIG))
    out = str(tmp_path / "compacted")
    rc = main(
        [
            "compact",
            "--config", str(cfg_path),
            "--base-dir", str(content_dir),
            "--output", out,
        ]
    )
    assert rc == 0
    herbs = spark.read.parquet(f"{out}/herbs")
    assert herbs.count() == 3
    assert {"slug", "name", "raw"} <= set(herbs.columns)
    tags = spark.read.parquet(f"{out}/tags")
    assert tags.count() == 6


def test_generate_types_importable_and_shaped(tmp_path):
    # parity: cli/generate-types.ts + tests/generate-type.test.ts — the
    # emitted module must import cleanly and type every source
    import importlib.util
    import json

    from staticql_spark.cli import main
    from tests.conftest import CONFIG

    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(CONFIG), encoding="utf-8")
    rc = main(["generate-types", "--config", str(cfg_path), "--output", str(tmp_path)])
    assert rc == 0
    out = tmp_path / "staticql_types.py"
    assert out.exists()

    spec = importlib.util.spec_from_file_location("staticql_types", out)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert set(mod.SOURCE_TYPES) == set(CONFIG["sources"])
    herbs = mod.SOURCE_TYPES["herbs"]
    hints = herbs.__annotations__
    assert "slug" in hints and "name" in hints and "tags" in hints
    # relation field typed to the target record list (hasManyThrough etc.)
    text = out.read_text(encoding="utf-8")
    assert "tags: list[TagsRecord]" in text
    assert "recipes: list[RecipesRecord]" in text
    # nested object in recipeGroups becomes an auxiliary TypedDict
    assert "combinedHerbs" in text


def test_generate_types_missing_args_exits_nonzero(capsys):
    import pytest as _pytest

    from staticql_spark.cli import main

    with _pytest.raises(SystemExit) as exc:
        main(["generate-types", "--config", "only-config.json"])
    assert exc.value.code != 0


def test_cli_profile_reports_all_sources(spark, content_dir, tmp_path, capsys):
    from staticql_spark.cli import main

    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(CONFIG))
    rc = main(
        ["profile", "--config", str(cfg_path), "--base-dir", str(content_dir)]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out)
    assert set(report) == set(CONFIG["sources"])
    herbs = {row["col_name"]: row for row in report["herbs"]}
    assert herbs["slug"]["n_nulls"] == 0
    assert herbs["slug"]["n_distinct"] == 3
    assert all(row["n_rows"] == 3 for row in herbs.values())


def test_export_training_shards_parquet(spark, tmp_path):
    from staticql_spark.operators.shards import export_training_shards

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = str(tmp_path / "shards")
    m = export_training_shards(docs, out, records_per_file=120, order_col="doc_id")
    assert m["n_records"] == docs.count()
    assert m["n_files"] >= 4  # 500 docs / 120-cap
    # every file within cap; ranges ordered and non-overlapping
    assert all(f["n_records"] <= 120 for f in m["files"])
    keys = [(f["min_key"], f["max_key"]) for f in m["files"]]
    assert all(a[1] < b[0] for a, b in zip(keys, keys[1:]))
    # roundtrip: nothing lost
    assert spark.read.parquet(out).count() == m["n_records"]
    import json as _json

    with open(out + "/_manifest.json") as fh:
        assert _json.load(fh)["n_files"] == m["n_files"]


def test_export_training_shards_jsonl(spark, tmp_path):
    from staticql_spark.operators.shards import export_training_shards

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    out = str(tmp_path / "jsonl")
    m = export_training_shards(
        docs, out, records_per_file=200, order_col="doc_id", fmt="json"
    )
    # JSONL shards: each line parses as a record with the expected keys
    import glob as _glob
    import json as _json

    part = sorted(_glob.glob(out + "/part-*"))[0]
    with open(part) as fh:
        first = _json.loads(fh.readline())
    assert set(first) <= {"doc_id", "text", "lang"}
    assert m["n_records"] == docs.count()


def test_cli_export_shards_jsonl(spark, content_dir, tmp_path, capsys):
    from staticql_spark.cli import main

    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(CONFIG))
    out = tmp_path / "shards"
    rc = main(
        [
            "export-shards", "--config", str(cfg_path),
            "--base-dir", str(content_dir), "--source", "herbs",
            "--output", str(out), "--order-col", "slug",
            "--records-per-file", "2", "--format", "json",
        ]
    )
    assert rc == 0
    manifest = json.loads(capsys.readouterr().out)
    assert manifest["n_records"] == 3 and manifest["n_files"] == 2
    assert (out / "_manifest.json").exists()
    # each JSONL line is a full herb record without the raw column
    import glob as _glob

    lines = []
    for p in sorted(_glob.glob(str(out / "part-*"))):
        with open(p) as fh:
            lines += [json.loads(ln) for ln in fh if ln.strip()]
    assert len(lines) == 3 and all("slug" in r and "raw" not in r for r in lines)


@pytest.mark.slow  # soak-grade: excluded from the default gate (pytest.ini)
def test_snapshot_facade_roundtrip_and_integrity(spark, tmp_path):
    # one build/load/verify surface for every persisted index kind, with
    # an XOR-digest manifest that catches a mutated frame
    import pyspark.sql.functions as F

    from staticql_spark import snapshots

    docs = spark.createDataFrame(
        [(i, ("alpha beta gamma delta " * 3) + f"tail{i % 4}") for i in range(24)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "lsh_snap")
    manifest = snapshots.snapshot_build(docs, p, "lsh", n=3, num_hashes=16, bands=4)
    assert manifest["kind"] == "lsh"
    assert manifest["recipe"] == {"n": 3, "num_hashes": 16, "bands": 4}
    assert set(manifest["frames"]) == {"bands", "shingles", "meta"}
    assert manifest["frames"]["bands"]["rows"] == 24 * 4

    idx = snapshots.snapshot_load(spark, p, verify=True)
    assert idx.n == 3 and idx.n_bands == 4
    assert snapshots.snapshot_verify(spark, p)["ok"]

    # chunk kind: plain frame loader
    pc = str(tmp_path / "chunk_snap")
    snapshots.snapshot_build(docs, pc, "chunk", width=8)
    chunk = snapshots.snapshot_load(spark, pc, verify=True)
    assert set(chunk.columns) == {"h", "nd"}

    # integrity: drop one row from shingles and overwrite -> verify fails,
    # load(verify=True) refuses
    sh = spark.read.parquet(f"{p}/shingles")
    sh.filter(F.col("doc_id") != 0).write.mode("overwrite").parquet(
        str(tmp_path / "sh2")
    )
    spark.read.parquet(str(tmp_path / "sh2")).write.mode("overwrite").parquet(
        f"{p}/shingles"
    )
    report = snapshots.snapshot_verify(spark, p)
    assert not report["ok"] and "shingles" in report["mismatches"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="integrity"):
        snapshots.snapshot_load(spark, p, verify=True)

    # append + re-stamp equals a fresh manifest of the same content
    snapshots.snapshot_build(docs.filter(F.col("doc_id") < 12), p, "lsh",
                             n=3, num_hashes=16, bands=4)
    from staticql_spark.operators.dedup import lsh_append

    lsh_append(docs.filter(F.col("doc_id") >= 12), p)
    restamped = snapshots.snapshot_stamp(
        spark, p, "lsh", {"n": 3, "num_hashes": 16, "bands": 4}
    )
    full = snapshots.snapshot_build(
        docs, str(tmp_path / "lsh_full"), "lsh", n=3, num_hashes=16, bands=4
    )
    assert restamped["frames"]["bands"] == full["frames"]["bands"]
    assert restamped["frames"]["shingles"] == full["frames"]["shingles"]


def test_snapshot_frame_kind_generic_artifact(spark, tmp_path):
    # r10 (r9 roadmap #2 follow-through): the generic single-frame kind
    # gives ad-hoc artifacts (shared pair sets, CC labelings, centroids,
    # span tables) the same XOR-digest manifest + verify-on-load
    # contract as the named index families — __spark_entry__._artifact
    # now routes every build through it.
    import pytest as _pytest

    from staticql_spark import snapshots

    df = spark.createDataFrame(
        [(1, 2, 0.5), (3, 4, 0.75)], "id_a long, id_b long, jaccard double"
    )
    p = str(tmp_path / "frame_snap")
    manifest = snapshots.snapshot_build(df, p, "frame", name="lshpairs")
    assert manifest["kind"] == "frame"
    assert manifest["recipe"] == {"name": "lshpairs"}
    assert manifest["frames"]["data"]["rows"] == 2

    got = snapshots.snapshot_load(spark, p, verify=True)
    assert sorted(got.columns) == ["id_a", "id_b", "jaccard"]
    assert got.count() == 2

    # a torn overwrite (row lost) must fail verify and refuse to load
    df.limit(1).write.mode("overwrite").parquet(str(tmp_path / "d2"))
    spark.read.parquet(str(tmp_path / "d2")).write.mode("overwrite").parquet(
        f"{p}/data"
    )
    assert not snapshots.snapshot_verify(spark, p)["ok"]
    with _pytest.raises(ValueError, match="integrity"):
        snapshots.snapshot_load(spark, p, verify=True)


def test_snapshot_verify_pre_r11_md5_manifest_compat(spark, tmp_path):
    # a manifest stamped before the xxhash64 switch carries no
    # digest_algo field: verify must fall back to the md5 digest it was
    # stamped with instead of failing every legacy snapshot
    import json as _json
    import os as _os

    from staticql_spark import snapshots

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = str(tmp_path / "legacy")
    snapshots.snapshot_build(docs.limit(20), p, "chunk", width=8)
    mpath = _os.path.join(p, snapshots.MANIFEST_NAME)
    m = _json.load(open(mpath))
    assert m["digest_algo"] == "xxhash64"
    legacy_frames = snapshots._frame_stats(spark, p, "chunk", algo="md5")
    del m["digest_algo"]
    m["frames"] = legacy_frames
    with open(mpath, "w") as f:
        _json.dump(m, f)
    report = snapshots.snapshot_verify(spark, p)
    assert report["ok"], report
    # and a CONTENT change still trips the legacy-digest verify
    spark.read.parquet(f"{p}/index").limit(5).write.mode("overwrite").parquet(
        f"{p}/index_tmp"
    )
    import shutil

    shutil.rmtree(f"{p}/index")
    shutil.move(f"{p}/index_tmp", f"{p}/index")
    assert not snapshots.snapshot_verify(spark, p)["ok"]
