"""Unified snapshot facade over the persisted-index family: one naming
scheme for every persisted index.

A production deployment stores three kinds of corpus-derived artifacts —
the MinHash-LSH index (``dedup.lsh_build``), the PQ/IVFADC index
(``pq.pq_build``) and the chunk-frequency index (``dedup.chunk_index``)
— each with its own build function and directory layout.  This module
gives them ONE entry point and, more importantly, ONE integrity
manifest: ``_snapshot.json`` at the snapshot root records the kind, the
scalar recipe, and per-frame (row count, XOR content checksum).  The
per-row digest is native ``xxhash64`` over all columns (r11; see
_DIGESTS for why, and for the md5 back-compat path for pre-r11
manifests); XOR makes the checksum order- and partitioning-independent,
so re-verifying a snapshot after a re-shuffle costs one map-side pass
per frame — the shard_checksums contract applied to index artifacts,
with a Spark-internal hash since no other engine ever recomputes a
manifest.

``snapshot_load(..., verify=True)`` recomputes the stats and refuses a
snapshot whose bytes no longer match its manifest — the guard a serving
fleet wants between "the index directory exists" and "the index is the
one the build job wrote" (partial uploads, torn overwrites, manual
edits).  After an append (``lsh_append``/``pq_append``), re-stamp with
:func:`snapshot_stamp` — the manifest describes CONTENT, so append +
re-stamp equals a fresh build's manifest (append-equals-rebuild is
locked by the index-level tests).

Driver-side JSON is correct here: the manifest is a handful of numbers;
the frames themselves stay distributed parquet.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup, pq
from .operators.shards import row_digest

MANIFEST_NAME = "_snapshot.json"

# frame subdirectories per kind (coarse is optional for pq).  "frame"
# is the generic single-frame kind: any derived DataFrame persisted as
# an artifact (shared pair sets, CC labelings, trained centroids, span
# tables) gets the same manifest + verify-on-load contract as the named
# index families — r9 roadmap #2, so NO persisted artifact is exempt
# from the torn-write guard.
_FRAMES = {
    "lsh": ["bands", "shingles", "meta"],
    "pq": ["codebooks", "codes", "keys", "coarse"],
    "chunk": ["index"],
    "frame": ["data"],
}


# Manifest digest algorithms.  "xxhash64" (default since r11) is the
# native JVM whole-stage-codegen hash over ALL columns (arrays
# included) — the stamp + verify-on-load passes over a 500k-doc LSH
# index cost ~220 s with the md5-over-stringified-rows digest (the
# measured bulk of SOAK_r11's lsh_index_full build) and single-digit
# seconds with xxhash64.  Manifests are Spark-internal integrity
# artifacts — nothing cross-engine ever recomputes them (the
# engine-portable md5 idiom stays where it is oracle-checked:
# shards.row_digest / shard_checksums) — so the fast hash loses
# nothing.  Pre-r11 manifests carry no "digest_algo" field and verify
# with md5 for compatibility.
_DIGESTS = {
    "xxhash64": lambda cols: F.xxhash64(*[F.col(c) for c in cols]),
    "md5": row_digest,
}
_DEFAULT_DIGEST = "xxhash64"


def _frame_stats(
    spark: SparkSession, path: str, kind: str, algo: str = _DEFAULT_DIGEST
) -> dict:
    stats = {}
    for name in _FRAMES[kind]:
        sub = f"{path.rstrip('/')}/{name}"
        if not os.path.exists(sub):
            continue
        df = spark.read.parquet(sub)
        row = df.select(
            _DIGESTS[algo](sorted(df.columns)).alias("__d")
        ).agg(
            F.count("*").cast("long").alias("n"),
            F.expr("bit_xor(__d)").alias("ck"),
        ).collect()[0]
        stats[name] = {"rows": int(row["n"]), "xor_checksum": int(row["ck"] or 0)}
    return stats


def snapshot_stamp(spark: SparkSession, path: str, kind: str, recipe: dict | None = None) -> dict:
    """(Re-)write the integrity manifest for an existing snapshot
    directory — called by :func:`snapshot_build`, and by hand after an
    append mutates the frames."""
    if kind not in _FRAMES:
        raise ValueError(f"unknown snapshot kind: {kind!r} (have {sorted(_FRAMES)})")
    manifest = {
        "kind": kind,
        "digest_algo": _DEFAULT_DIGEST,
        "recipe": {
            k: v
            for k, v in (recipe or {}).items()
            if isinstance(v, (int, float, str, bool))
        },
        "frames": _frame_stats(spark, path, kind),
    }
    with open(os.path.join(path, MANIFEST_NAME), "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def snapshot_build(df: DataFrame, path: str, kind: str, **recipe) -> dict:
    """Build a persisted index of the given ``kind`` at ``path`` via its
    family build function, then stamp the integrity manifest.  Returns
    the manifest.  Non-scalar recipe values (e.g. a ``coarse_centroids``
    frame) are passed through to the builder but recorded in the
    manifest only by presence (the frame itself is persisted by the
    builder and checksummed like every other frame)."""
    spark = df.sparkSession
    os.makedirs(path, exist_ok=True)
    if kind == "lsh":
        dedup.lsh_build(df, path, **recipe)
    elif kind == "pq":
        pq.pq_build(df, path, **recipe)
    elif kind == "chunk":
        dedup.chunk_index(df, **recipe).write.mode("overwrite").parquet(
            f"{path.rstrip('/')}/index"
        )
    elif kind == "frame":
        # the generic kind persists the caller's frame as-is; the
        # recipe is pure metadata (e.g. the artifact's cache name)
        df.write.mode("overwrite").parquet(f"{path.rstrip('/')}/data")
    else:
        raise ValueError(f"unknown snapshot kind: {kind!r} (have {sorted(_FRAMES)})")
    stamped = dict(recipe)
    for k, v in list(stamped.items()):
        if not isinstance(v, (int, float, str, bool)):
            stamped[k] = True  # presence marker (e.g. coarse_centroids)
    return snapshot_stamp(spark, path, kind, stamped)


def snapshot_verify(spark: SparkSession, path: str) -> dict:
    """Recompute per-frame stats and diff them against the manifest.
    Returns ``{"ok": bool, "kind": ..., "mismatches": {frame: {field:
    (manifest, actual)}}}`` — a missing frame or a single changed row
    shows up as a mismatch (XOR digest flips)."""
    with open(os.path.join(path, MANIFEST_NAME), encoding="utf-8") as f:
        manifest = json.load(f)
    # pre-r11 manifests carry no digest_algo: verify with the md5 digest
    # they were stamped with
    actual = _frame_stats(
        spark, path, manifest["kind"], manifest.get("digest_algo", "md5")
    )
    mismatches: dict = {}
    for name, want in manifest["frames"].items():
        got = actual.get(name)
        if got is None:
            mismatches[name] = {"missing": (want, None)}
            continue
        for field in ("rows", "xor_checksum"):
            if got[field] != want[field]:
                mismatches.setdefault(name, {})[field] = (want[field], got[field])
    for name in actual:
        if name not in manifest["frames"]:
            mismatches[name] = {"unexpected": (None, actual[name])}
    return {"ok": not mismatches, "kind": manifest["kind"], "mismatches": mismatches}


def snapshot_load(spark: SparkSession, path: str, verify: bool = False):
    """Open a snapshot by its manifest: dispatches to the family loader
    (``lsh_load`` / ``pq_load`` / a plain parquet scan for chunk).  With
    ``verify=True`` the frames are integrity-checked first and a
    mismatch raises — the serving-fleet guard against partial uploads
    and torn overwrites."""
    if verify:
        report = snapshot_verify(spark, path)
        if not report["ok"]:
            raise ValueError(f"snapshot integrity check failed: {report}")
    with open(os.path.join(path, MANIFEST_NAME), encoding="utf-8") as f:
        kind = json.load(f)["kind"]
    if kind == "lsh":
        return dedup.lsh_load(spark, path)
    if kind == "pq":
        return pq.pq_load(spark, path)
    if kind == "frame":
        return spark.read.parquet(f"{path.rstrip('/')}/data")
    return spark.read.parquet(f"{path.rstrip('/')}/index")
