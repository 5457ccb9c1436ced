"""HTTP(S)/CDN content backend — the reference's browser deployment shape.

Parity target: src/repository/FetchRepository.ts —
- ``readFile`` with optional gzip-first fetch (:41-57): try ``path.gz``,
  decompress, fall back to the plain path.
- ``listFiles`` (:82-99): HTTP cannot list directories, so listing is
  driven by the source's slug index — the ``index/{source}.slug`` prefix
  tree of ``_index.jsonl`` / ``_prefixes.jsonl`` files
  (``readAllIndexesRemote``, :165-199) — and slugs are mapped back to
  content paths via the source pattern.

Spark shape (why this is not a Hadoop FileSystem):
- LISTING is a driver-side metadata read, exactly like a catalog/manifest
  lookup: the slug index is small (one line per record, no content), and
  the reference does the same single-client walk in the browser.
- CONTENT fetch is distributed: the listed paths parallelize across the
  cluster and each partition fetches its own files inside ``mapInPandas``
  (Arrow batches) — at CDN scale the fan-out is the executors', never a
  driver loop. Parsing and schema typing then reuse the exact same code
  path as the local-glob backend (sources/reader.py), so slug derivation,
  multi-record semantics and required-field validation are identical.
"""

from __future__ import annotations

import gzip
import json
import urllib.error
import urllib.request

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..config import SourceConfig
from ..functions import glob_base_and_regex

DEFAULT_TIMEOUT = 30.0


def _url(base_url: str, path: str) -> str:
    return base_url.rstrip("/") + "/" + path.lstrip("/")


def fetch_bytes(url: str, timeout: float = DEFAULT_TIMEOUT) -> bytes:
    with urllib.request.urlopen(url, timeout=timeout) as res:
        body = res.read()
    # transparent decompression when the payload itself is gzip (a .gz URL
    # or a server that didn't set Content-Encoding)
    if url.endswith(".gz") or body[:2] == b"\x1f\x8b":
        body = gzip.decompress(body)
    return body


def fetch_text(
    base_url: str,
    path: str,
    prefer_gzip: bool = False,
    timeout: float = DEFAULT_TIMEOUT,
) -> str:
    """GET one file as text; with ``prefer_gzip`` try ``path.gz`` first and
    fall back to the plain path (FetchRepository.readFile:41-57)."""
    if prefer_gzip:
        try:
            return fetch_bytes(_url(base_url, path + ".gz"), timeout).decode("utf-8")
        except (urllib.error.URLError, OSError):
            pass  # fall through to the non-gzip fetch
    return fetch_bytes(_url(base_url, path), timeout).decode("utf-8")


MANIFEST_NAME = "staticql-manifest.json"


def read_manifest(
    base_url: str, timeout: float = DEFAULT_TIMEOUT
) -> list[str]:
    """Fetch ``staticql-manifest.json`` and return the listed index
    paths.  Accepts both manifest shapes: the reference's bare JSON
    array of relative paths (cli/generate-index.ts:202-214) and this
    repo's CLI ``{"files": [...]}`` envelope; parquet entries (the
    Spark-side sink, meaningless to an HTTP client) are filtered out so
    the result is exactly the prefetchable JSONL tree."""
    doc = json.loads(fetch_bytes(_url(base_url, MANIFEST_NAME), timeout))
    paths = doc["files"] if isinstance(doc, dict) else doc
    return [p for p in paths if p.endswith(".jsonl")]


def prefetch_index(
    base_url: str,
    paths: list[str] | None = None,
    timeout: float = DEFAULT_TIMEOUT,
    prefer_gzip: bool = True,
) -> dict[str, str]:
    """Warm a path->text cache of the whole JSONL index tree from the
    manifest — the reference manifest's stated purpose ('prefetching or
    cache warming', cli/generate-index.ts:199-201).  Each path fetches
    gzip-first like readFile; the returned dict plugs into
    ``read_prefix_tree(..., cache=)`` / ``list_source_files(...,
    cache=)`` so every subsequent index walk is memory-only — the
    request pattern a CDN client wants (one manifest GET + N parallel
    shard GETs, then zero per-query index traffic)."""
    if paths is None:
        paths = read_manifest(base_url, timeout)
    return {
        p: fetch_text(base_url, p, prefer_gzip=prefer_gzip, timeout=timeout)
        for p in paths
    }


def read_prefix_tree(
    base_url: str,
    dir_path: str,
    timeout: float = DEFAULT_TIMEOUT,
    prefer_gzip: bool = True,
    cache: dict[str, str] | None = None,
) -> list[dict]:
    """Recursive remote prefix-tree walk (readAllIndexesRemote:165-199):
    read ``{dir}/_index.jsonl`` if present, then descend into every prefix
    named by ``{dir}/_prefixes.jsonl``. Missing files end the branch (the
    reference swallows fetch errors the same way).  Index shards are
    fetched gzip-first by default (``.jsonl.gz`` then plain — the
    reference FetchRepository.readFile:41-57 order; export_jsonl_index
    writes the ``.gz`` twins), so a gz-only CDN deployment is readable.
    With ``cache`` (a :func:`prefetch_index` result) a cached path is
    served from memory and a cache MISS ends the branch without an HTTP
    fall-through — the manifest is the complete file list, so a path
    absent from it does not exist remotely either."""

    def _get(path: str) -> str:
        if cache is not None:
            text = cache.get(path)
            if text is None:
                raise OSError(f"not in prefetched index cache: {path}")
            return text
        return fetch_text(base_url, path, timeout=timeout, prefer_gzip=prefer_gzip)

    results: list[dict] = []
    try:
        text = _get(f"{dir_path}/_index.jsonl")
        for line in text.splitlines():
            line = line.strip()
            if line:
                results.append(json.loads(line))
    except (urllib.error.URLError, OSError, ValueError):
        pass
    try:
        text = _get(f"{dir_path}/_prefixes.jsonl")
        prefixes = [p.strip() for p in text.splitlines() if p.strip()]
    except (urllib.error.URLError, OSError):
        prefixes = []
    for prefix in prefixes:
        results.extend(
            read_prefix_tree(
                base_url, f"{dir_path}/{prefix}", timeout, prefer_gzip, cache
            )
        )
    return results


def list_source_files(
    base_url: str,
    cfg: SourceConfig,
    timeout: float = DEFAULT_TIMEOUT,
    cache: dict[str, str] | None = None,
) -> list[str]:
    """Relative content paths for one source, via its slug index
    (FetchRepository.listFiles:82-99): slugs are the ``v`` of each index
    line; paths come from substituting the slug into the source pattern.
    Deduplicated, listing order preserved.  ``cache`` (a
    :func:`prefetch_index` result) makes the listing memory-only."""
    lines = read_prefix_tree(base_url, f"index/{cfg.name}.slug", timeout, cache=cache)
    seen: set[str] = set()
    slugs = []
    for line in lines:
        v = line.get("v")
        if v and v not in seen:
            seen.add(v)
            slugs.append(v)
    if "*" in cfg.pattern:
        # path = glob base + slug with '--' restored to '/' + extension
        # (Resolver.getSourcePathsBySlugs / slugToPath — works for '*' and
        # '**' patterns alike; the reference's extra slug-shape regex filter
        # is a no-op here because the index was built from this same
        # pattern, so every slug in it already matches)
        base, _ = glob_base_and_regex(cfg.pattern)
        ext = "." + cfg.pattern.rsplit(".", 1)[1] if "." in cfg.pattern.rsplit("/", 1)[-1] else ""
        prefix = f"{base}/" if base else ""
        return [f"{prefix}{slug.replace('--', '/')}{ext}" for slug in slugs]
    # single-file (multi-record) source: one path regardless of slug count
    return [cfg.pattern] if slugs else []


def read_source_http(
    spark: SparkSession,
    cfg: SourceConfig,
    base_url: str,
    prefer_gzip: bool = False,
    timeout: float = DEFAULT_TIMEOUT,
) -> DataFrame:
    """Load one source over HTTP as a typed DataFrame — same output contract
    as ``reader.read_source`` on a local glob."""
    from .reader import parse_files

    paths = list_source_files(base_url, cfg, timeout)
    base, _ = glob_base_and_regex(cfg.pattern)
    n_slices = max(1, min(len(paths), spark.sparkContext.defaultParallelism))
    files = spark.createDataFrame(
        [(p,) for p in paths], "rel_path string"
    ).repartition(n_slices)

    def read(pdf: pd.DataFrame):
        for rel_path in pdf["rel_path"]:
            yield rel_path, fetch_text(base_url, rel_path, prefer_gzip, timeout)

    return parse_files(files, cfg, base, read)
