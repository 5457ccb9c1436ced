"""Index artifacts: the reference's prefix-tree covering index, Spark-style.

Reference pipeline (IndexBuilder.save — src/IndexBuilder.ts:69-110, SURVEY
§3.2): load every source + its relations, denormalize relation fields onto
records, fan out (slug, field, value, ref-slug) tuples, group into
PrefixIndexLine rows `{v, vs, ref}` sharded by the value's first-codepoint
hex dirs, write sorted JSONL + prefix dictionaries.

Spark design: the index is ONE DataFrame per source::

    (field: string, v: string, vs: string, slug: string, prefix: string)

written as Parquet partitioned by (field, prefix) and sorted within
partitions by (v, vs) — the exact analogue of the reference's
`index/{source}.{field}/{hex}/_index.jsonl` layout (src/utils/path.ts:43-55,
sort order src/constants.ts:43-57). Partition pruning on (field, prefix) is
the trie descent; min/max stats on v give in-shard early termination.

Spark does NOT need this structure to answer queries (Parquet pushdown
covers it — SURVEY §4); it exists for artifact parity (`peek`-style
index-only workloads, the golden-file test shape) and as the target of the
incremental maintenance path (`streaming.refresh_index_partitions`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import SourceConfig
from .plans.filters import field_column


def index_entries(
    df: DataFrame,
    cfg: SourceConfig,
    sources: dict[str, DataFrame] | None = None,
    depth: int | None = None,
    indexers: dict[str, object] | None = None,
) -> DataFrame:
    """Explode one source into covering-index entries.

    Relation-path fields (``rel.field``) are denormalized via the relation
    join first (reference does this at build time, IndexBuilder.ts:495-520).

    ``indexers`` maps ``"{source}.{field}"`` to a Python callback
    ``record_dict -> value | list[value]`` — the reference's custom-indexer
    injection (U2, src/IndexBuilder.ts:46-62, 793-822). Callback errors are
    caught per-record and the record is skipped for that field, matching the
    reference's catch-and-log behavior.
    """
    depth = depth or cfg.index_depth
    work = df
    for key, fn in (indexers or {}).items():
        src_name, _, field = key.partition(".")
        if src_name != cfg.name or not field:
            continue
        from pyspark.sql import functions as SF
        from pyspark.sql import types as T

        def _apply(row, _fn=fn):
            try:
                out = _fn(row.asDict(recursive=True))
            except Exception:  # noqa: BLE001 — parity: indexer errors logged+skipped
                return []
            if out is None:
                return []
            vals = out if isinstance(out, (list, tuple)) else [out]
            return [str(v) for v in vals if v is not None]

        udf = SF.udf(_apply, T.ArrayType(T.StringType()))
        work = work.withColumn(field, udf(SF.struct(*[work[c] for c in work.columns])))
        if field not in cfg.index_fields:
            cfg.index_fields.append(field)
    rel_fields = [f for f in cfg.index_fields if "." in f and f.split(".", 1)[0] in cfg.relations]
    if rel_fields and sources is not None:
        from .relations import attach_relation

        for rel_name in {f.split(".", 1)[0] for f in rel_fields}:
            work = attach_relation(work, cfg.relations[rel_name], sources)

    parts = []
    for field in cfg.index_fields:
        if "." in field and field.split(".", 1)[0] in cfg.relations and sources is None:
            continue
        try:
            col, is_array = field_column(work, field)
        except ValueError:
            continue  # field not present (custom indexer targets handled upstream)
        vals = col if is_array else F.filter(F.array(col), lambda x: x.isNotNull())
        parts.append(
            work.select(
                F.lit(field).alias("field"),
                F.explode(vals).alias("v"),
                F.col("slug").cast("string").alias("vs"),
                F.col("slug").cast("string").alias("slug"),
            )
        )
    if not parts:
        raise ValueError(f"[{cfg.name}] no indexable fields")
    entries = parts[0]
    for p in parts[1:]:
        entries = entries.unionByName(p)

    # prefix = first `depth` code points, each as >= 4 hex digits joined by
    # '/' ("a" -> "0061", "あ" -> "3042", U+1F600 -> "1f600") — reference
    # src/constants.ts:21-27. ascii() on a single-char substr yields its
    # code point. Supplementary-plane chars need 5 digits: pad short values
    # with a conditional, never a bare lpad — lpad TRUNCATES longer strings,
    # which would silently corrupt the prefix (and disagree with
    # functions.prefix_hex_path's `{ord:04x}`, which pads but never
    # truncates). Deliberate divergence from the reference's UTF-16
    # charCodeAt surrogates ('d83d'): we shard by full code point.
    def _cp_hex(i):
        h = F.lower(F.hex(F.ascii(F.substr(F.col("v"), i, F.lit(1)))))
        return F.when(F.length(h) < 4, F.lpad(h, 4, "0")).otherwise(h)

    prefix = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.least(F.length("v"), F.lit(depth)), F.lit(1))),
            _cp_hex,
        ),
        "/",
    )
    return entries.withColumn("prefix", F.when(F.length("v") > 0, prefix).otherwise(F.lit("0000")))


def save_indexes(staticql, out_dir: str, depth: int | None = None) -> None:
    """Write covering-index Parquet per source (partitioned, sorted)."""
    dfs = {name: staticql.df(name) for name in staticql.configs}
    indexers = getattr(staticql, "indexers", None)
    for name, cfg in staticql.configs.items():
        entries = index_entries(dfs[name], cfg, dfs, depth, indexers)
        (
            entries.repartition("field", "prefix")
            .sortWithinPartitions("v", "vs")
            .write.mode("overwrite")
            .partitionBy("field", "prefix")
            .parquet(f"{out_dir.rstrip('/')}/{name}")
        )


def load_index(spark, out_dir: str, source: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir.rstrip('/')}/{source}")


def export_jsonl_index(
    staticql,
    out_dir: str,
    fields: list[str] | None = None,
    gzip_shards: bool = True,
    max_entries: int = 1_000_000,
) -> None:
    """Reference-layout JSONL index artifacts: for each source and indexed
    field, ``index/{source}.{field}/{prefix dirs}/_index.jsonl`` (lines
    ``{v, vs, ref}`` sorted by (v, vs) — src/IndexBuilder.ts:645-652,
    src/constants.ts:43-57) plus a ``_prefixes.jsonl`` per directory level
    naming its children. This is the artifact tree FetchRepository walks
    over HTTP (readAllIndexesRemote), so exporting it is what makes a
    corpus servable from a CDN to both the reference client and our HTTP
    backend (sources/http.py).

    ``ref`` carries the reference client's full payload shape
    ``{slug: {field: [prefix paths]}}`` — the per-slug map of every indexed
    field's value prefix-paths (IndexBuilder.ts:650-653 embeds
    ``prefixes.get(slug)``). The client dereferences it for startsWith
    candidate filtering (QueryBuilder.ts:546-551, compared against
    getPrefixIndexPath of the search value) and cursor order values
    (QueryBuilder.ts:208-210), so an export without it is only servable to
    this repo's HTTP backend (which reads just ``v``), not to the reference.

    Driver-side write is correct here: this is the reference's *static
    site* deployment format, bounded by site size (it writes one JSONL line
    per record per field via Node fs). The cluster-scale covering index is
    the parquet layout (save_indexes); this exporter is the bridge out.

    ``gzip_shards`` (default ON — the reference CLI gzips every ``.jsonl``
    by default, cli/generate-index.ts:175-196) writes a ``.gz`` twin
    beside each plain shard, which is what the gzip-first readers
    (reference FetchRepository.readFile:41-57 and this repo's
    sources/http.py) fetch from a CDN; gzip mtime is pinned to 0 so the
    artifact bytes are deterministic across rebuilds.
    """
    import gzip as _gzip
    import json as _json
    import os

    def _emit(path: str, text: str) -> None:
        data = text.encode("utf-8")
        with open(path, "wb") as f:
            f.write(data)
        if gzip_shards:
            with open(path + ".gz", "wb") as f:
                f.write(_gzip.compress(data, mtime=0))

    dfs = {name: staticql.df(name) for name in staticql.configs}
    root = out_dir.rstrip("/")
    for name, cfg in staticql.configs.items():
        entries = index_entries(dfs[name], cfg, dfs)
        keep = fields if fields is not None else (["slug"] + cfg.index_fields)
        kept = entries.filter(F.col("field").isin(*set(keep)))
        # Cardinality contract (r9 verdict #3): this exporter is the
        # reference's static-site deployment bridge and collects every
        # index line to the driver to write the JSONL tree — fine at the
        # reference's own <100k-record envelope, an OOM at corpus scale.
        # Count first and refuse loudly, naming the at-scale path: the
        # parquet covering index (save_indexes) IS the cluster artifact;
        # serve it, or shard the export per source/field.
        n = kept.count()
        if n > max_entries:
            raise ValueError(
                f"export_jsonl_index: source {name!r} has {n} index entries,"
                f" over the {max_entries}-entry driver-collect contract for"
                " the static-site JSONL bridge; use save_indexes (parquet,"
                " distributed) at this scale, or export field subsets via"
                " fields=/max_entries="
            )
        rows = kept.orderBy("field", "v", "vs").collect()
        # Per-slug {field: sorted prefix paths} across ALL exported entries —
        # the reference embeds the record's complete prefix map in every line
        # that references it, regardless of which field the line indexes.
        ref_map: dict[str, dict[str, set[str]]] = {}
        for r in rows:
            ref_map.setdefault(r["slug"], {}).setdefault(r["field"], set()).add(r["prefix"])
        by_field_prefix: dict[tuple[str, str], list] = {}
        for r in rows:
            by_field_prefix.setdefault((r["field"], r["prefix"]), []).append(r)
        dirs_per_field: dict[str, set[str]] = {}
        for (fld, prefix), frows in by_field_prefix.items():
            leaf = f"{root}/index/{name}.{fld}/{prefix}"
            os.makedirs(leaf, exist_ok=True)
            lines = []
            for r in frows:
                ref = {
                    r["slug"]: {
                        fl: sorted(ps) for fl, ps in ref_map[r["slug"]].items()
                    }
                }
                line = {"v": r["v"], "vs": r["vs"], "ref": ref}
                lines.append(_json.dumps(line, ensure_ascii=False) + "\n")
            _emit(f"{leaf}/_index.jsonl", "".join(lines))
            dirs_per_field.setdefault(fld, set()).add(prefix)
        # _prefixes.jsonl per directory level: immediate children only
        for fld, prefixes in dirs_per_field.items():
            children: dict[str, set[str]] = {}
            for prefix in prefixes:
                parts = prefix.split("/")
                for i in range(len(parts)):
                    parent = "/".join(parts[:i])
                    children.setdefault(parent, set()).add(parts[i])
            for parent, kids in children.items():
                d = f"{root}/index/{name}.{fld}" + (f"/{parent}" if parent else "")
                os.makedirs(d, exist_ok=True)
                _emit(
                    f"{d}/_prefixes.jsonl",
                    "".join(kid + "\n" for kid in sorted(kids)),
                )
