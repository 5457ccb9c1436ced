"""Spark-side ingestion: content files -> typed DataFrames.

Pipeline (all distributed, no driver-side file loops):

    spark.read.text(glob, wholetext=True)      # one row per file, executor-side listing
      -> mapInPandas(parse batch)              # Python parser (Arrow batches), emits
                                               #   (slug, raw, json_payload) per record
      -> from_json(json_payload, declared schema)  # JVM-side typing
      -> select(slug, *fields, raw)

``stream_source`` runs the same steps over ``spark.readStream``.

Parity notes:
- slug from file path relative to the glob base, "/" -> "--", extension
  stripped (reference: src/SourceConfigResolver.ts:143-182).
- multi-record YAML/JSON files carry an explicit ``slug`` per record
  (src/SourceLoader.ts:102-107); a single-record file whose embedded slug
  disagrees with the path-derived slug is a load error
  (src/SourceLoader.ts:163-169).
- schema validation = required-field check after typing (simpleValidate.ts
  semantics); violations raise with the source name in the message.

At 100 TB the "many tiny content files" layout is hostile to any engine;
``compact_to_parquet`` materializes the parsed source as Parquet once so all
queries run against columnar storage with pushdown (SURVEY §7.3.8).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from urllib.parse import unquote, urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader

from ..config import SourceConfig
from ..functions import glob_base_and_regex, path_to_slug
from .parsers import get_parser

_RAW_SCHEMA = T.StructType(
    [
        T.StructField("slug", T.StringType(), False),
        T.StructField("raw", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
    ]
)


def parse_files(files: DataFrame, cfg: SourceConfig, base: str, read) -> DataFrame:
    """Parse content files into the source's typed columns.

    The per-batch parse loop of every content backend: ``read(pdf)``
    yields ``(path, text)`` for each file in one Arrow batch of ``files``.
    A file's slug comes from its path under ``base``, the glob's static
    base, written in the same form as the paths; a wildcard-free pattern's
    base is the file itself, slugged by its name.  Multi-record files need
    an explicit slug per record (src/SourceLoader.ts:102-107); a
    single-record file takes the path slug and must not contradict an
    embedded one (src/SourceLoader.ts:163-169)."""
    parser_type, source_name = cfg.type, cfg.name
    prefix = base.rstrip("/") + "/" if base else ""

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parser = get_parser(parser_type)
        for pdf in batches:
            out: list[tuple[str, str, str]] = []
            for path, raw_text in read(pdf):
                if path == base:
                    rel = path.rpartition("/")[2]
                elif path.startswith(prefix):
                    rel = path[len(prefix):]
                else:
                    raise ValueError(
                        f"[{source_name}] content file {path} is not under {base}"
                    )
                path_slug = path_to_slug(rel)
                parsed = parser(raw_text)
                if isinstance(parsed, list):
                    for rec in parsed:
                        slug = rec.get("slug")
                        if slug is None:
                            raise ValueError(
                                f"[{source_name}] record in {rel} missing explicit slug"
                            )
                        payload = json.dumps(rec, ensure_ascii=False, default=str)
                        out.append((str(slug), raw_text, payload))
                    continue
                embedded = parsed.get("slug")
                if embedded is not None and str(embedded) != path_slug:
                    raise ValueError(
                        f"[{source_name}] slug mismatch in {rel}: "
                        f"file says {embedded!r}, path says {path_slug!r}"
                    )
                payload = json.dumps(parsed, ensure_ascii=False, default=str)
                out.append((path_slug, raw_text, payload))
            yield pd.DataFrame(out, columns=["slug", "raw", "payload"])

    return typed_from_parsed(files.mapInPandas(parse_batch, schema=_RAW_SCHEMA), cfg)


def typed_from_parsed(parsed: DataFrame, cfg: SourceConfig) -> DataFrame:
    """(slug, raw, payload) -> typed columns via from_json + required checks.

    Shared typing/validation tail of every content backend."""
    struct = cfg.spark_schema()
    if struct is None:
        return parsed

    field_struct = T.StructType(
        [f for f in struct.fields if f.name not in ("slug", "raw")]
    )
    typed = parsed.select(
        "slug",
        F.from_json("payload", field_struct).alias("doc"),
        "raw",
        F.col("payload").alias("__staticql_payload"),
    ).select("slug", "doc.*", "raw", "__staticql_payload")

    if cfg.schema:
        props = cfg.schema.get("properties", {})
        required = [
            f for f in cfg.schema.get("required", []) if f not in ("slug", "raw")
        ]
        # Type-mismatch parity (simpleValidate.ts:82-115, "Expected number at
        # 'age', got string"): from_json PERMISSIVE-nulls a wrong-typed field,
        # so "typed is null but the raw payload carries a value" ≡ type error.
        # JSON null / absent keys stay null in both views and fall through to
        # the required check below.  The walk recurses into object-typed
        # properties (dotted paths, like the reference's 'value.a.b' path
        # strings); a wrong-typed array/object as a WHOLE is caught at its
        # own path because from_json nulls the full subtree while the raw
        # payload still carries it.
        #
        # Two cases need the RAW token type, which from_json can't see —
        # the VARIANT probe (schema_of_variant over try_parse_json) supplies
        # it, mirroring JS typeof exactly:
        # - string-typed fields: from_json coerces any scalar to its string
        #   form, so the null-probe never fires; the reference raises
        #   "Expected string, got number" (simpleValidate.ts:82-84).
        # - integer-typed fields: from_json nulls integral floats like 3.0,
        #   which Number.isInteger ACCEPTS (simpleValidate.ts:88-90) — an
        #   integral DECIMAL(p,0) token is valid, filled from the variant
        #   (top level; an integral float at a NESTED path stays null —
        #   struct surgery isn't worth the rarity — but raises no error).
        # Remaining documented divergence: a wrong-typed leaf inside an
        # array ELEMENT nulls silently (per-element probing has no JsonPath
        # without exploding), and non-string/integer mismatch messages show
        # the raw value rather than its JS typeof.
        def _check_paths(properties: dict, prefix: str) -> list[tuple[str, list]]:
            out = []
            for name, js in (properties or {}).items():
                t = (js or {}).get("type")
                if not t:
                    continue
                path = f"{prefix}{name}"
                out.append((path, t if isinstance(t, list) else [t]))
                is_obj = t == "object" or (isinstance(t, list) and "object" in t)
                if is_obj:
                    out.extend(_check_paths(js.get("properties"), path + "."))
            return out

        typed = typed.withColumn(
            "__staticql_var", F.expr("try_parse_json(__staticql_payload)")
        )

        def _leaf_schema(path: str):
            return F.expr(
                f"schema_of_variant(try_variant_get(__staticql_var, '$.{path}'))"
            )

        def _js_typeof(leaf):
            numeric = leaf.startswith("DECIMAL") | leaf.isin(
                "BIGINT", "INT", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT"
            )
            return (
                F.when(numeric, F.lit("number"))
                .when(leaf == "BOOLEAN", F.lit("boolean"))
                .when(leaf == "STRING", F.lit("string"))
                .otherwise(F.lit("object"))  # OBJECT<...> / ARRAY<...>, as JS
            )

        for path, tlist in _check_paths(props, ""):
            root = path.split(".", 1)[0]
            if root not in field_struct.fieldNames():
                continue
            types = " or ".join(tlist)
            raw_val = F.get_json_object(F.col("__staticql_payload"), f"$.{path}")
            leaf = _leaf_schema(path)

            def _err(got):
                return F.raise_error(
                    F.format_string(
                        f"[{cfg.name}] expected {types} at '{path}', "
                        "got %s, for slug=%s",
                        got,
                        F.col("slug"),
                    )
                ).cast(typed.schema[root].dataType)

            if tlist == ["string"]:
                bad = leaf.isNotNull() & ~leaf.isin("STRING", "VOID")
                new_col = F.when(bad, _err(_js_typeof(leaf))).otherwise(F.col(root))
            elif tlist == ["integer"]:
                integral = leaf.isin("BIGINT", "INT", "SMALLINT", "TINYINT") | (
                    leaf.startswith("DECIMAL") & leaf.endswith(",0)")
                )
                missing = F.col(path).isNull() & raw_val.isNotNull()
                bad = missing & ~integral
                new_col = F.when(bad, _err(_js_typeof(leaf))).otherwise(F.col(root))
                if "." not in path:
                    fill = F.expr(
                        f"try_variant_get(__staticql_var, '$.{path}', 'long')"
                    ).cast(typed.schema[root].dataType)
                    new_col = (
                        F.when(bad, _err(_js_typeof(leaf)))
                        .when(missing & integral, fill)
                        .otherwise(F.col(root))
                    )
            else:
                bad = F.col(path).isNull() & raw_val.isNotNull()
                new_col = F.when(bad, _err(raw_val)).otherwise(F.col(root))
            typed = typed.withColumn(root, new_col)
        typed = typed.drop("__staticql_var")
        # Wrap each required column so a null raises with source+slug context
        # (parity with simpleValidate's load-time errors). The when/otherwise
        # keeps the column value itself, so Catalyst cannot prune the check.
        for name in required:
            typed = typed.withColumn(
                name,
                F.when(
                    F.col(name).isNull(),
                    F.raise_error(
                        F.format_string(
                            f"[{cfg.name}] required field '{name}' is null for slug=%s",
                            F.col("slug"),
                        )
                    ).cast(typed.schema[name].dataType),
                ).otherwise(F.col(name)),
            )
    return typed.drop("__staticql_payload")


def _read_content(reader, cfg: SourceConfig, base_dir: str) -> DataFrame:
    """The local read shared by batch and stream: ``reader`` is
    ``spark.read`` or ``spark.readStream``.

    Lists the files (text read with ``wholetext``, one row per file, path
    from ``input_file_name()``) and parses them.  Slugs are taken relative
    to the glob base in the form ``input_file_name()`` gives it: a bare
    base resolves against the working directory, as Spark's listing does,
    and a URI base (``file://``, ``s3a://``) keeps only its path."""
    pattern = f"{base_dir}/{cfg.pattern}" if base_dir else cfg.pattern
    base, _ = glob_base_and_regex(pattern)
    path = pattern
    if "**" in pattern:
        # Hadoop globs are not recursive; '**' patterns read the static base
        # dir with recursiveFileLookup + a suffix filter instead.
        reader = reader.option("recursiveFileLookup", "true").option(
            "pathGlobFilter", pattern.rsplit("/", 1)[-1]
        )
        path = base
    elif base == pattern and isinstance(reader, DataStreamReader):
        # a stream source must be a directory: a one-file pattern streams
        # the file's directory filtered to its name
        parent, _, name = pattern.rpartition("/")
        reader, path = reader.option("pathGlobFilter", name), parent or "."
    files = reader.text(path, wholetext=True).select(
        F.col("value").alias("raw_text"),
        F.input_file_name().alias("file_path"),
    )
    uri = urlparse(base)
    base = uri.path if uri.scheme else os.path.abspath(base)

    def read(pdf: pd.DataFrame):
        for raw_text, file_path in zip(pdf["raw_text"], pdf["file_path"]):
            yield unquote(urlparse(file_path).path), raw_text

    return parse_files(files, cfg, base, read)


def read_source(
    spark: SparkSession,
    cfg: SourceConfig,
    base_dir: str = "",
    prefer_gzip: bool = False,
) -> DataFrame:
    """Load one source as a typed DataFrame (slug, *schema fields, raw).

    An ``http(s)://`` base_dir selects the HTTP/CDN backend (the
    reference's FetchRepository deployment): slug-index-driven listing +
    executor-side fetch, ``prefer_gzip`` = try ``.gz`` content first. See
    sources/http.py."""
    if base_dir.startswith(("http://", "https://")):
        from .http import read_source_http

        return read_source_http(spark, cfg, base_dir, prefer_gzip=prefer_gzip)
    if cfg.type == "parquet":
        path = cfg.pattern if "/" in cfg.pattern else f"{base_dir}/{cfg.pattern}"
        return spark.read.parquet(path)
    return _read_content(spark.read, cfg, base_dir)


def stream_source(
    spark: SparkSession, cfg: SourceConfig, base_dir: str = ""
) -> DataFrame:
    """Stream one content source: the typed, validated columns of
    ``read_source``, as a streaming DataFrame over the files matching the
    source's pattern under ``base_dir``.

    Spark's file-source log makes ingestion exactly-once by path: each
    trigger parses only the files not yet seen under its checkpoint, and a
    path is ingested once, so an edit to an already-ingested file is not
    re-read.  Local and Hadoop file systems only: ``parquet`` sources and
    ``http(s)://`` base dirs raise ``ValueError``."""
    if cfg.type == "parquet" or base_dir.startswith(("http://", "https://")):
        raise ValueError(f"[{cfg.name}] only content files can be streamed")
    return _read_content(spark.readStream, cfg, base_dir)


def compact_to_parquet(df: DataFrame, path: str, partitions: int | None = None) -> None:
    """Materialize a parsed source as Parquet (the scale-path layout)."""
    writer = df.repartition(partitions) if partitions else df
    writer.write.mode("overwrite").parquet(path)
