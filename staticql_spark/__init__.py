"""staticql_spark — a PySpark-native engine with the query surface of
migiwa-ya/staticql plus a full Spark-SQL analytics surface.

Two surfaces over one core (SURVEY §7.0):

1. staticql surface::

       sql = define(config)(base_dir="/data/content")
       page = sql.from_("herbs").where("slug", "eq", "arctium-lappa").exec()

2. Spark-native surface: every source is a DataFrame / temp view; full
   Spark SQL (joins, aggregations, windows) plus the large-scale operators
   in ``staticql_spark.operators`` (dedup, similarity search, text
   analysis, multimodal plumbing).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from .config import Relation, SourceConfig, resolve_config
from .plans.filters import Filter, NeedsIndexError
from .query import QueryBuilder
from .relations import relation_matches
from .session import get_spark
from .sources.parsers import register_parser
from .sources.reader import read_source

__all__ = [
    "StaticQL",
    "define",
    "get_spark",
    "register_parser",
    "Filter",
    "NeedsIndexError",
    "Relation",
    "SourceConfig",
    "QueryBuilder",
]


class StaticQL:
    """Session object: catalog of sources -> DataFrames + query builders.

    Parity: defineStaticQL(config)({repository, options}) — src/index.ts
    :13-55 / src/StaticQL.ts:64-87.

    An instance reads a snapshot of its sources.  The first action over a
    parsed source (content files or the HTTP backend) lists, parses and
    types it once, and every later read, join, ``sql()`` view and index
    build of the instance scans those rows.  The snapshot also keeps one
    match table per (source, relation), built by the first read that
    attaches the relation (a ``join()`` or a relation-path filter); later
    reads join that table instead of recomputing the relation.  Content
    edited afterwards is not seen: ``define()`` again (or ``fresh()``) to
    read it.  The snapshot is a set of local checkpoints, freed with the
    instance's frames.  ``type: parquet`` sources and caller-supplied
    ``dataframes`` are columnar already and are used as given, and a
    relation that reads one of them is computed per read.
    """

    def __init__(
        self,
        configs: dict[str, SourceConfig],
        base_dir: str = "",
        spark: SparkSession | None = None,
        strict_index: bool = True,
        dataframes: dict[str, DataFrame] | None = None,
        indexers: dict[str, object] | None = None,
        prefer_gzip: bool = False,
    ):
        self.spark = spark or get_spark()
        self.configs = configs
        self.base_dir = base_dir
        self.strict_index = strict_index
        self.indexers = dict(indexers or {})  # "{source}.{field}" -> callback (U2)
        # an http(s):// base_dir selects the CDN backend; prefer_gzip is its
        # ".gz first" content-fetch option (reference options.preferGzip)
        self.prefer_gzip = prefer_gzip
        self._supplied = dict(dataframes or {})
        self._dfs: dict[str, DataFrame] = dict(self._supplied)
        self._tables: dict[tuple[str, str], DataFrame] = {}

    def _base_dir(self, name: str) -> str:
        # per-source storage routing (MultiRepository.ts:47-80): a source
        # with its own baseDir reads from that repository; others share
        # the session base_dir.
        cfg = self.configs[name]
        return cfg.base_dir if cfg.base_dir is not None else self.base_dir

    def _is_snapshot(self, name: str) -> bool:
        """Whether ``df(name)`` is a snapshot: a source ``read_source``
        parses (content files or the HTTP backend), not a parquet scan or a
        caller-supplied frame."""
        return name not in self._supplied and (
            self.configs[name].type != "parquet"
            or self._base_dir(name).startswith(("http://", "https://"))
        )

    def df(self, name: str) -> DataFrame:
        if name not in self.configs:
            raise ValueError(f"unknown source: {name}")
        if name not in self._dfs:
            cfg = self.configs[name]
            df = read_source(self.spark, cfg, self._base_dir(name), prefer_gzip=self.prefer_gzip)
            if self._is_snapshot(name):
                # Parsed sources become a snapshot: the first action parses
                # and types them once, later reads scan the kept rows.
                # Parquet stays a plain scan so filters still push down.
                df = df.localCheckpoint(eager=False)
            self._dfs[name] = df
        return self._dfs[name]

    def _match_table(self, name: str, rel_name: str) -> DataFrame | None:
        """The (slug, _matches) table of relation ``rel_name`` over the
        whole of source ``name``, kept with the snapshot; None when the
        relation reads a source that is not a snapshot (it is then computed
        per read over the filtered frame, so its filters still push down).
        """
        key = (name, rel_name)
        if key not in self._tables:
            rel = self.configs[name].relations[rel_name]
            names = {name, rel.to} | ({rel.through} if rel.is_through else set())
            if not all(self._is_snapshot(n) for n in names):
                return None
            sources = {n: self.df(n) for n in names}
            # Under AQE the call itself runs the table's shuffle, so a
            # failed build raises here and nothing is kept.
            table = relation_matches(sources[name], rel, sources).localCheckpoint(eager=False)
            self._tables[key] = table
        return self._tables[key]

    def fresh(self) -> "StaticQL":
        """A new instance over the same sources, whose snapshot is taken
        from the content as it is now."""
        return StaticQL(
            self.configs,
            base_dir=self.base_dir,
            spark=self.spark,
            strict_index=self.strict_index,
            dataframes=self._supplied,
            indexers=self.indexers,
            prefer_gzip=self.prefer_gzip,
        )

    def register_views(self) -> None:
        for name in self.configs:
            self.df(name).createOrReplaceTempView(name)

    def from_(self, name: str) -> QueryBuilder:
        if name not in self.configs:
            raise ValueError(f"unknown source: {name}")
        dfs = {n: self.df(n) for n in self.configs}
        return QueryBuilder(
            dfs[name],
            self.configs[name],
            dfs,
            self.configs,
            self.strict_index,
            match_table=functools.partial(self._match_table, name),
        )

    def sql(self, query: str) -> DataFrame:
        self.register_views()
        return self.spark.sql(query)

    def save_indexes(self, out_dir: str) -> None:
        from .indexing import save_indexes

        save_indexes(self, out_dir)


def define(config: dict, **defaults):
    """``define(config)(base_dir=..., spark=...) -> StaticQL`` — mirrors the
    reference's curried ``defineStaticQL(config)({repository})``."""
    configs = resolve_config(config)

    def _init(
        base_dir: str = "",
        spark: SparkSession | None = None,
        strict_index: bool = True,
        dataframes: dict[str, DataFrame] | None = None,
        indexers: dict[str, object] | None = None,
        **kw,
    ) -> StaticQL:
        return StaticQL(
            configs,
            base_dir=base_dir,
            spark=spark,
            strict_index=strict_index,
            dataframes=dataframes,
            indexers=indexers,
            **kw,
        )

    for k, v in defaults.items():
        _init.__dict__[k] = v
    return _init
