"""The staticql query surface compiled to DataFrame plans.

API parity (src/QueryBuilder.ts):
  from(src).where(field, op, value)     :79-96
           .join(relationName)          :163-174 (attach related records)
           .orderBy(key, "asc"|"desc")  :121-128
           .pageSize(n)                 :153-156 (default 20, :50)
           .cursor(cur, "after"|"before") :135-147
           .exec()  -> Page{data, pageInfo}   :188-301
           .peek()  -> index-only page        :181-183
           .find(slug) -> record | None       :104-112

Like the reference, the fluent builder IS the logical plan (no separate IR —
SURVEY §3.1.3); ``exec()`` is the action. Catalyst does what the reference's
hand-built index machinery did: predicate pushdown (≈ prefix pruning),
column pruning (≈ covering index), broadcast semi-joins (≈ index-assisted
foreign loads), limit pushdown (≈ early-terminated shard walks).

The builder reads the source frames of its ``StaticQL``, and each parsed
source there is a snapshot: its content files are parsed and typed by the
first action, and every later query of that instance scans the kept rows
(a ``Scan ExistingRDD`` in the plan, no Python parse).  Relation match
tables are part of the snapshot: the first read that attaches a relation
keeps its (slug, matches) table over the whole source, and later reads
broadcast-join it (no explode, aggregate or shuffle for the relation).
Edits made after that are seen by a new ``define()`` or ``fresh()``; the
rows are freed with the instance's frames.

Filters on fields without a declared index raise NeedsIndexError for parity
(QueryBuilder.ts:332-352); pass ``strict_index=False`` to define() to lift
the restriction (Spark can filter any column).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import SourceConfig
from .plans.filters import Filter, NeedsIndexError, compile_filters, field_column
from .plans.pagination import Page, paginate
from .relations import attach_matches, relation_matches

DEFAULT_PAGE_SIZE = 20  # reference: src/QueryBuilder.ts:50


class QueryBuilder:
    def __init__(
        self,
        source_df: DataFrame,
        cfg: SourceConfig,
        all_dfs: dict[str, DataFrame],
        all_cfgs: dict[str, SourceConfig],
        strict_index: bool = True,
        match_table: Callable[[str], DataFrame | None] | None = None,
    ):
        self._df = source_df
        self._cfg = cfg
        self._dfs = all_dfs
        self._cfgs = all_cfgs
        self._strict = strict_index
        self._match_table = match_table
        self._filters: list[Filter] = []
        self._joins: list[str] = []
        self._order_key = "slug"
        self._order_dir = "asc"
        self._order_collation: str | None = None
        self._page_size = DEFAULT_PAGE_SIZE
        self._cursor: str | None = None
        self._cursor_dir = "after"

    # ------------------------------------------------------------ builders
    def where(self, field: str, op: str, value: Any) -> "QueryBuilder":
        self._filters.append(Filter(field, op, value))
        return self

    def join(self, relation_name: str) -> "QueryBuilder":
        if relation_name not in self._cfg.relations:
            raise ValueError(f"[{self._cfg.name}] unknown relation: {relation_name}")
        if relation_name not in self._joins:
            self._joins.append(relation_name)
        return self

    def order_by(
        self, key: str, direction: str = "asc", collation: str | None = None
    ) -> "QueryBuilder":
        """Sort key for pagination.  ``collation`` selects the string
        compare: None (default) keeps binary code-point order — the
        oracle-reproducible choice, documented divergence from the
        reference — while any Spark 4 collation name (e.g. ``"UNICODE"``,
        the ICU root order that matches the reference client's
        ``localeCompare``, src/QueryBuilder.ts:639-641) applies ICU
        collation to the sort and the keyset cursor predicates."""
        if direction not in ("asc", "desc"):
            raise ValueError(f"orderBy direction must be asc|desc, got {direction!r}")
        self._order_key = key
        self._order_dir = direction
        self._order_collation = collation
        return self

    orderBy = order_by  # reference-style alias

    def page_size(self, n: int) -> "QueryBuilder":
        n = int(n)
        if n < 1:
            raise ValueError(f"page size must be >= 1, got {n}")
        self._page_size = n
        return self

    pageSize = page_size

    def cursor(self, cur: str, direction: str = "after") -> "QueryBuilder":
        if direction not in ("after", "before"):
            raise ValueError("cursor direction must be after|before")
        self._cursor = cur
        self._cursor_dir = direction
        return self

    # ------------------------------------------------------------ plan
    def _check_indexed(self, fields: list[str]) -> None:
        if not self._strict:
            return
        indexed = set(self._cfg.index_fields) | {"slug"}
        missing = [f for f in self._filters if f.field not in indexed]
        if missing:
            # parity: src/QueryBuilder.ts:332-352
            raise NeedsIndexError(self._cfg.name, missing)
        for f in fields:
            if f not in indexed:
                raise NeedsIndexError(self._cfg.name, [Filter(f, "eq", "<orderBy>")])

    def plan(self, with_joins: bool = True) -> DataFrame:
        """The logical plan as a DataFrame.  It runs no action, except that
        the first plan of an instance to attach a relation builds that
        relation's kept match table.

        Filters on relation-path fields (``herbs.slug``) attach the relation
        before filtering — the query-time analogue of the reference
        denormalizing relation fields into the index at build time (P6,
        src/IndexBuilder.ts:495-520). The attached column is kept only when
        the relation was also explicitly ``join()``ed.
        """
        df = self._df
        filter_rels = {
            f.field.split(".", 1)[0]
            for f in self._filters
            if "." in f.field and f.field.split(".", 1)[0] in self._cfg.relations
        }
        attached = sorted(filter_rels)
        for rel_name in attached:
            df = self._attach(df, rel_name)
        cond = compile_filters(df, self._filters)
        if cond is not None:
            df = df.filter(cond)
        for rel_name in attached:
            if not (with_joins and rel_name in self._joins):
                df = df.drop(rel_name)
        if with_joins:
            for rel_name in self._joins:
                if rel_name not in attached:
                    df = self._attach(df, rel_name)
        return df

    def _attach(self, df: DataFrame, rel_name: str) -> DataFrame:
        """Attach one relation: from the source's kept match table when its
        ``StaticQL`` keeps one, else computed over ``df`` itself."""
        rel = self._cfg.relations[rel_name]
        table = self._match_table(rel_name) if self._match_table else None
        if table is None:
            table = relation_matches(df, rel, self._dfs)
        return attach_matches(df, rel, table)

    def to_df(self) -> DataFrame:
        """Spark-native escape hatch: the filtered+joined DataFrame."""
        self._check_indexed([self._order_key])
        return self.plan()

    def _order_column(self, df: DataFrame):
        order_col, is_array = field_column(df, self._order_key)
        if is_array:
            order_col = order_col.getItem(0)
        if self._order_collation:
            # Collation rides on the string type, so the paginate sort AND
            # its keyset cursor predicates all compare in ICU order; the
            # cursor payload itself stays a plain string (cast strips the
            # collation, values are unchanged).
            order_col = F.collate(order_col.cast("string"), self._order_collation)
        return order_col

    # ------------------------------------------------------------ actions
    def exec(self) -> Page:
        self._check_indexed([self._order_key])
        df = self.plan()
        order_col = self._order_column(df)
        return paginate(
            df,
            self._order_key,
            order_col,
            F.col("slug").cast("string"),
            direction=self._order_dir,
            page_size=self._page_size,
            cursor=self._cursor,
            cursor_direction=self._cursor_dir,
        )

    def peek(self) -> Page:
        """Index-only page: only indexed (covering) columns are read —
        column pruning gives the reference's covering-index behavior
        (QueryBuilder.ts:181-183) for free."""
        self._check_indexed([self._order_key])
        df = self.plan(with_joins=False)
        keep = [c for c in df.columns if c in set(self._cfg.index_fields) | {"slug"}]
        df = df.select(*keep)
        order_col = self._order_column(df)
        return paginate(
            df,
            self._order_key,
            order_col,
            F.col("slug").cast("string"),
            direction=self._order_dir,
            page_size=self._page_size,
            cursor=self._cursor,
            cursor_direction=self._cursor_dir,
        )

    def find(self, slug: str):
        """Point lookup by primary key (QueryBuilder.ts:104-112)."""
        # Slugs are unique: collect the filtered rows in one job (a limit
        # would scale its scan up over the partitions in several).
        rows = self.plan().filter(F.col("slug").cast("string") == str(slug)).collect()
        return rows[0] if rows else None
