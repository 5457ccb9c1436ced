"""Relation (join) compilation: staticql relations -> Spark joins.

Reference semantics (src/utils/relationResolver.ts, src/QueryBuilder.ts
:357-502):
- all relations are equi joins on STRINGIFIED keys; an array-valued local
  key fans out (any element may match).
- to-one variants (hasOne, hasOneThrough) attach the FIRST match or null;
  to-many variants attach ALL matches as an array ([] when none).
  First-match order = the reference's foreign load order, which is its
  index order (v, vs) — i.e. (key value, foreign slug); we pin exactly that.
- belongsTo/belongsToMany share one code path (QueryBuilder.ts:392-429):
  both compute the full match list; belongsTo is *typed* to-one
  (cli/generate-types.ts:162-163), so we attach first-or-null for it.
- matched foreign slugs are deduplicated before attach
  (QueryBuilder.ts:414 ``new Set(allSlugs)``).
- through relations are two chained equi joins over the intermediate
  source (relationResolver.ts:108-147), with nested array keys
  (e.g. ``combinedHerbs.slug``) flattened via explode.
- J7 partial-key containment fallback (relationResolver.ts:79-89): when a
  local key resolves to >1 value the reference substring-matches map keys
  (``key.includes(k)``), which can double-match unrelated keys. Default
  here is exact per-element equality (the sane semantics; SURVEY §2.3 J7),
  with the reference-faithful quirk available behind
  ``containment_fallback=True`` for byte-level parity.

Scale notes: the foreign side aggregates to one row per key *before* the
join where possible; content dims are broadcast (they are small by
definition in this engine — the reference caps at 100k records), so the
fact side never shuffles for relation attachment.  A ``StaticQL`` keeps the
:func:`relation_matches` table of each relation over its whole source
snapshot (the query-time analogue of the reference denormalizing relation
fields into its index, src/IndexBuilder.ts:495-520), so a read attaches a
relation with one broadcast join of the kept table; only a relation that
reads a parquet source or a caller-supplied frame is computed per read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .config import Relation, SourceConfig
from .plans.filters import field_column


def _key_values(df: DataFrame, path: str) -> Column:
    """Key column as array<string> (scalar keys wrap; nulls drop)."""
    col, is_array = field_column(df, path)
    if is_array:
        return col
    return F.filter(F.array(col), lambda x: x.isNotNull())


def _record_struct(df: DataFrame) -> Column:
    return F.struct(*[F.col(c) for c in df.columns])


def _foreign_rows(foreign: DataFrame, foreign_key: str) -> DataFrame:
    """Broadcast (_fv, _fslug, _rec): one row per foreign key value."""
    return F.broadcast(
        foreign.select(
            F.explode(_key_values(foreign, foreign_key)).alias("_fv"),
            F.col("slug").cast("string").alias("_fslug"),
            _record_struct(foreign).alias("_rec"),
        )
    )


def _ordered_matches(joined: DataFrame) -> DataFrame:
    """(slug, _matches: array<struct<foreign record>>) from joined
    (_lslug, _fv, _fslug, _rec) rows.

    The array is ordered by (key value, foreign slug) and deduped by foreign
    slug — the reference's deterministic load order.

    Determinism invariant: ``F.first("_rec")`` below is order-sensitive by
    API contract, but every (_lslug, _fslug) group holds exactly one
    DISTINCT ``_rec`` value — ``_rec`` is the whole foreign record keyed by
    its slug, and slugs are unique within a source (the reference's
    path->slug mapping guarantees it; duplicate-slug files are load errors,
    sources/reader.py). first() over identical values is the same under any
    partitioning, AQE re-plan, or retry. The ordered array itself comes
    from array_sort over (key value, slug) ranks, not from shuffle order.
    Pinned by tests/test_relations_determinism.py across shuffle-partition
    counts and AQE on/off.
    """
    # dedupe by foreign slug, keep min (key value, slug) as the sort rank
    per_foreign = joined.groupBy("_lslug", "_fslug").agg(
        F.min(F.struct(F.col("_fv"), F.col("_fslug"))).alias("_rank"),
        F.first("_rec").alias("_rec"),
    )
    return (
        per_foreign.groupBy("_lslug")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("_rank"), F.col("_rec")))),
                lambda x: x.getField("_rec"),
            ).alias("_matches")
        )
        .withColumnRenamed("_lslug", "slug")
    )


def _matches_per_slug(
    local: DataFrame,
    local_key: str,
    foreign: DataFrame,
    foreign_key: str,
    containment_fallback: bool = False,
) -> DataFrame:
    """(slug, matches) for rows with >=1 match (see :func:`_ordered_matches`)."""
    lvs = _key_values(local, local_key)
    lhs = local.select(
        F.col("slug").alias("_lslug"),
        (F.size(lvs) > 1).alias("_lmulti"),
        F.explode(lvs).alias("_lv"),
    )
    rhs = _foreign_rows(foreign, foreign_key)
    if containment_fallback:
        # J7 quirk parity (relationResolver.ts:79-89 + findEntriesByPartial
        # Key :44-56): a MULTI-valued local key probes by substring
        # containment over foreign keys; single values stay exact. The
        # containment disjunct makes this a broadcast nested-loop join —
        # acceptable only because the foreign side is a broadcast-small
        # content dim; the default exact path stays a hash join.
        cond = (~F.col("_lmulti") & (lhs["_lv"] == rhs["_fv"])) | (
            F.col("_lmulti") & rhs["_fv"].contains(lhs["_lv"])
        )
    else:
        cond = lhs["_lv"] == rhs["_fv"]
    return _ordered_matches(lhs.join(rhs, cond, "inner"))


def relation_matches(
    df: DataFrame,
    rel: Relation,
    sources: dict[str, DataFrame],
    containment_fallback: bool = False,
) -> DataFrame:
    """The match table of ``rel`` over ``df``: (slug, _matches) for the rows
    of ``df`` with >=1 match, ``_matches`` ordered as in
    :func:`_ordered_matches`.

    A slug's matches depend only on its own row (slugs are unique per
    source), so the table over a whole source serves any filtered frame of
    it.
    """
    if rel.is_through:
        return _through_matches(df, rel, sources)
    # hasOne/hasMany and belongsTo/belongsToMany share one probe path
    # (inverse declaration only changes attach arity)
    return _matches_per_slug(
        df,
        rel.local_key,
        sources[rel.to],
        rel.foreign_key,
        containment_fallback=containment_fallback,
    )


def attach_matches(df: DataFrame, rel: Relation, matches: DataFrame) -> DataFrame:
    """Attach a (slug, _matches) table as a new column named ``rel.name``.

    to-one -> struct (null when no match); to-many -> array<struct> ([]).
    """
    out = df.join(F.broadcast(matches), "slug", "left")
    if rel.is_to_one or rel.rel_type == "belongsTo":
        out = out.withColumn(rel.name, F.col("_matches").getItem(0))
    else:
        out = out.withColumn(
            rel.name,
            F.coalesce(F.col("_matches"), F.array().cast(out.schema["_matches"].dataType)),
        )
    return out.drop("_matches")


def attach_relation(
    df: DataFrame,
    rel: Relation,
    sources: dict[str, DataFrame],
    configs: dict[str, SourceConfig] | None = None,
    containment_fallback: bool = False,
) -> DataFrame:
    """Attach one relation, computed over ``df`` itself, as a new column
    named ``rel.name`` (see :func:`attach_matches`).

    ``containment_fallback=True`` reproduces the reference's J7 quirk on
    DIRECT relations (multi-valued local keys probe by substring
    containment); through relations always match exactly.
    """
    return attach_matches(
        df, rel, relation_matches(df, rel, sources, containment_fallback)
    )


def _through_matches(
    df: DataFrame, rel: Relation, sources: dict[str, DataFrame]
) -> DataFrame:
    """Two-hop: src.sourceLocalKey = through.throughForeignKey AND
    through.throughLocalKey = target.targetForeignKey."""
    through = sources[rel.through]
    target = sources[rel.to]

    hop1 = df.select(
        F.col("slug").alias("_lslug"),
        F.explode(_key_values(df, rel.source_local_key)).alias("_lv"),
    ).join(
        F.broadcast(
            # one generator per select: explode the two key arrays in stages
            through.select(
                _key_values(through, rel.through_foreign_key).alias("_tfka"),
                _key_values(through, rel.through_local_key).alias("_tlka"),
            )
            .select(F.explode("_tfka").alias("_tfk"), F.col("_tlka"))
            .select("_tfk", F.explode("_tlka").alias("_tlk"))
        ),
        F.col("_lv") == F.col("_tfk"),
        "inner",
    )
    # NOTE: double explode above would cross-product if both keys are arrays;
    # reference resolves value-by-value the same way (every combination of
    # through-FK match and through-LK value probes the target).

    rhs = _foreign_rows(target, rel.target_foreign_key)
    return _ordered_matches(hop1.join(rhs, F.col("_tlk") == F.col("_fv"), "inner"))
