"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  query side is one broadcast row (it is expected to be small); the corpus
  is exchanged once into blocks, and one Arrow block kernel
  (``mapInArrow``) scores each |Q| x |block| product in numpy, in the
  fold's exact order, keeping a local top-k per query per block.  Only
  that local top-k reaches the per-query window rank — no driver collect
  anywhere.
- ``dot`` / ``norm`` / ``cosine``: the per-pair fold (built-in
  higher-order functions, zip_with + aggregate; CodegenFallback, so they
  evaluate interpreted) for callers that score candidate rows a join
  produces (IVF/LSH probes, hard negatives, semantic dedup), not a
  |Q| x |C| cross product.
- ``lsh_topk``: the scale path — sign-of-hyperplane LSH buckets via
  deterministic md5-derived planes; only colliding buckets join. Recall is
  tunable with ``num_planes`` (fewer planes = bigger buckets = higher
  recall) and ``probe_bits`` multi-probe.

At 100 TB / 1e9+ vectors the brute-force variant is a deliberate cross
product: cost = |Q| x |corpus| dot products, linear in corpus size and
embarrassingly parallel (corpus blocks x one broadcast query block) —
right for small |Q|. The LSH variant cuts the per-query candidate set by
~2^planes.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql import types as T

from . import ensure_parallelism


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def centroid_sample(
    corpus: DataFrame, vec_col: str, id_col: str, stride: int
) -> DataFrame:
    """Deterministic ~1/stride centroid sample -> (cid, centroid).

    Numeric roughly-uniform ids keep the cheap ``id % stride`` predicate
    (bit-stable with the ann_ivf oracle). Any other id type samples by an
    md5 bucket of the id (same idiom as text.hash_sample) — a string-keyed
    corpus under ``% stride`` would silently get NO centroids (null
    predicate) and the probe join would return nothing.
    """
    dt = corpus.schema[id_col].dataType
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        pred = (F.col(id_col) % stride) == 0
    else:
        bucket = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ivf|"), F.col(id_col).cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % F.lit(int(stride))
        )
        pred = bucket == 0
    return corpus.filter(pred).select(
        F.col(id_col).alias("cid"), as_double(F.col(vec_col)).alias("centroid")
    )


# Parsed-expression cache for :func:`decimal_mean_array`: its dim-term
# SQL string parses JVM-side per F.expr call (~1-18 ms each); the same
# (col-name, dim) sites recur on every construct of every bench rep, so
# the parsed UNRESOLVED Column is memoized per SQL text.  An unresolved
# expression holds no data and no session/plan state — attribute
# references resolve against whatever DataFrame it is applied to — so
# reuse across constructs/sessions in one process is safe.  The key space
# is the handful of static (names, dim) call sites; no eviction needed.
_EXPR_CACHE: dict[str, Column] = {}


def _cached_expr(sql: str) -> Column:
    col = _EXPR_CACHE.get(sql)
    if col is None:
        col = F.expr(sql)
        _EXPR_CACHE[sql] = col
    return col


def _sql_ref(c: "Column | str") -> str | None:
    """Backtick-quoted SQL reference for a column NAME; None for Columns."""
    if isinstance(c, str):
        return "`" + c.replace("`", "``") + "`"
    return None


def _as_col(c: "Column | str") -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: "Column | str", b: "Column | str") -> Column:
    """Sequential-order double dot product (portable across engines):
    ((0.0 + a0*b0) + a1*b1) + ..., the higher-order fold."""
    return F.aggregate(
        F.zip_with(_as_col(a), _as_col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: "Column | str") -> Column:
    return F.sqrt(F.aggregate(_as_col(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: "Column | str", b: "Column | str") -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def decimal_mean_array(vec: "Column | str", dim: int) -> Column:
    """Summation-order-free per-element mean (aggregate) for centroid
    updates -> array<double> of length ``dim``.

    Each element is 6dp-rounded, summed EXACTLY in DECIMAL(27,6) — so the
    aggregate value is independent of partition count and combine order —
    then divided once in double.  A plain ``F.avg`` over doubles is
    partition-order sensitive: at local[32] the float summation order
    differs from DuckDB's single-threaded scan, and a downstream 6dp
    round can land across a rounding boundary (this flipped
    embedding_class_sep's label-4 margin by 1e-6 in round 6).  Same
    exact-decimal pattern as :func:`kmeans_inertia`'s inertia sum.

    Oracle twin: ``CAST(SUM(CAST(round(x, 6) AS DECIMAL(27,6))) AS
    DOUBLE) / count(*)``.

    Built as ONE F.expr parse when the vector is passed by NAME — the
    Python loop of per-element Column operators cost ~6 py4j round trips
    per dimension per call site (guide §1.2 "per-task work" applied to
    the driver); the SQL string builds the identical tree JVM-side.
    """
    vsql = _sql_ref(vec)
    if vsql:
        elems = ", ".join(
            f"cast(sum(cast(round({vsql}[{i}], 6) as decimal(27,6))) as double)"
            f" / count(1)"
            for i in range(dim)
        )
        return _cached_expr(f"array({elems})")
    return F.array(
        *[
            F.sum(F.round(vec[i], 6).cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
            for i in range(dim)
        ]
    )


def cosine_with_norms(
    a: "Column | str",
    b: "Column | str",
    an: Column,
    bn: Column,
) -> Column:
    """Cosine from a precomputed norm per side.

    Per-pair work drops from three interpreted higher-order aggregates
    (dot + 2 norms) to one: norms are bound as columns ONCE per row before
    the pairing join, never recomputed per pair. Numerically identical to
    :func:`cosine` (same summation order), so oracle values are unchanged.
    """
    return dot(a, b) / (an * bn)


# Pair scores per kernel slice: every |Q| x slice temporary of the block
# kernel holds at most this many doubles (16 MB).
_SLICE_CELLS = 1 << 21
# A raw cosine more than 1e-6 below the k-th best cannot round (HALF_UP,
# 6 places) to a value that reaches it, so a 2e-6 margin keeps a superset
# of every row that can survive the final rank.
_ROUND_MARGIN = 2e-6


def fold_dot(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    """|q| x |c| dot products of two row-vector matrices in :func:`dot`'s
    order, ``((0.0 + q0*c0) + q1*c1) + ...``: one IEEE multiply and one
    add per term, column by column, so each value is bit-identical to the
    fold.  Never a matmul, BLAS or einsum: they block, reorder or fuse the
    sum, and ``q @ c.T`` differed from the fold on 13% of sf0.1 pairs."""
    acc = np.zeros((q.shape[0], c.shape[0]))
    for i in range(q.shape[1]):
        acc = acc + q[:, i, None] * c[None, :, i]
    return acc


def fold_norm(v: np.ndarray) -> np.ndarray:
    """Row norms in :func:`norm`'s order (the same term-by-term fold)."""
    acc = np.zeros(v.shape[0])
    for i in range(v.shape[1]):
        acc = acc + v[:, i] * v[:, i]
    return np.sqrt(acc)


def _vector_rows(v: pa.ListArray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A list<double> column as (lens, starts, values): row r's elements
    are ``values[starts[r]:starts[r] + lens[r]]``; ``lens`` is -1 where the
    fold scores null (a null vector or a null element)."""
    lens = pc.fill_null(pc.list_value_length(v), -1).to_numpy().astype(np.int64)
    sizes = np.maximum(lens, 0)
    starts = np.cumsum(sizes) - sizes
    flat = v.flatten()
    if flat.null_count:
        row = np.repeat(np.arange(len(lens)), sizes)
        lens[row[flat.is_null().to_numpy(zero_copy_only=False)]] = -1
    return lens, starts, flat.to_numpy(zero_copy_only=False)


def _block_candidates(
    q: pa.StructArray, c: pa.StructArray, k: int
) -> pa.RecordBatch | None:
    """Score every (query, corpus row) pair of one block and keep, per
    query, the pairs whose raw cosine lies within ``_ROUND_MARGIN`` of its
    k-th best in the block -> (query_id, neighbor_id, dot, den).

    A pair the fold scores null (null vector or element, mismatched
    lengths) has a null dot and ranks last; a NaN cosine ranks first; a
    pair with a zero ``den`` is always kept, so Spark's own division
    decides it (DIVIDE_BY_ZERO under ANSI, else a null that ranks last).
    Self ids are dropped.  The corpus rows are scored in slices of at
    most ``_SLICE_CELLS`` pairs; a running k best per query carries the
    threshold across slices."""
    n_q, n_c = len(q), len(c)
    if not n_q or not n_c or k < 1:
        return None
    qid, qvec = q.flatten()
    cid, cvec = c.flatten()
    codes = pa.concat_arrays([qid, cid.cast(qid.type)]).dictionary_encode()
    codes = codes.indices.to_numpy()
    qcode, ccode = codes[:n_q], codes[n_q:]
    qlen, qst, qval = _vector_rows(qvec)
    clen, cst, cval = _vector_rows(cvec)
    # one matrix (and its norms) per vector length present on both sides
    qmats = []
    for d in np.intersect1d(qlen[qlen >= 0], clen[clen >= 0]):
        rows = np.flatnonzero(qlen == d)
        mat = qval[qst[rows, None] + np.arange(d)]
        qmats.append((d, rows, mat, fold_norm(mat)))
    best = np.full((n_q, min(k, n_c)), -np.inf)
    width = max(1, _SLICE_CELLS // n_q)
    found = []
    for s in range(0, n_c, width):
        m = min(width, n_c - s)
        dot, den = np.zeros((n_q, m)), np.zeros((n_q, m))
        scored = np.zeros((n_q, m), dtype=bool)
        for d, rows, qm, qn in qmats:
            cols = np.flatnonzero(clen[s : s + m] == d)
            cm = cval[cst[s + cols, None] + np.arange(d)]
            at = np.ix_(rows, cols)
            dot[at] = fold_dot(qm, cm)
            den[at] = qn[:, None] * fold_norm(cm)[None, :]
            scored[at] = True
        with np.errstate(divide="ignore", invalid="ignore"):
            key = dot / den
        key[np.isnan(key)] = np.inf
        # a zero den is Spark's to divide: kept always, and it ranks (as a
        # null) below every score, so it never raises the threshold
        zero = scored & (den == 0)
        own = qcode[:, None] == ccode[None, s : s + m]
        key[~scored | zero | own] = -np.inf
        kk = best.shape[1]
        best = -np.partition(-np.hstack([best, key]), kk - 1, axis=1)[:, :kk]
        near = key >= best.min(axis=1)[:, None] - _ROUND_MARGIN
        qi, ci = np.nonzero((near | zero) & ~own)
        found.append(
            (qi, ci + s, dot[qi, ci], den[qi, ci], scored[qi, ci], key[qi, ci], zero[qi, ci])
        )
    qi, ci, dot, den, scored, key, zero = (np.concatenate(f) for f in zip(*found))
    keep = (key >= best.min(axis=1)[qi] - _ROUND_MARGIN) | zero
    return pa.RecordBatch.from_arrays(
        [
            qid.take(qi[keep]),
            cid.take(ci[keep]),
            pa.array(dot[keep], mask=~scored[keep]),
            pa.array(den[keep], mask=~scored[keep]),
        ],
        names=["query_id", "neighbor_id", "dot", "den"],
    )


def _topk_blocks(batches, k: int):
    """mapInArrow body: each input row is (query block, corpus block)."""
    for batch in batches:
        qs, cs = batch.column("q"), batch.column("c")
        for i in range(batch.num_rows):
            out = _block_candidates(qs[i].values, cs[i].values, k)
            if out is not None:
                yield out


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, cosine, rank).

    Ties break on neighbor id; cosine is rounded to 6 places BEFORE ranking
    so the ordering is reproducible across engines' float summation.
    Self-matches (same id) are excluded, and so are null ids.

    One block kernel (the REPOSE shape: each partition keeps a local
    top-k, only that crosses to the global rank):

    - the queries are ONE broadcast row, ``collect_list`` of (id, vector);
    - the corpus is exchanged once into ``defaultParallelism`` blocks,
      keyed by a hash of the id: ``repartitionById`` sends block b to
      partition b (a repartition by number, which AQE does not coalesce),
      and one ``collect_list`` row per partition is the block;
    - ``broadcast(query row) x blocks`` feeds one ``mapInArrow``
      (:func:`_block_candidates`): numpy scores the |Q| x |block| dot
      products and norms in the fold's column order
      (:func:`fold_dot`, bit-identical to :func:`dot`) and keeps, per query,
      the pairs within ``_ROUND_MARGIN`` of its k-th best raw cosine;
    - Spark divides ``dot / den`` itself (so a zero norm fails or nulls
      exactly as the fold does), rounds, and ranks with
      ``row_number() <= k`` over (cosine desc, neighbor_id asc).

    Scale: |Q| x |corpus| dot products, linear in the corpus and
    embarrassingly parallel over blocks; the query block must fit one
    broadcast row (the same contract as a broadcast query side), and only
    about k rows per query per block cross the Python boundary.
    """
    def rows(df: DataFrame) -> DataFrame:
        return df.filter(F.col(id_col).isNotNull()).select(
            F.struct(
                F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
            ).alias("r")
        )

    n = corpus.sparkSession.sparkContext.defaultParallelism
    q = rows(queries).agg(F.collect_list("r").alias("q"))
    blocks = (
        rows(corpus)
        .withColumn("block", F.pmod(F.hash("r.id"), F.lit(n)))
        .repartitionById(n, "block")
        .groupBy("block")
        .agg(F.collect_list("r").alias("c"))
    )
    schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            T.StructField("dot", T.DoubleType()),
            T.StructField("den", T.DoubleType()),
        ]
    )
    scored = (
        F.broadcast(q)
        .crossJoin(blocks)
        .select("q", "c")
        .mapInArrow(functools.partial(_topk_blocks, k=k), schema)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dot") / F.col("den"), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _plane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — no RNG state."""
    import hashlib

    comps = []
    for i in range(dim):
        h = hashlib.md5(f"plane{plane_idx}|{i}".encode()).hexdigest()
        comps.append(int(h[:8], 16) / float(0xFFFFFFFF) * 2.0 - 1.0)
    return comps


def lsh_bucket(vec: "Column | str", dim: int, num_planes: int = 8) -> Column:
    """Sign-pattern bucket id (string of 0/1) for a vector column."""
    vec = _as_col(vec)
    bits = []
    for p in range(num_planes):
        plane = _plane(dim, p)
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append((proj >= 0).cast("int").cast("string"))
    return F.concat(*bits)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_alias: str = "v",
    id_alias: str = "vid",
    nprobe: int = 1,
) -> DataFrame:
    """(id, cell) — nearest ``nprobe`` centroid ids per vector by cosine.

    Centroids are broadcast (they are tiny by construction); ties break on
    centroid id. One pass over the vectors, no shuffle of the big side.
    Norms are bound per side before the cross join, so the per-(vector,
    centroid) work is a single dot product.

    nprobe=1 (the assign path used by kmeans_fit / SemDeDup / cell
    balance) is an argmax, computed as ``min(struct(-csim, cid))`` with a
    ``first(vec)`` carry: the partial aggregate collapses the |centroids|
    scored copies of each vector INSIDE the map task, so the shuffle
    carries ~|vectors| rows with 1x vector payload.  The window
    formulation shuffled |vectors| x |centroids| rows WITH the vector
    arrays — a |centroids|-fold (50x here) shuffle-volume amplification
    that would dominate at corpus scale.  Tiebreak identical (min over
    (-csim, cid) = max csim then min cid) and type-agnostic in ``cid``
    (only the double is negated — string centroid ids keep working).
    nprobe>1 (the probe path) keeps the window rank.
    """
    vectors = vectors.withColumn("_vn", norm(vec_alias))
    centroids = centroids.withColumn("_cn", norm("centroid"))
    pairs = vectors.crossJoin(F.broadcast(centroids))
    scored = pairs.select(
        id_alias,
        vec_alias,
        "cid",
        F.round(
            cosine_with_norms(
                F.col(vec_alias), F.col("centroid"), F.col("_vn"), F.col("_cn")
            ),
            6,
        ).alias("csim"),
    )
    if nprobe == 1:
        return (
            scored.groupBy(id_alias)
            .agg(
                F.min(
                    F.struct((-F.col("csim")).alias("ncs"), F.col("cid"))
                ).alias("_m"),
                F.first(vec_alias).alias(vec_alias),
            )
            .select(id_alias, vec_alias, F.col("_m.cid").alias("cell"))
        )
    w = W.partitionBy(id_alias).orderBy(F.col("csim").desc(), F.col("cid").asc())
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .select(id_alias, vec_alias, F.col("cid").alias("cell"))
    )


def kmeans_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_stride: int = 100,
    iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Spherical k-means (Lloyd) centroid training -> (cid, centroid).

    Initialization is the deterministic :func:`centroid_sample` (so the
    whole fit is reproducible — no RNG state anywhere); each iteration is
    assign (broadcast cosine argmax, no corpus shuffle) then update (one
    hash aggregation per iteration: ``dim`` per-element ``avg`` columns,
    map-side combined, shuffling |cells| × dim doubles only). Cells that
    lose all members drop out, standard Lloyd behavior. Trained centroids
    plug into :func:`ivf_topk` / :func:`ivf_build` via ``centroids=`` for
    tighter cells than the raw sample — better recall at the same nprobe.

    The fixed, small iteration count keeps the fit SQL-expressible by
    unrolling (see __spark_entry__._ivf_trained_sql, the DuckDB oracle for
    ann_ivf_trained); a NumPy Lloyd twin test independently checks the
    algorithm.
    """
    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    if dim is None:
        dim = len(vecs.select("v").first()["v"])
    centroids = centroid_sample(corpus, vec_col, id_col, centroid_stride)
    for _ in range(iters):
        assigned = ivf_assign(vecs, centroids, vec_alias="v", id_alias="vid", nprobe=1)
        centroids = assigned.groupBy("cell").agg(
            decimal_mean_array("v", dim).alias("centroid")
        ).select(F.col("cell").alias("cid"), "centroid")
    return centroids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_stride: int = 100,
    nprobe: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    Centroids are data-sampled deterministically (every ``centroid_stride``-th
    corpus vector — sampling is a standard coarse-quantizer init, pinned here
    so the result is reproducible and oracle-checkable), or passed in via
    ``centroids`` (e.g. :func:`kmeans_fit` output) for trained cells.
    Corpus vectors are assigned to their nearest cell; queries probe their
    ``nprobe`` nearest cells and score only those cells' members.

    Scale shape: assignment is a broadcast argmax (no corpus shuffle); the
    probe join is an equi join on ``cell``. At 1e9+ vectors the assignment
    is a one-off index build persisted as parquet PARTITIONED BY cell, so a
    query reads only nprobe/num_cells of the corpus — the IVF pruning that
    makes ANN sublinear without a vector-DB dependency.
    """
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    if centroids is None:
        centroids = centroid_sample(corpus, vec_col, id_col, centroid_stride)
    cells = ivf_assign(
        c, centroids, vec_alias="cv", id_alias="neighbor_id", nprobe=1
    ).withColumn("cn", norm(F.col("cv")))
    probes = ivf_assign(
        F.broadcast(q), centroids, vec_alias="qv", id_alias="query_id", nprobe=nprobe
    ).withColumn("qn", norm(F.col("qv")))
    pairs = probes.join(cells, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ),
            6,
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_build(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_stride: int = 100,
    centroids: DataFrame | None = None,
) -> None:
    """Persist the IVF index: corpus vectors written PARTITIONED BY cell.

    The one-off build that makes `ivf_query` sublinear: a query probing
    nprobe cells reads only those partition directories — Spark partition
    pruning turns the coarse quantizer into a disk-level skip list. Cell
    assignment is the broadcast argmax of `ivf_assign` (no corpus shuffle
    beyond the partitioned write itself). Pass ``centroids`` (e.g. a
    :func:`kmeans_fit` result — persist it beside the index and reuse it
    at query time) to build over trained cells.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    if centroids is None:
        centroids = centroid_sample(corpus, vec_col, id_col, centroid_stride)
    cells = ivf_assign(c, centroids, vec_alias="cv", id_alias="neighbor_id", nprobe=1)
    (
        cells.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_append(
    batch: DataFrame,
    path: str,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Append a NEW vector batch to a persisted IVF index — the daily-
    embedding-batch cadence (the ANN twin of dedup's incremental LSH):
    assign ONLY the batch against the SAME centroids the index was built
    with and append into the matching cell partitions.  Cost tracks the
    batch, never the accumulated corpus; existing cell files are untouched
    (parquet append adds files inside each partition directory).

    Centroids are deliberately REQUIRED, not defaulted: re-deriving them
    from the batch would assign against different cells than the existing
    index, silently corrupting recall — persist the centroid table beside
    the index at build time and pass it here and to :func:`ivf_query`.
    """
    b = batch.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    cells = ivf_assign(b, centroids, vec_alias="cv", id_alias="neighbor_id", nprobe=1)
    (
        cells.repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_query(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_stride: int = 100,
    nprobe: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Top-k against a persisted IVF index, reading only probed cells.

    The probe cells are computed driver-side from the (tiny) centroid set,
    then pushed as a partition filter — `.explain` shows the scan's
    PartitionFilters pruning to nprobe directories
    (tests/test_plans.py::test_ivf_query_partition_pruning). Pass the same
    ``centroids`` the index was built with (`ivf_build(centroids=...)`),
    or cell assignment and probing will disagree.
    """
    if centroids is None:
        centroids = centroid_sample(corpus, vec_col, id_col, centroid_stride)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    probes = ivf_assign(
        F.broadcast(q), centroids, vec_alias="qv", id_alias="query_id", nprobe=nprobe
    )
    probes = probes.withColumn("qn", norm(F.col("qv")))
    probe_cells = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    index = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probe_cells))
        .withColumn("cn", norm(F.col("cv")))
    )
    pairs = probes.join(index, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ),
            6,
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    num_planes: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    Same output shape as cosine_topk; recall < 1 by construction. Bucketing
    keys are computed with the same deterministic planes on both sides, so
    the join is a plain equi join on the bucket string.
    """
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qv"),
        )
        .withColumn("bucket", lsh_bucket("qv", dim, num_planes))
        .withColumn("qn", norm(F.col("qv")))
    )
    c = (
        ensure_parallelism(corpus)
        .select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("bucket", lsh_bucket("cv", dim, num_planes))
        .withColumn("cn", norm(F.col("cv")))
    )
    pairs = F.broadcast(q).join(c, "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ),
            6,
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ------------------------------------------------------- int8 quantization

def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard embedding
    compression step before an ANN index ships (4x smaller than float32,
    8x than the doubles Spark would widen to).

    Per row: scale = 127 / max|x|, codes = round(x * scale) in [-127,127].
    Emits exact-integer summaries of the code vector (L1 mass, nonzero
    count, max code) plus the rounded scale, so an oracle can verify the
    quantizer bit-for-bit without shipping arrays through comparators that
    crash on list cells.

    Map-only: higher-order functions, zero shuffles, no Python. Zero
    vectors pass through with null scale (nothing to scale).

    Per-row staging (r14): the double-cast vector, its max|x|, and the
    code array are materialized as REAL columns across stacked
    projections instead of one composed expression.  Higher-order
    lambdas are interpreted with no common-subexpression elimination, so
    the composed form re-evaluated the whole array_max(transform(abs))
    subtree inside every per-element lambda — 2 x 64 max-scans per row —
    and the code array itself three more times (one per summary).
    CollapseProject keeps the stages apart because each staged alias is
    non-cheap and referenced more than once.  Same ops, same order,
    evaluated once: values are bit-identical.
    """
    staged = (
        ensure_parallelism(df)
        .select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .withColumn("_ma", F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x))))
    )
    scale = F.when(F.col("_ma") > 0, F.lit(127.0) / F.col("_ma"))
    coded = staged.select(
        F.col(id_col),
        F.transform(F.col("_v"), lambda x: F.round(x * scale).cast("int")).alias("_q"),
        F.round(scale, 6).alias("scale_r"),
    )
    q = F.col("_q")
    return coded.select(
        F.col(id_col),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)).alias("q_l1"),
        F.aggregate(
            q, F.lit(0).cast("long"),
            lambda acc, x: acc + (x != 0).cast("long"),
        ).alias("q_nnz"),
        F.array_max(F.transform(q, lambda x: F.abs(x))).alias("q_max"),
        "scale_r",
    )


def _int8_codes(vec: Column) -> Column:
    """Symmetric int8 codes of a float vector (see quantize_int8) as one
    composed expression — the per-row scale subtree sits INSIDE the
    per-element lambda, so prefer :func:`_with_int8_codes` (staged
    columns) wherever a DataFrame is at hand."""
    v = as_double(vec)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs)
    return F.transform(v, lambda x: F.round(x * scale).cast("long"))


def _with_int8_codes(df: DataFrame, vec_col: str, id_out: Column, code_col: str) -> DataFrame:
    """(id_out, <code_col>: array<long>) — int8 codes with the per-row
    max|x| STAGED as a real column (r14, guide §4.1 per-task work):
    composing the scale inline puts the array_max(transform(abs)) subtree
    inside the per-element lambda, and higher-order lambdas are
    interpreted with no common-subexpression elimination — measured as
    2 x 64 max-scans per row in the ann_quantized before-plan.  Stages
    survive CollapseProject (non-cheap aliases, each referenced twice).
    Same ops, same order, evaluated once: bit-identical values.
    """
    staged = df.select(id_out, as_double(F.col(vec_col)).alias("_v")).withColumn(
        "_ma", F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x)))
    )
    scale = F.when(F.col("_ma") > 0, F.lit(127.0) / F.col("_ma"))
    id_name = staged.columns[0]
    return staged.select(
        id_name,
        F.transform(F.col("_v"), lambda x: F.round(x * scale).cast("long")).alias(code_col),
    )


def _int_dot(a: "Column | str", b: "Column | str") -> Column:
    return F.aggregate(
        F.zip_with(_as_col(a), _as_col(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by cosine over int8 quantized codes — the
    memory-compressed retrieval path (4x smaller vectors than float32).

    Symmetric per-vector scaling cancels out of cosine, so similarity is
    computed directly on the integer codes: the dot product and both
    norms are EXACT int64 sums (order-independent — no float-summation
    reproducibility hazard at all), with one sqrt+divide per pair as the
    only float math. A broadcast(queries) x corpus scan, as cosine_topk
    was before its block kernel; the integer kernel is also what a SIMD int8 GEMM would run on a real
    serving path.
    """
    q = _with_int8_codes(
        queries, vec_col, F.col(id_col).alias("query_id"), "qc"
    ).withColumn("qn", F.sqrt(_int_dot("qc", "qc").cast("double")))
    c = _with_int8_codes(
        ensure_parallelism(corpus), vec_col, F.col(id_col).alias("neighbor_id"), "cc"
    ).withColumn("cn", F.sqrt(_int_dot("cc", "cc").cast("double")))
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            _int_dot("qc", "cc").cast("double") / (F.col("qn") * F.col("cn")),
            6,
        ).alias("qcosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("qcosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def rrf_fuse(results: list[DataFrame], rrf_k: int = 60, top: int = 5) -> DataFrame:
    """Reciprocal-rank fusion of ranked retrieval lists — hybrid search's
    standard merge (Cormack et al.): score(q, d) = Σ_lists 1/(rrf_k + rank).

    Each input needs (query_id, neighbor_id, rank).  Union + one map-side-
    combined sum per (query, doc) + per-query row_number: no list ever
    re-scores vectors, so fusing an IVF pass with an LSH (or lexical BM25)
    pass costs only the tiny result-set shuffle.  Scores are rounded (6)
    before ranking with a neighbor-id tiebreak — the repo-wide
    engine-stable top-k rule.
    """
    u = results[0].select("query_id", "neighbor_id", "rank")
    for r in results[1:]:
        u = u.unionByName(r.select("query_id", "neighbor_id", "rank"))
    scored = (
        u.groupBy("query_id", "neighbor_id")
        .agg(
            F.round(
                F.sum(F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank"))), 6
            ).alias("rrf")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top
    )


def power_iteration_pc(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Top principal direction of an embedding corpus via power iteration
    (uncentered Gram matrix): v ← normalize(Σ_x (x·v)·x), deterministic
    uniform init — the RNG-free dominant-eigenvector sweep used for
    anisotropy diagnostics and all-but-the-top embedding post-processing.

    Each iteration is ONE corpus pass: the projection x·v binds once per
    row, then ``dim`` map-side-combined sums shuffle a single row; the
    normalization runs on that 1-row frame and broadcasts back.  Like
    kmeans_fit/pagerank, a FIXED small ``iters`` keeps the whole sweep
    SQL-expressible by unrolling, so the driver query is fully
    oracle-checked.  Returns one row: (pc array rounded 6, iterations).

    The per-dim Gram sums fold in DECIMAL(27,6) over 6dp-rounded terms
    (r7 hardening) — a plain float sum is partition-order sensitive, the
    exact latent-hazard class that flipped embedding_class_sep in r6;
    the per-row term x_j·d stays IEEE (deterministic in-row).
    """
    if corpus.is_cached:
        # caller already persisted the vector frame (debias_top_pc) —
        # deriving straight from the cache keeps each iteration a cache
        # read; re-running ensure_parallelism would bolt a fresh
        # round-robin Exchange onto every pass (r13).
        vecs = corpus.select(as_double(F.col(vec_col)).alias("x"))
    else:
        from . import _persist_scoped

        # each iteration is a full pass over vecs: without a pin the
        # scan + repartition subtree re-executes once PER iteration
        # plus once per downstream consumer (r13 — plan showed the
        # corpus scan duplicated 2x/4x for top_pc/debias).
        vecs = _persist_scoped(
            ensure_parallelism(corpus).select(as_double(F.col(vec_col)).alias("x"))
        )
    if dim is None:
        dim = len(vecs.select("x").first()["x"])
    init = 1.0 / float(dim) ** 0.5
    v = vecs.sparkSession.range(1).select(
        F.array(*[F.lit(init) for _ in range(dim)]).alias("v")
    )
    for _ in range(iters):
        proj = vecs.crossJoin(F.broadcast(v)).select(
            "x", dot("x", "v").alias("d")
        )
        s = proj.agg(
            F.array(
                *[
                    F.sum(
                        F.round(F.col("x")[j] * F.col("d"), 6).cast("decimal(27,6)")
                    ).cast("double")
                    for j in range(dim)
                ]
            ).alias("s")
        )
        v = s.select(
            F.transform(
                F.col("s"), lambda e: e / F.sqrt(dot(F.col("s"), F.col("s")))
            ).alias("v")
        )
    return v.select(
        F.transform(F.col("v"), lambda e: F.round(e, 6)).alias("pc"),
        F.lit(iters).alias("iterations"),
    )


def debias_top_pc(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """All-but-the-top embedding post-processing (Mu & Viswanath 2018,
    publicly documented): center the corpus, then remove each vector's
    component along the dominant principal direction — the standard
    anisotropy fix that makes cosine similarities discriminative again.
    Returns one row per vector: (id, proj, norm_before, norm_after),
    all rounded to 6 — proj is the removed component, the norms audit
    how much mass the top direction carried.

    Composition of the repo's exact primitives: the corpus mean folds
    in DECIMAL(27,6) (:func:`decimal_mean_array` — summation-order-free)
    and the direction comes from :func:`power_iteration_pc` over the
    CENTERED vectors (decimal Gram sums, fixed ``iters`` so the whole
    sweep unrolls into the oracle).  Per-vector math consumes the
    6dp-ROUNDED pc and proj, so given the (driver-checked) pc every
    output value is one deterministic in-row IEEE expression.

    Scale: two corpus passes per iteration plus one scoring pass; the
    mean, pc, and every intermediate that crosses the wire is a 1-row
    dim-length array — vectors themselves never shuffle.
    """
    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("__vid"), as_double(F.col(vec_col)).alias("x")
    )
    if dim is None:
        dim = len(vecs.select("x").first()["x"])
    from . import _persist_scoped

    mu = vecs.agg(decimal_mean_array("x", dim).alias("m"))
    # centered is read by every power iteration AND the scoring pass —
    # unpinned, each consumer re-ran scan + mean-aggregate + centering
    # (r13: the before-plan held 3 copies of the whole subtree).
    centered = _persist_scoped(
        vecs.crossJoin(F.broadcast(mu)).select(
            "__vid", F.zip_with(F.col("x"), F.col("m"), lambda a, b: a - b).alias("c")
        )
    )
    pc = power_iteration_pc(centered, vec_col="c", id_col="__vid", iters=iters, dim=dim)
    out = centered.crossJoin(F.broadcast(pc.select("pc"))).select(
        F.col("__vid").alias(id_col),
        "c",
        "pc",
        F.round(dot("c", "pc"), 6).alias("proj"),
    )
    resid = F.zip_with(
        F.col("c"), F.col("pc"), lambda ce, ve: ce - F.col("proj") * ve
    )
    return out.select(
        id_col,
        "proj",
        F.round(norm("c"), 6).alias("norm_before"),
        F.round(norm(resid), 6).alias("norm_after"),
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    n_pos: int = 2,
    n_neg: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive training-pair mining: for each query vector, the
    ``n_pos`` nearest SAME-label neighbors (positives) and the ``n_neg``
    nearest DIFFERENT-label neighbors (hard negatives — the examples a
    contrastive / triplet loss learns the most from, per Schroff et al.
    2015 FaceNet semi-hard mining intuition).

    Returns (query_id, role, rank, neighbor_id, cosine) with role in
    {'pos', 'neg'}; cosine rounded to 6dp BEFORE ranking and ties broken
    on neighbor id, so ordering is engine-stable.  Self-matches excluded.

    Scale shape: broadcast(queries) x corpus scan, per-pair work is one dot product with norms bound per
    side, top-k per (query, role) is a window rank with WindowGroupLimit
    pushdown.  The corpus is never shuffled; swap the scored candidate
    source for an IVF probe join to make it sublinear.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        F.col(label_col).alias("__ql"),
    ).withColumn("qn", norm("qv"))
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        F.col(label_col).alias("__cl"),
    ).withColumn("cn", norm("cv"))
    pairs = F.broadcast(q).crossJoin(c).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.when(F.col("__ql") == F.col("__cl"), F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("role"),
        F.round(
            cosine_with_norms("qv", "cv", F.col("qn"), F.col("cn")), 6
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id", "role").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    return ranked.filter(
        ((F.col("role") == "pos") & (F.col("rank") <= n_pos))
        | ((F.col("role") == "neg") & (F.col("rank") <= n_neg))
    ).select("query_id", "role", "rank", "neighbor_id", "cosine")


def ivf_cell_balance(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_stride: int = 100,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF index health report: per-cell member count, share of the
    corpus, and multiple-of-mean — the partition-balance diagnostic for
    a cell-partitioned ANN index (a cell at 20x the mean is the straggler
    that serializes every probe touching it; the fix is more centroids or
    retraining, and this report is how you see it before it hurts).

    Returns one row per non-empty cell: (cell, n_vectors, share,
    x_mean), share/x_mean rounded to 6dp, ordered nowhere (sort at the
    call site).  Scale: one broadcast-argmax assign over the corpus (no
    shuffle of the vectors) + one |cells|-row aggregate; the mean rides
    in via a 1-row broadcast cross join.
    """
    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    if centroids is None:
        centroids = centroid_sample(corpus, vec_col, id_col, centroid_stride)
    assigned = ivf_assign(vecs, centroids, vec_alias="v", id_alias="vid", nprobe=1)
    per_cell = assigned.groupBy("cell").agg(F.count("*").alias("n_vectors"))
    tot = per_cell.agg(
        F.sum("n_vectors").cast("double").alias("__tot"),
        F.count("*").cast("double").alias("__cells"),
    )
    return per_cell.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vectors",
        F.round(F.col("n_vectors") / F.col("__tot"), 6).alias("share"),
        F.round(
            F.col("n_vectors") / (F.col("__tot") / F.col("__cells")), 6
        ).alias("x_mean"),
    )


def reciprocal_topk_pairs(
    corpus: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """Reciprocal-nearest-neighbor pairs: (a, b) such that b is in a's
    top-k AND a is in b's top-k — the mutual-kNN criterion production
    image/text dedup uses instead of a raw cosine threshold, because
    one-directional neighbors are asymmetric in dense regions (a hub
    vector appears in everyone's top-k without them appearing in its).
    Returns (id_a, id_b, cosine, rank_ab, rank_ba) with id_a < id_b.

    ``neighbors=`` injects a precomputed (query_id, neighbor_id, cosine,
    rank) frame — e.g. ivf_query / lsh_topk output — which is the scale
    path: the default exact :func:`cosine_topk` over the whole corpus is
    the eval baseline and broadcasts the query block (fine at eval sizes,
    not at 1e9 vectors).  The mutuality test reads the |corpus|·k
    neighbor list ONCE: one aggregate over the unordered pair
    (least, greatest) takes the cosine and rank_ab from the
    query_id < neighbor_id row and rank_ba from the other direction, and
    keeps the pairs that have both ranks — never a self-join, never a
    vector shuffle, and nothing to pin.
    """
    nbrs = (
        neighbors
        if neighbors is not None
        else cosine_topk(corpus, corpus, k=k, vec_col=vec_col, id_col=id_col)
    )
    fwd = F.col("query_id") < F.col("neighbor_id")
    return (
        nbrs.groupBy(
            F.least("query_id", "neighbor_id").alias("id_a"),
            F.greatest("query_id", "neighbor_id").alias("id_b"),
        )
        .agg(
            F.max(F.when(fwd, F.col("cosine"))).alias("cosine"),
            F.max(F.when(fwd, F.col("rank"))).alias("rank_ab"),
            F.max(F.when(~fwd, F.col("rank"))).alias("rank_ba"),
        )
        .filter(F.col("rank_ab").isNotNull() & F.col("rank_ba").isNotNull())
    )


def kmeans_inertia(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-cell clustering-quality report over trained centroids: member
    count, within-cell sum of squared L2 distance (inertia — the Lloyd
    objective), and mean squared distance.  The geometry complement to
    :func:`ivf_cell_balance`'s cardinality view: a cell can be perfectly
    sized yet loose (high mean d²), which is the retrain signal a balance
    report alone cannot see.

    Cross-engine contract: d² is built from three 6dp-rounded dots
    (``round(round(v·v,6) - 2·round(v·c,6) + round(c·c,6), 6)``) and the
    per-cell sum runs in DECIMAL(20,6) — exact, summation-order-free — so
    the oracle reproduces `inertia` bit-for-bit from the same rounded
    terms.  Returns (cell, n_vectors, inertia[4dp], mean_d2[6dp]).

    Scale: one broadcast-argmax assign (no corpus shuffle — the vectors
    never move for the centroid join either, centroids are broadcast
    twice), then one map-side-combined |cells|-row aggregate.
    """
    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    assigned = ivf_assign(vecs, centroids, vec_alias="v", id_alias="vid", nprobe=1)
    joined = assigned.join(
        F.broadcast(centroids.select(F.col("cid").alias("cell"), "centroid")), "cell"
    )
    d2 = F.round(
        F.round(dot("v", "v"), 6)
        - 2 * F.round(dot("v", "centroid"), 6)
        + F.round(dot("centroid", "centroid"), 6),
        6,
    )
    per_cell = joined.select("cell", d2.cast("decimal(20,6)").alias("__d2")).groupBy(
        "cell"
    ).agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum("__d2").alias("__s"),
    )
    return per_cell.select(
        "cell",
        "n_vectors",
        F.round(F.col("__s").cast("double"), 4).alias("inertia"),
        F.round(F.col("__s").cast("double") / F.col("n_vectors"), 6).alias("mean_d2"),
    )


def class_separation(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-space class-separation report: per label, the cohesion
    (mean cosine of members to their OWN class centroid) and the nearest
    confusable class (max cosine between this centroid and any other
    label's centroid), plus the margin between them — the
    silhouette-style eval that says whether an embedding model separates
    the label space before you build classifiers on it.

    Returns one row per label: (label, n, cohesion, nearest_other,
    margin), all cosines rounded 6dp; nearest-other ties are broken by
    the other label id (deterministic).

    Scale: centroids are ONE map-side-combined aggregate (dim avg
    columns, |labels| x dim doubles shuffled); cohesion is a second
    corpus pass joining each member to its broadcast centroid; the
    centroid x centroid confusion pass runs on the tiny |labels|^2
    frame.  The corpus is scanned twice and never shuffled.
    """
    vecs = ensure_parallelism(corpus).select(
        F.col(label_col).alias("label"), as_double(F.col(vec_col)).alias("v")
    )
    if dim is None:
        dim = len(vecs.select("v").first()["v"])
    cent = vecs.groupBy("label").agg(
        F.count("*").alias("n"),
        decimal_mean_array("v", dim).alias("c"),
    )
    cent_n = cent.withColumn("cn", norm("c"))
    coh = (
        vecs.withColumn("vn", norm("v"))
        .join(F.broadcast(cent_n.select("label", "c", "cn")), "label")
        .select(
            "label",
            # per-member cosine rounded BEFORE the avg so the aggregate is
            # engine-stable (same contract as cosine_topk's pre-rank round)
            F.round(
                cosine_with_norms(
                    F.col("v"), F.col("c"), F.col("vn"), F.col("cn")
                ),
                6,
            ).alias("cs"),
        )
        .groupBy("label")
        # exact-decimal mean of the (already 6dp) member cosines: same
        # summation-order-free contract as the centroid above
        .agg(
            F.round(
                F.sum(F.col("cs").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("cohesion")
        )
    )
    a = cent_n.select(
        F.col("label"), F.col("c").alias("ca"), F.col("cn").alias("na")
    )
    b = cent_n.select(
        F.col("label").alias("other"), F.col("c").alias("cb"), F.col("cn").alias("nb")
    )
    conf = (
        a.join(F.broadcast(b), F.col("label") != F.col("other"))
        .select(
            "label",
            "other",
            F.round(
                cosine_with_norms(
                    F.col("ca"), F.col("cb"), F.col("na"), F.col("nb")
                ),
                6,
            ).alias("cc"),
        )
    )
    w = W.partitionBy("label").orderBy(F.col("cc").desc(), F.col("other").asc())
    nearest = (
        conf.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("label", F.col("cc").alias("nearest_other"))
    )
    return (
        cent.select("label", "n")
        .join(coh, "label")
        .join(nearest, "label")
        .select(
            "label",
            "n",
            "cohesion",
            "nearest_other",
            F.round(F.col("cohesion") - F.col("nearest_other"), 6).alias("margin"),
        )
    )


def cell_prototypicality(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_stride: int = 100,
    centroids: DataFrame | None = None,
    drop_frac: float = 0.25,
) -> DataFrame:
    """D4-style prototypicality scoring (Tirumala et al. 2023, "D4:
    Improving LLM Pretraining via Document De-Duplication and
    Diversification"): after SemDeDup removes near-duplicate CLUSTERS,
    D4's second pass prunes the most PROTOTYPICAL points — the ones
    closest to their k-means cluster centroid, i.e. the templated,
    information-poor core of each semantic cluster — keeping the diverse
    boundary.

    Per vector: its cell, cosine to the cell centroid (rounded 6),
    rank within the cell (1 = most prototypical, ties on id asc), cell
    size, and ``proto_drop`` = rank <= floor(cell_n * drop_frac) — the
    prune set at ``drop_frac``.

    Scale: one broadcast-argmax assign (no corpus shuffle), the
    proto-cosine computed in the same pass via the assign's carried
    vector, then per-cell window rank + count — partitions are cells,
    whose size the IVF balance report (ivf_cell_balance) already
    monitors; a pathological whale cell is an index-health bug upstream
    of this operator.
    """
    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    if centroids is None:
        centroids = centroid_sample(corpus, vec_col, id_col, centroid_stride)
    assigned = ivf_assign(vecs, centroids, vec_alias="v", id_alias="vid", nprobe=1)
    cents = centroids.select(F.col("cid").alias("cell"), "centroid")
    scored = assigned.join(F.broadcast(cents), "cell").select(
        "vid",
        "cell",
        F.round(cosine(F.col("v"), F.col("centroid")), 6).alias("proto_cos"),
    )
    w = W.partitionBy("cell").orderBy(F.col("proto_cos").desc(), F.col("vid").asc())
    cw = W.partitionBy("cell")
    return (
        scored.withColumn("proto_rank", F.row_number().over(w))
        .withColumn("cell_n", F.count("*").over(cw))
        .select(
            "vid",
            "cell",
            "proto_cos",
            "proto_rank",
            "cell_n",
            (
                F.col("proto_rank")
                <= F.floor(F.col("cell_n") * F.lit(drop_frac)).cast("int")
            ).alias("proto_drop"),
        )
    )


def embedding_drift(
    old: DataFrame,
    new: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_stride: int = 100,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Embedding-population drift report between two corpus versions —
    the monitoring check that tells you a retrained embedder or a
    changed upstream corpus has shifted the vector distribution an ANN
    index / dedup blocking was built for.

    Both versions are assigned to the SAME frozen cells (sampled or
    trained on the OLD version — the baseline must not move with the
    data), then each cell contributes a population-stability-index term
    psi = (p_old - p_new) * ln(p_old / p_new) over Laplace-smoothed cell
    shares (smoothing keeps empty-on-one-side cells finite; the industry
    read: total PSI < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted).

    One row per cell: (cell, n_old, n_new, p_old, p_new, psi_term), all
    shares/terms rounded 6.  Sum psi_term for the headline number.

    Scale: two broadcast-argmax assigns (no corpus shuffle) + two
    |cells|-row aggregates joined full-outer on cell; totals ride in via
    1-row broadcasts.
    """
    if centroids is None:
        centroids = centroid_sample(old, vec_col, id_col, centroid_stride)

    def cell_counts(df: DataFrame, alias: str) -> DataFrame:
        vecs = ensure_parallelism(df).select(
            F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
        )
        assigned = ivf_assign(vecs, centroids, vec_alias="v", id_alias="vid", nprobe=1)
        return assigned.groupBy("cell").agg(F.count("*").alias(alias))

    co = cell_counts(old, "n_old")
    cn = cell_counts(new, "n_new")
    cells = co.join(cn, "cell", "full_outer").select(
        "cell",
        F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )
    tot = cells.agg(
        F.sum("n_old").cast("double").alias("__to"),
        F.sum("n_new").cast("double").alias("__tn"),
        F.count("*").cast("double").alias("__nc"),
    )
    sm = F.lit(0.5)
    with_p = cells.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_old",
        "n_new",
        ((F.col("n_old") + sm) / (F.col("__to") + sm * F.col("__nc"))).alias("__po"),
        ((F.col("n_new") + sm) / (F.col("__tn") + sm * F.col("__nc"))).alias("__pn"),
    )
    return with_p.select(
        "cell",
        "n_old",
        "n_new",
        F.round(F.col("__po"), 6).alias("p_old"),
        F.round(F.col("__pn"), 6).alias("p_new"),
        F.round(
            (F.col("__po") - F.col("__pn")) * F.log(F.col("__po") / F.col("__pn")), 6
        ).alias("psi_term"),
    )


def mrl_recall(
    emb: DataFrame,
    dims: list[int] | tuple[int, ...] = (8, 16, 32),
    k: int = 5,
    query_stride: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022, "Matryoshka
    Representation Learning"): recall@k of exact cosine top-k computed on
    only the FIRST ``d`` dimensions (re-normalized, as MRL serving does)
    against the full-dimension exact top-k, for each candidate truncation
    ``d`` — the table that decides how many dims a serving fleet can shed
    (a 64→16 truncation is a 4× index-size and bandwidth cut IF recall
    holds).  One row per d: (dim, n_exact_pairs, n_hits, recall_at_k),
    ordered by dim.

    Queries are the deterministic ``id % query_stride == 0`` sample (the
    ann_recall convention).  Truncated vectors are ``slice(vec, 1, d)``
    — prefix truncation is the MRL contract; no re-projection.  Ties
    break on 6dp-rounded cosine then neighbor id (engine-stable ranking,
    the bm25 idiom), identical to :func:`cosine_topk` because each
    per-dim pass IS cosine_topk on the sliced frame.

    Scale: |dims| brute-force passes, each one broadcast query block
    against one block exchange of the corpus (the corpus is never
    exchanged by id; cosine_topk's per-query top-k window partitions by
    query).  At 1e9 vectors you'd swap the exact passes for the IVF
    probe (ivf_topk) per dim; the comparison logic is unchanged.
    """
    from . import _persist_scoped

    queries = emb.filter(F.col(id_col) % query_stride == 0)
    # The full-dim exact list is consumed TWICE PER dim (the hit
    # semi-join probe + the n_exact_pairs count): unpinned, the whole
    # brute-force pass re-ran 2·|dims| times (r13).  |Q|·k rows, bounded.
    exact = _persist_scoped(
        cosine_topk(queries, emb, k=k, vec_col=vec_col, id_col=id_col).select(
            "query_id", "neighbor_id"
        )
    )
    out = None
    for d in sorted(int(d) for d in dims):
        qd = queries.select(id_col, F.slice(vec_col, 1, d).alias(vec_col))
        cd = emb.select(id_col, F.slice(vec_col, 1, d).alias(vec_col))
        trunc = cosine_topk(qd, cd, k=k, vec_col=vec_col, id_col=id_col).select(
            "query_id", "neighbor_id"
        )
        hits = trunc.join(exact, ["query_id", "neighbor_id"], "left_semi")
        row = (
            exact.agg(F.count("*").cast("long").alias("n_exact_pairs"))
            .crossJoin(hits.agg(F.count("*").cast("long").alias("n_hits")))
            .select(
                F.lit(d).cast("int").alias("dim"),
                "n_exact_pairs",
                "n_hits",
                F.round(F.col("n_hits") / F.col("n_exact_pairs"), 4).alias(
                    "recall_at_k"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def rbo_weights(p: float, k: int) -> list[float]:
    """Per-first-overlap-depth RBO weights, truncated at depth ``k``:
    ``w[m] = sum_{d=m..k} p^(d-1)/d`` for m = 1..k (see
    :func:`rbo_overlap` — an item whose prefixes first overlap at depth
    m contributes w[m] to the unscaled sum).  Pure driver-side floats;
    the oracle twin inlines the SAME literals, so both engines fold
    identical constants."""
    out = []
    for m in range(1, k + 1):
        out.append(sum(p ** (d - 1) / d for d in range(m, k + 1)))
    return out


def rank_overlap(a: DataFrame, b: DataFrame) -> DataFrame:
    """Two ranked lists side by side -> (query_id, neighbor_id, rank_a,
    rank_b): ONE full outer equi join on (query_id, neighbor_id).

    Inputs need (query_id, neighbor_id, rank) — the cosine_topk /
    ivf_topk / rrf_fuse shape.  Ranks come out as ``long``; a rank is
    NULL where the item is absent from that list.  So the rows with both
    ranks present are exactly the overlap (the inner join), and every
    query present in either list keeps at least one row — grouping by
    query_id emits each such query once, zero-overlap queries included.
    The ranking metrics below (and ``ann_recall``) are each one
    aggregate over this frame, so each input is read once.
    """

    def side(df: DataFrame, rank: str) -> DataFrame:
        return df.select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias(rank)
        )

    return side(a, "rank_a").join(
        side(b, "rank_b"), ["query_id", "neighbor_id"], "full"
    )


def _both_ranked() -> Column:
    return F.col("rank_a").isNotNull() & F.col("rank_b").isNotNull()


def rbo_overlap(
    a: DataFrame,
    b: DataFrame,
    p: float = 0.9,
    k: int = 5,
    out_round: int = 6,
) -> DataFrame:
    """Rank-biased overlap (Webber et al., TOIS 2010) between two ranked
    lists per query, truncated at depth ``k`` -> (query_id, rbo).

    The rank-SENSITIVE companion to recall@k (``ann_recall`` counts set
    hits; RBO discounts agreement geometrically by depth, so two systems
    that retrieve the same set in different orders score < 1):
    ``rbo = (1-p) * sum_{d=1..k} p^(d-1) * |A_1..d ∩ B_1..d| / d``.

    The depth sum is re-indexed per ITEM — an item ranked r_a in A and
    r_b in B joins both prefixes from depth m = max(r_a, r_b) onward, so
    its total contribution is ``w[m] = sum_{d=m..k} p^(d-1)/d``, a
    k-entry literal lookup (:func:`rbo_weights`).

    Shape: :func:`rank_overlap` + one per-query sum of ``w[m]`` over the
    overlap rows.  Inputs need (query_id, neighbor_id, rank) with rank
    1..k.  Queries present in either list but with ZERO overlapping
    items emit rbo = 0.0.  Per-item weights are 9dp-rounded and folded in
    DECIMAL(38,9); the result is rounded ``out_round`` — the repo-wide
    engine-stable fold.
    """
    wmap = F.map_from_arrays(
        F.array(*[F.lit(m).cast("long") for m in range(1, k + 1)]),
        F.array(*[F.lit(x) for x in rbo_weights(p, k)]),
    )
    wm = F.round(wmap[F.greatest("rank_a", "rank_b")], 9).cast("decimal(38,9)")
    s = F.sum(F.when(_both_ranked(), wm)).cast("double")
    return (
        rank_overlap(a, b)
        .groupBy("query_id")
        .agg(
            F.round(F.lit(1.0 - p) * F.coalesce(s, F.lit(0.0)), out_round).alias(
                "rbo"
            )
        )
    )


def mrr_first_hit(
    a: DataFrame,
    b: DataFrame,
    out_round: int = 6,
) -> DataFrame:
    """Reciprocal rank of the first RELEVANT item per query ->
    (query_id, first_hit_rank, rr) — the third leg of the ranking-eval
    triad (recall@k counts set hits, RBO discounts order disagreement,
    MRR grades ONLY how early the first hit lands — the metric for
    retrieval feeding a one-answer consumer like RAG context stuffing).

    ``a`` is the candidate ranking (query_id, neighbor_id, rank 1..k —
    the cosine_topk / ivf_topk / rrf_fuse shape); ``b`` is the relevance
    reference — any frame with (query_id, neighbor_id), e.g. the exact
    brute-force top-k.  rr = 1 / min rank in ``a`` of an item present in
    ``b`` for that query; queries in either input with zero overlap emit
    (0, 0.0) — the 0 rank is the explicit no-hit sentinel (not NULL:
    a nullable long lands in pandas as float64/NaN and breaks the
    dtype-sensitive driver hash), so systemic misses stay visible
    rather than dropped.

    Shape: :func:`rank_overlap` + one per-query min of rank_a over the
    rows ``b`` holds.  rr is a single division off an exact integer
    rank, rounded once.
    """
    if "rank" not in b.columns:
        # a reference SET: a placeholder rank marks membership
        b = b.withColumn("rank", F.lit(0))
    first = F.col("first")
    return (
        rank_overlap(a, b)
        .groupBy("query_id")
        .agg(F.min(F.when(F.col("rank_b").isNotNull(), F.col("rank_a"))).alias("first"))
        .select(
            "query_id",
            F.coalesce(first, F.lit(0).cast("long")).alias("first_hit_rank"),
            F.round(
                F.coalesce(F.lit(1.0) / first.cast("double"), F.lit(0.0)), out_round
            ).alias("rr"),
        )
    )


def ndcg_overlap(
    a: DataFrame,
    b: DataFrame,
    k: int = 5,
    out_round: int = 6,
) -> DataFrame:
    """NDCG@k of ranking ``a`` against reference ranking ``b`` ->
    (query_id, ndcg) — the graded fourth leg of the ranking-eval suite
    (recall counts hits, RBO and MRR weight positions; NDCG grades each
    hit by HOW relevant the reference says it is AND discounts by where
    the candidate put it).

    Relevance of an item is derived from its reference rank: rel =
    k + 1 - rank_b (the reference's top item carries gain k, its k-th
    gain 1, non-members 0).  DCG = sum over overlap items of
    rel / log2(1 + rank_a); the ideal DCG — the reference order scoring
    itself — is the CONSTANT sum_{d=1..k} (k+1-d)/log2(1+d), computed
    driver-side and inlined as one literal.  Zero-overlap queries emit
    0.0.  Per-item terms are 9dp-rounded and folded in DECIMAL(38,9);
    the division by the literal IDCG happens once.

    Shape: :func:`rank_overlap` + one per-query sum over the overlap
    rows with BOTH ranks <= k.  That clamp is a no-op for
    contract-conforming top-k inputs, but without it a longer reference
    list yields NEGATIVE relevances (k + 1 - rank_b < 0) and deep
    candidate ranks still contribute gain.  A query whose ranks all
    exceed k still emits an explicit 0.0 row.
    """
    import math

    idcg = sum((k + 1 - d) / math.log2(1 + d) for d in range(1, k + 1))
    term = F.round(
        (F.lit(k + 1) - F.col("rank_b")).cast("double")
        / F.log2(F.lit(1.0) + F.col("rank_a").cast("double")),
        9,
    ).cast("decimal(38,9)")
    in_k = (F.col("rank_a") <= k) & (F.col("rank_b") <= k)
    s = F.sum(F.when(in_k, term)).cast("double")
    return (
        rank_overlap(a, b)
        .groupBy("query_id")
        .agg(
            F.round(F.coalesce(s, F.lit(0.0)) / F.lit(idcg), out_round).alias(
                "ndcg"
            )
        )
    )


def kendall_tau_overlap(
    a: DataFrame,
    b: DataFrame,
    out_round: int = 6,
) -> DataFrame:
    """Kendall's tau over the overlap of two rankings -> (query_id,
    n_overlap, concordant, discordant, tau) — the fifth leg of the
    ranking-eval suite (recall counts set hits, RBO/MRR/NDCG weight
    positions top-down; tau is the symmetric ORDER-correlation: did the
    candidate rank the items it shares with the reference in the same
    relative order, regardless of depth).

    For the m items present in BOTH top-k lists of a query, every
    unordered pair is concordant if the two rankings order it the same
    way and discordant otherwise (ranks within a list are distinct, so
    there are no ties and tau-a applies): tau = (C - D) / (m(m-1)/2).
    Queries in either input with overlap < 2 emit (n_overlap, 0, 0,
    0.0) — tau needs at least one comparable pair.

    Shape: :func:`rank_overlap` + one per-query ``collect_list`` of the
    overlap (rank_a, rank_b) pairs — at most k per query — whose pairs
    are counted with ``aggregate``/``filter`` over that array.  Exact
    integer counts, one division rounded once.
    """
    ov = F.collect_list(F.when(_both_ranked(), F.struct("rank_a", "rank_b")))

    def count_pairs(ordered) -> Column:
        # overlap pairs (x, y) with x ahead of y in ``a`` that ``ordered``
        # accepts; the array holds at most k structs
        return F.aggregate(
            "ov",
            F.lit(0).cast("long"),
            lambda acc, x: acc
            + F.size(F.filter("ov", lambda y: (y.rank_a > x.rank_a) & ordered(x, y))),
        )

    n = F.col("n_overlap")
    pairs_m = (n * (n - 1)).cast("double") / F.lit(2.0)
    tau = F.when(
        n >= 2, (F.col("concordant") - F.col("discordant")).cast("double") / pairs_m
    ).otherwise(F.lit(0.0))
    return (
        rank_overlap(a, b)
        .groupBy("query_id")
        .agg(ov.alias("ov"))
        .select(
            "query_id",
            F.size("ov").cast("long").alias("n_overlap"),
            count_pairs(lambda x, y: y.rank_b > x.rank_b).alias("concordant"),
            count_pairs(lambda x, y: y.rank_b < x.rank_b).alias("discordant"),
        )
        .withColumn("tau", F.round(tau, out_round))
    )
