"""Product quantization (PQ) for embedding search — the compression side
of the canonical IVF-PQ index (Jégou, Douze, Schmid, "Product Quantization
for Nearest Neighbor Search", TPAMI 2011).

The float-vector corpus is split into ``m`` contiguous subvectors; each
subspace gets its own small codebook (Lloyd k-means over the subvectors,
same deterministic stride init + unrolled-iteration discipline as
similarity.kmeans_fit so the whole train is RNG-free and SQL-expressible
for the DuckDB oracle). A vector is then stored as ``m`` small integer
codes — at dim=64 float32 → 4 codes that's a 64x storage cut, which is
what makes 1e11+-vector search feasible at all: the code table fits where
the raw vectors never would.

Query-time scoring is ADC (asymmetric distance computation): per query,
one |m| x |K| lookup table of exact subvector→centroid distances, then a
candidate's approximate L2² is the sum of ``m`` table lookups — no float
vector is touched after encode.

Scale shape (the part that must survive 1000 executors):
- codebooks are ``m x K`` rows — broadcast everywhere, never shuffled;
- train/encode assignment is a broadcast join + map-side-combined argmin
  (``min(struct(dist, code))``), so each Lloyd pass shuffles |cells| x dsub
  doubles only and encode shuffles nothing;
- the codes frame is kept TALL (vid, subspace, code): ADC is then a
  broadcast hash join of codes against the per-query distance table
  followed by one map-side-combinable ``sum`` keyed (query_id, vid) —
  |corpus| x m rows in, |corpus| partial sums out of the map stage;
- queries are broadcast-sized by contract (same contract as cosine_topk);
  for web-scale query batches you shard the query set and union.

Composes with the IVF coarse quantizer (similarity.ivf_assign): restrict
the ADC join to the probed cells' codes and the scan becomes sublinear —
that composition is what FAISS calls IVFADC. Reproducibility: every
engine-crossing float is rounded at a documented boundary (subvector dots
to 6, the final ADC sum of rounded terms back to 6) — the ann_pq_adc oracle in
__spark_entry__ replays train+encode+ADC bit-for-bit at those boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from . import ensure_parallelism
from .similarity import as_double, decimal_mean_array, dot


def sqdist6(a: "Column | str", b: "Column | str") -> Column:
    """L2² via three dot products, each rounded to 6 decimals BEFORE the
    combine — the documented engine-crossing boundary (DuckDB's
    list_dot_product and Spark's aggregate(zip_with) may sum in different
    orders; rounding each dot first makes the combine exact).  Any array
    length works: full vectors and dsub-wide subvectors alike."""
    return (
        F.round(dot(a, a), 6)
        - 2 * F.round(dot(a, b), 6)
        + F.round(dot(b, b), 6)
    )


def subvectors(
    df: DataFrame, m: int, dsub: int, vec_col: str = "v", id_col: str = "vid"
) -> DataFrame:
    """(id, subspace, sv) — the m contiguous dsub-wide slices of each
    vector. posexplode of a literal slice array: map-only, codegen."""
    slices = F.array(*[F.slice(F.col(vec_col), j * dsub + 1, dsub) for j in range(m)])
    return df.select(
        F.col(id_col), F.posexplode(slices).alias("subspace", "sv")
    )


def _assign(
    sub: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    carry_sv: bool,
    carry_d: bool = False,
) -> DataFrame:
    """Argmin-L2 code per (id, subspace): broadcast join on subspace, then
    min(struct(rounded dist, code)) — the map-side-combine shape from
    similarity.ivf_assign nprobe=1 (the |K| scored copies of a subvector
    collapse inside the map task; the shuffle carries |rows| x 1 subvector
    payload, not |rows| x K)."""
    scored = sub.join(F.broadcast(codebooks), "subspace").select(
        id_col,
        "subspace",
        "sv",
        "code",
        F.round(sqdist6("sv", "centroid"), 6).alias("d"),
    )
    aggs = [F.min(F.struct("d", "code")).alias("_m")]
    if carry_sv:
        aggs.append(F.first("sv").alias("sv"))
    out = scored.groupBy(id_col, "subspace").agg(*aggs)
    cols = [id_col, "subspace", F.col("_m.code").alias("code")]
    if carry_sv:
        cols.append("sv")
    if carry_d:
        cols.append(F.col("_m.d").alias("d"))
    return out.select(*cols)


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    dim: int = 64,
    stride: int = 100,
    iters: int = 2,
) -> DataFrame:
    """Train per-subspace codebooks -> (subspace, code, centroid).

    Init: every ``stride``-th corpus vector seeds one code per subspace
    (code = its id — the deterministic centroid_sample idiom, so K grows
    with the corpus and the fit has no RNG state). Then ``iters`` unrolled
    Lloyd rounds: broadcast argmin assign, per-element avg update. Each
    round's shuffle is |subspaces x codes| x dsub doubles — independent of
    corpus size after the map-side combine. Codes that lose all members
    drop out (standard Lloyd)."""
    dsub = dim // m
    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    sub = subvectors(vecs, m, dsub)
    codebooks = sub.filter((F.col("vid") % stride) == 0).select(
        "subspace", F.col("vid").alias("code"), F.col("sv").alias("centroid")
    )
    for _ in range(iters):
        assigned = _assign(sub, codebooks, "vid", carry_sv=True)
        codebooks = (
            assigned.groupBy("subspace", "code")
            .agg(decimal_mean_array("sv", dsub).alias("centroid"))
        )
    return codebooks


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Encode -> tall (vid, subspace, code). One pass, no corpus shuffle
    beyond the argmin combine; this is the frame you'd persist (PARTITIONED
    BY a coarse cell for IVFADC) as the serving index."""
    dsub = dim // m
    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    return _assign(
        subvectors(vecs, m, dsub), codebooks, "vid", carry_sv=False
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """ADC top-k -> (query_id, neighbor_id, adc, rank), adc ascending.

    The distance table (query subvector -> every codeword, |Q| x m x K
    rows of rounded L2²) is built once and broadcast; scoring is a hash
    join of the tall codes frame against it plus one sum keyed
    (query_id, vid) — fully map-side-combinable, no window until the
    final per-query top-k rank. Self-matches are excluded."""
    dsub = dim // m
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    qsub = subvectors(q, m, dsub, vec_col="qv", id_col="query_id")
    dtable = qsub.join(F.broadcast(codebooks), "subspace").select(
        "query_id",
        "subspace",
        "code",
        F.round(sqdist6("sv", "centroid"), 6).alias("pd"),
    )
    scored = (
        codes.join(F.broadcast(dtable), ["subspace", "code"])
        .filter(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.round(F.sum("pd"), 6).alias("adc"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    dim: int = 64,
    coarse_stride: int = 100,
    nprobe: int = 3,
) -> DataFrame:
    """IVF-PQ (FAISS's IVFADC): coarse IVF cells prune the candidate set,
    PQ-ADC scores what's left -> (query_id, neighbor_id, adc, rank).

    The coarse quantizer is the deterministic stride sample
    (similarity.centroid_sample — same init as the ann_ivf oracle);
    corpus vectors get a cell by broadcast argmax, the tall codes frame
    is tagged with its vector's cell by an id-keyed join, and each query
    probes its ``nprobe`` nearest cells.  The ADC join then touches only
    the probed cells' codes — ~nprobe/|cells| of the corpus — which is
    the sublinearity IVF buys ON TOP of PQ's 64x storage cut.  At real
    scale the cell-tagged codes frame is the persisted index
    (PARTITIONED BY cell: partition pruning replaces the probe join's
    big side with nprobe partition reads).

    Scale shape: centroids and the per-query (cell, distance-table) rows
    broadcast; the only big-side shuffles are the code/cell id join and
    the final (query_id, vid) partial-agg sum.
    """
    from .similarity import centroid_sample, ivf_assign

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    coarse = centroid_sample(corpus, vec_col, id_col, coarse_stride)
    cells = ivf_assign(c, coarse, vec_alias="cv", id_alias="vid", nprobe=1).select(
        "vid", "cell"
    )
    probes = ivf_assign(
        F.broadcast(q), coarse, vec_alias="qv", id_alias="query_id", nprobe=nprobe
    ).select("query_id", "cell")
    dsub = dim // m
    qsub = subvectors(q, m, dsub, vec_col="qv", id_col="query_id")
    dtable = qsub.join(F.broadcast(codebooks), "subspace").select(
        "query_id",
        "subspace",
        "code",
        F.round(sqdist6("sv", "centroid"), 6).alias("pd"),
    )
    tagged = codes.join(cells, "vid")
    cands = tagged.join(F.broadcast(probes), "cell")
    scored = (
        cands.join(F.broadcast(dtable), ["query_id", "subspace", "code"])
        .filter(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.round(F.sum("pd"), 6).alias("adc"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def code_keys(codes: DataFrame, id_col: str = "vid") -> DataFrame:
    """Collapse the tall code frame to one row per vector:
    (id, code_key) where code_key = 'c0_c1_..._c{m-1}' in subspace order —
    the exact-match blocking key PQ-code dedup joins on.  Per-vector
    state is the m-entry struct list; one groupBy shuffle of small ints."""
    return codes.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "code"))),
                lambda s: s["code"].cast("string"),
            ),
            "_",
        ).alias("code_key")
    )


def encode_inrow(
    vec: Column, codebook_rows: list, m: int, dsub: int
) -> Column:
    """code_key computed entirely IN-ROW from literal codebooks — the
    streaming-side encoder.  ``codebook_rows`` is the collected
    (subspace, code, centroid[, cc]) list (m x K rows — bounded by
    construction; the logreg broadcast-weights precedent).  Per subspace
    the argmin is array_min over struct(rounded d, code) — bit-identical
    to _assign's min(struct(d, code)), same tiebreak — so a vector
    encodes to the SAME codes whether it flows through the distributed
    pq_encode or this map-only path (locked by
    test_stream_pq_encode_matches_batch).  No shuffle, no state:
    append-mode streaming friendly.

    Expression-tree economy (r8 — construct-time Column building
    dominated stream_pq_neardup's bench construct at ~3.6 s): instead of
    materializing K per-codeword subtrees (each with 16 F.lit calls for
    the centroid plus three dot folds — thousands of py4j round trips),
    each subspace ships THREE literals total (codes array, nested
    centroid array, self-dot array — one py4j call each) and the K
    entries come from ONE indexed ``transform`` whose lambda computes
    d = round(s2 - 2*round(sv·c_i, 6) + cc_i, 6) with c_i =
    element_at(centroids, i+1).  Term-for-term this is exactly
    round(sqdist6, 6): sv·sv is bound once per subspace as s2 (the
    single-element transform trick), cc_i is either the JVM-computed
    ``cc`` field from the collect or an in-lambda c_i·c_i fold —
    identical doubles either way, so codes are unchanged."""
    per_sub: dict[int, list] = {}
    for r in codebook_rows:
        d = r.asDict()
        per_sub.setdefault(d["subspace"], []).append(
            (d["code"], list(d["centroid"]), d.get("cc"))
        )

    # Literals ship as ONE parsed SQL expression per array, not as
    # element-wise py4j conversions: F.lit of a nested K x dsub list pays
    # a JVM round trip PER ELEMENT (~1 s per 1.3k doubles — this was the
    # residual construct cost), while the parser ingests the same array
    # in one call.  CAST('<repr>' AS DOUBLE) is bit-exact: Python repr is
    # the shortest round-trip decimal and Java parseDouble returns the
    # identical IEEE-754 double (verified incl. -0.0 and denormals).
    def dlit(xs):
        return "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in xs) + ")"

    keys = []
    dvec = as_double(vec)
    for j in range(m):
        entries = sorted(per_sub.get(j, []))
        if not entries:
            keys.append(F.lit(None).cast("string"))
            continue
        sv = F.slice(dvec, j * dsub + 1, dsub)
        codes_lit = F.expr(
            "array(" + ",".join(f"{int(c)}L" for c, _, _ in entries) + ")"
        )
        cents_lit = F.expr(
            "array(" + ",".join(dlit(cent) for _, cent, _ in entries) + ")"
        )
        have_cc = all(cc is not None for _, _, cc in entries)
        ccs_lit = (
            F.expr(dlit([cc for _, _, cc in entries])) if have_cc else None
        )

        def scored(s2, codes=codes_lit, cents=cents_lit, ccs=ccs_lit, sv=sv):
            def entry(c, i):
                ci = F.element_at(cents, i + 1)
                cc_i = (
                    F.element_at(ccs, i + 1)
                    if ccs is not None
                    else F.round(dot(ci, ci), 6)
                )
                return F.struct(
                    F.round(s2 - 2 * F.round(dot(sv, ci), 6) + cc_i, 6).alias(
                        "d"
                    ),
                    c.alias("code"),
                )

            return F.transform(codes, entry)

        best = F.transform(
            F.array(F.round(dot(sv, sv), 6)),
            lambda s2: F.array_min(scored(s2))["code"],
        )[0]
        keys.append(best.cast("string"))
    return F.concat_ws("_", *keys)


def l2_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact L2 top-k over the full float vectors — the ground truth the
    ADC/IVFADC paths are measured against (same rounded-sqdist boundary
    as the PQ pipeline so ties agree cross-engine).  Broadcast queries x
    corpus scan, per-query window rank; self-matches excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(sqdist6("qv", "cv"), 6).alias("d"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_quant_error(
    corpus: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Per-subspace quantization-error report — the index-quality audit
    behind every ADC number: (subspace, n, mse, max_d2) where mse is the
    mean L2² between each subvector and its assigned codeword and max_d2
    the worst row.  A subspace whose mse dwarfs the others needs more
    codes (or an OPQ-style rotation); tracking mse per index build
    catches codebook drift before recall regresses.

    The distances are the SAME 6dp-rounded L2² the encoder minimizes
    (``_assign`` carries the argmin distance out), folded in
    DECIMAL(27,6) — summation-order-free, so the report hash-matches the
    oracle at any partition count.

    Scale: one encode pass (broadcast codebooks, map-side argmin
    combine) + an m-row aggregate; no vector shuffles.
    """
    dsub = dim // m
    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    assigned = _assign(
        subvectors(vecs, m, dsub),
        codebooks,
        "vid",
        carry_sv=False,
        carry_d=True,
    )
    return assigned.groupBy(F.col("subspace").cast("int").alias("subspace")).agg(
        F.count("*").cast("long").alias("n"),
        F.round(
            F.sum(F.round(F.col("d"), 6).cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mse"),
        F.round(F.max("d"), 6).alias("max_d2"),
    )


# --------------------------------------------------------- persisted index

class PQIndex:
    """Handle over a persisted PQ index directory (see :func:`pq_build`):
    ``codebooks`` (subspace, code, centroid), ``codes`` (vid, subspace,
    code) and ``keys`` (vid, code_key) as lazily-read DataFrames."""

    def __init__(self, codebooks: DataFrame, codes: DataFrame, keys: DataFrame):
        self.codebooks = codebooks
        self.codes = codes
        self.keys = keys


def pq_build(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    dim: int = 64,
    stride: int = 100,
    iters: int = 2,
    codebooks: DataFrame | None = None,
    coarse_centroids: DataFrame | None = None,
) -> None:
    """Persist the PQ index: ``path/codebooks`` + ``path/codes`` +
    ``path/keys``.

    Training an index is a JOB, not a query prefix: every consumer that
    previously ran ``pq_train`` + ``pq_encode`` inline (the ADC/IVFADC
    query family, :func:`~staticql_spark.streaming.stream_pq_neardup`'s
    snapshot side) instead loads this directory and pays read cost only
    — the PQ twin of :func:`~staticql_spark.operators.similarity.ivf_build`.

    The codebooks are written FIRST and read back before encoding, so
    the persisted codes are encoded against exactly the persisted
    centroids (not a recomputation that could drift); doubles round-trip
    parquet bit-exactly, so a loaded index reproduces the inline
    pipeline hash-for-hash.  ``keys`` is the :func:`code_keys` collapse
    — the exact-match blocking frame PQ-code dedup probes, persisted so
    the streaming consumer skips even that one groupBy.

    At 100 TB the codes frame is the serving artifact (64x smaller than
    the floats).  Pass ``coarse_centroids`` (a tiny trained/sampled
    frame, persisted alongside at ``path/coarse``) to write the codes
    PARTITIONED BY the IVF cell — the full IVFADC layout: a query
    probing nprobe cells reads only those partition directories
    (:func:`ivfpq_query`; Spark partition pruning turns the coarse
    quantizer into a disk-level skip list, the same contract as
    ``similarity.ivf_build``).  Pass ``codebooks`` (e.g. from a previous
    build) to re-encode under frozen centroids.
    """
    spark = corpus.sparkSession
    if codebooks is None:
        codebooks = pq_train(corpus, vec_col, id_col, m, dim, stride, iters)
    codebooks.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    cb = spark.read.parquet(f"{path}/codebooks")
    codes = pq_encode(corpus, cb, vec_col, id_col, m, dim)
    if coarse_centroids is not None:
        from .similarity import ivf_assign

        coarse_centroids.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/coarse"
        )
        coarse = spark.read.parquet(f"{path}/coarse")
        c = corpus.select(
            F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("cv")
        )
        cells = ivf_assign(c, coarse, vec_alias="cv", id_alias="vid", nprobe=1)
        (
            codes.join(cells.select("vid", "cell"), "vid")
            .repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{path}/codes")
        )
    else:
        codes.write.mode("overwrite").parquet(f"{path}/codes")
    code_keys(spark.read.parquet(f"{path}/codes")).write.mode("overwrite").parquet(
        f"{path}/keys"
    )


def pq_load(spark, path: str) -> PQIndex:
    """Open a :func:`pq_build` directory.  Pure metadata cost — the three
    frames are lazy parquet scans; nothing is trained or collected."""
    return PQIndex(
        codebooks=spark.read.parquet(f"{path}/codebooks"),
        codes=spark.read.parquet(f"{path}/codes"),
        keys=spark.read.parquet(f"{path}/keys"),
    )


def pq_append(
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Append a NEW vector batch to a persisted PQ index — the
    daily-embedding cadence (twin of ``similarity.ivf_append``): encode
    ONLY the batch against the codebooks persisted at build time and
    append into ``path/codes`` / ``path/keys``.  Cost tracks the batch,
    never the accumulated corpus; existing files are untouched.

    Codebooks are deliberately loaded FROM THE INDEX rather than
    accepted as an argument: encoding a batch under retrained centroids
    would silently mix two code spaces in one index (the recall-corruption
    hazard ivf_append documents) — here the frozen-codebook contract is
    structural.  ``m``/``dim`` are derived from the persisted codebooks
    (subspace count x centroid width), so the caller can't mismatch them
    either.  A cell-partitioned index (built with ``coarse_centroids``)
    appends into the matching cell partition directories, assigning the
    batch against the SAME persisted coarse centroids."""
    from pyspark.errors import AnalysisException

    spark = batch.sparkSession
    cb = spark.read.parquet(f"{path}/codebooks")
    meta = cb.agg(
        (F.max("subspace") + 1).alias("m"),
        F.max(F.size("centroid")).alias("dsub"),
    ).collect()[0]
    m, dsub = int(meta["m"]), int(meta["dsub"])
    codes = pq_encode(batch, cb, vec_col, id_col, m, m * dsub)
    try:
        coarse = spark.read.parquet(f"{path}/coarse")
    except AnalysisException:
        coarse = None
    if coarse is not None:
        from .similarity import ivf_assign

        b = batch.select(
            F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("cv")
        )
        cells = ivf_assign(b, coarse, vec_alias="cv", id_alias="vid", nprobe=1)
        (
            codes.join(cells.select("vid", "cell"), "vid")
            .repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(f"{path}/codes")
        )
    else:
        codes.write.mode("append").parquet(f"{path}/codes")
    code_keys(codes).write.mode("append").parquet(f"{path}/keys")


def ivfpq_query(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 3,
) -> DataFrame:
    """IVFADC top-k against a PERSISTED cell-partitioned PQ index
    (:func:`pq_build` with ``coarse_centroids``), reading only the probed
    cells' partition directories — the serving path of the composed
    index: coarse cells prune at the DISK level (the probe cells are
    computed driver-side from the tiny persisted coarse set and pushed
    as a partition filter; ``.explain`` shows PartitionFilters on
    ``cell``), PQ-ADC scores the survivors off a broadcast distance
    table.  Output-identical to the in-memory :func:`ivfpq_topk` under
    the same coarse centroids and codebooks (same rounding boundaries,
    same (adc, neighbor_id) tiebreak) — the append-vs-rebuild /
    load-vs-inline contracts of pq_build extend here by composition.

    m/dim derive from the persisted codebooks, so a caller cannot probe
    with mismatched geometry.
    """
    from .similarity import ivf_assign

    cb = spark.read.parquet(f"{path}/codebooks")
    meta = cb.agg(
        (F.max("subspace") + 1).alias("m"),
        F.max(F.size("centroid")).alias("dsub"),
    ).collect()[0]
    m, dsub = int(meta["m"]), int(meta["dsub"])
    coarse = spark.read.parquet(f"{path}/coarse")
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    probes = ivf_assign(
        F.broadcast(q), coarse, vec_alias="qv", id_alias="query_id", nprobe=nprobe
    ).select("query_id", "cell")
    probe_cells = sorted(
        {r["cell"] for r in probes.select("cell").distinct().collect()}
    )
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("cell").isin(probe_cells)
    )
    qsub = subvectors(q, m, dsub, vec_col="qv", id_col="query_id")
    dtable = qsub.join(F.broadcast(cb), "subspace").select(
        "query_id",
        "subspace",
        "code",
        F.round(sqdist6("sv", "centroid"), 6).alias("pd"),
    )
    cands = codes.join(F.broadcast(probes), "cell")
    scored = (
        cands.join(F.broadcast(dtable), ["query_id", "subspace", "code"])
        .filter(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.round(F.sum("pd"), 6).alias("adc"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
