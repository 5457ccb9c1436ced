"""Deduplication operators — exact and near-dup — built for 100 TB corpora.

Design rules:
- Everything is DataFrame ops (explode / groupBy / join); no Python in the
  hot path, no driver-side collection, no O(n^2) full cross joins — every
  pairwise step is blocked by a bucketing key (LSH band, simhash chunk,
  shared shingle) so candidate generation is an equi join that shuffles on
  the bucket key.
- Hashing is md5-based (not murmur3) so the DuckDB oracle reproduces the
  exact signatures: min(md5(salt || shingle)) is a valid min-hash family
  over the md5 value space and is engine-portable.

At cluster scale the shingle explode is the big intermediate (docs x
shingles); it shuffles once for the per-(doc,salt) min — map-side partial
aggregation (Spark's hash agg) compresses it before the exchange. Band keys
then shuffle only |docs| x |bands| rows, and the candidate-pair verify joins
only within buckets. Skewed buckets (a shingle shared by every doc) are the
classic hazard: ``max_bucket`` caps runaway buckets the same way production
dedup pipelines drop stop-shingles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# The bounded persist registry grew up in this module (r11) and moved to
# the operators package root in r14 (r13 ADVICE: entry/behavior/classify/
# profile all imported an underscore-private helper from an unrelated
# operator module).  Re-exported here so established call sites — and the
# registry-internals soak/tests — read unchanged; _LIVE_PERSISTS is the
# same dict object (mutated, never rebound).
from . import (  # noqa: F401
    _LIVE_PERSISTS,
    _MAX_LIVE_PERSISTS,
    _PERSISTS_LOCK,
    _persist_scoped,
    ensure_parallelism,
    release_persists,
)
from .text import tokens


def normalize_text(col: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: keep the lowest id per group.

    Returns (doc_id, group_size) for kept docs — a hash-groupBy, one
    shuffle on the md5 key, map-side combined.
    """
    key = F.md5(normalize_text(F.col(text_col)))
    return (
        df.groupBy(key.alias("fp"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("group_size"))
        .select(id_col, "group_size")
    )


def doc_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sh: array<long>) — the distinct hashed shingle SET per doc,
    computed entirely map-side (no explode, no shuffle): the unit the
    min-hash signature and the pairwise Jaccard verify both consume.

    Each token is md5-hashed ONCE (reduced to 40 bits), and a shingle hash
    is the mod-P linear combination of its n token hashes. Downstream the
    whole dedup pipeline — min-hash aggregation, candidate blocking,
    Jaccard verification — shuffles and joins 8-byte longs instead of
    n-word strings: at corpus scale that is the difference between
    shuffling the corpus text again and shuffling one long per shingle.
    (Positional weights make the hash order-sensitive, as word n-grams
    must be; collisions in a 61-bit space are negligible at 100 TB.)
    """
    # Drop short docs HERE, on a cheap tokenize-count predicate against the
    # raw column, never downstream on size(sh): a filter referencing the
    # built array gets pushed below the projections by substitution, and
    # the inlined md5-transform tree then evaluates ~15-20x per row
    # (measured 2.6s -> 54s at sf0.1 before this was moved).
    df = ensure_parallelism(df).filter(
        F.size(tokens(normalize_text(F.col(text_col)))) >= F.lit(n)
    )
    # Bind tokens to a concrete column FIRST: referencing the tokenize
    # expression inside the transform() lambda would re-run the regex+split
    # once per shingle index (O(tokens^2) regex work per doc — measured 10x
    # slowdown at 5k docs before this was split into two selects).
    toks_df = df.select(
        F.col(id_col), tokens(normalize_text(F.col(text_col))).alias("_toks")
    )
    th_df = toks_df.select(
        F.col(id_col),
        F.transform(
            F.col("_toks"),
            lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")
            % MINHASH_HM,
        ).alias("_th"),
    )
    t = F.col("_th")
    # combine n consecutive 40-bit token hashes: sum of (th * C_j) % P terms
    # stays under 2^63 (each term < 2^61, n <= 3 by construction below)
    if n > len(SHINGLE_WEIGHTS):
        raise ValueError(f"shingle n > {len(SHINGLE_WEIGHTS)} unsupported")

    def shingle_at(i: Column) -> Column:
        acc = None
        for j, w in enumerate(SHINGLE_WEIGHTS[:n]):
            term = (F.element_at(t, i + F.lit(j)) * F.lit(w)) % F.lit(MINHASH_P)
            acc = term if acc is None else acc + term
        return acc % F.lit(MINHASH_P)

    # The >= n-token filter above already drops short docs, but the guard
    # must STAY in the expression: optimizer rules (InferFiltersFromGenerate
    # + predicate pushdown) can clone this expression into a predicate that
    # runs on unfiltered rows, where sequence(1, 0) yields a DESCENDING
    # [1, 0] and element_at throws under ANSI mode.
    sh = F.when(
        F.size(t) >= n,
        F.transform(F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)), shingle_at),
    ).otherwise(F.array().cast("array<long>"))
    return th_df.select(F.col(id_col), F.array_distinct(sh).alias("sh"))


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Exploded (id, shingle) pairs — the row form of :func:`doc_shingles`,
    for blocking joins that need one row per (doc, shingle).

    explode_outer, not explode: a plain explode makes the optimizer infer a
    ``size(sh) > 0`` filter and push a full clone of the shingle-hash
    expression tree below the projection — doubling the map work (and, pre-
    guard, crashing on short docs). doc_shingles already guarantees rows
    are non-empty, so outer semantics are identical here.
    """
    return (
        doc_shingles(df, text_col, id_col, n)
        .select(F.col(id_col), F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


# Universal-hash min-hash family: ONE md5 per token, then k cheap
# arithmetic projections (a_k*h + b_k) mod P — the standard datasketch
# construction. Every operation is plain BIGINT math DuckDB reproduces
# exactly. Bounds guarantee no int64 overflow in either engine:
#   h mod 2^40 (< 2^40) * a_k (< 2^22) + b_k (< P < 2^61) < 2^63.
MINHASH_P = 2305843009213693951  # 2^61 - 1 (Mersenne prime)
MINHASH_HM = 1 << 40
# positional weights for combining token hashes into a shingle hash
# (odd, < 2^22 so a 40-bit token hash times a weight stays < 2^62)
SHINGLE_WEIGHTS = (1299721, 2750161, 4194301)


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_k, b_k) pairs, identical formula on the oracle side."""
    return [
        (
            ((2654435761 * (k + 1)) % 4194304) | 1,
            (40503 * (k + 1) * 65537 + 17) % MINHASH_P,
        )
        for k in range(num_hashes)
    ]


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """(id, sig: array<long>) — k independent min-hashes per doc.

    One aggregation: min((a_k*h + b_k) mod P) over shingle hashes h
    (h = the 61-bit shingle hash reduced to 40 bits so the projection
    arithmetic cannot overflow int64).
    Partial (map-side) min keeps the shuffle at |docs| rows x k values.
    """
    hm = (F.col("shingle") % MINHASH_HM).alias("hm")
    hashed = sh.select(F.col(id_col), hm)
    aggs = [
        F.min((F.col("hm") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{k}")
        for k, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    per_doc = hashed.groupBy(id_col).agg(*aggs)
    return per_doc.select(
        id_col, F.array(*[F.col(f"h{k}") for k in range(num_hashes)]).alias("sig")
    )


def sig_from_array(num_hashes: int = 16, sh_col: str = "sh") -> Column:
    """Min-hash signature as a per-row expression over the shingle-hash
    array — the zero-shuffle form of :func:`minhash_signatures`: k
    array_min projections computed map-side, identical values."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    F.col(sh_col),
                    lambda s: ((s % MINHASH_HM) * F.lit(a) + F.lit(b))
                    % F.lit(MINHASH_P),
                )
            )
            for (a, b) in minhash_params(num_hashes)
        ]
    ).alias("sig")


def minhash_1bit_estimate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """b-bit minhash similarity estimation (Li & König 2010, b=1): keep
    only the LOWEST BIT of each min-hash and estimate Jaccard from the
    bit-agreement fraction A via J ≈ max(2A − 1, 0) — the storage side of
    the minhash trade (k bits instead of k longs per doc, a 64× signature
    shrink) surfaced as a self-evaluation report: for every LSH-verified
    candidate pair, the exact Jaccard, the 1-bit estimate, and the
    absolute error.  This is how you decide whether the compressed
    signature is accurate enough to REPLACE the exact verify at corpus
    scale (the same eval pattern as ann_pq_recall for PQ codes).

    Returns (id_a, id_b, jaccard, est_1bit, abs_err).  Exactness notes:
    A is a multiple of 1/num_hashes (binary-exact division), so est_1bit
    is engine-exact; pair generation and exact Jaccard are verbatim
    :func:`minhash_lsh_pairs`.

    Scale: the signature join adds two broadcast-sized probes of the
    |pairs| frame into the per-doc signature aggregate; the bit
    comparison is one zip_with fold per pair row, map-side.
    """
    # Scope-persist the pair frame (r13): it is consumed THREE times —
    # twice by the id-set union below and once by the final estimate
    # join — and without a pin each consumer re-derives the whole LSH
    # pipeline downstream of the cached shingles (bucket agg + chunked
    # expansion + distinct + the two verify joins; measured ~3x the
    # single-derivation cost at sf0.1: 6.1 s exec vs ~1.1 s for the
    # one-shot dedup_minhash_lsh).  The verified pair frame is the small
    # decision table (guide §8): pinning it is bounded by pair mass.
    pairs = _persist_scoped(
        minhash_lsh_pairs(
            df, text_col, id_col, n, num_hashes, bands, threshold, max_bucket
        )
    )
    # signatures ONLY for pair-participating docs: the 16 interpreted
    # array_min projections are the expensive map step, so a semi-join
    # cut bounds that work by pair mass instead of corpus size (measured
    # 129 s -> pair-proportional at the 500k-doc soak when the full
    # corpus was signed). sig_from_array == minhash_signatures values.
    # shuffle_hash hint: Catalyst's post-aggregate size estimate for the
    # pair-id frame is unreliable (measured: a driver-broadcast OOM at the
    # 500k-doc soak where the estimate said "small" and the dup-heavy
    # corpus said otherwise), and pair ids can approach corpus size in
    # the worst case — a per-partition hash build is the safe plan at
    # every scale, and the tiny-case cost is one extra small exchange.
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
        .hint("shuffle_hash")
    )
    sigs = doc_shingles(df.join(ids, id_col, "left_semi"), text_col, id_col, n).select(
        F.col(id_col), sig_from_array(num_hashes)
    )
    # same shuffle_hash discipline for the signature probes: a dup-heavy
    # corpus (the adversarial case dedup exists for) can put MOST docs in
    # pairs, so the sig frame approaches corpus size while Catalyst's
    # post-aggregate estimate still says "broadcast me" (measured driver
    # OOM at the 500k-doc replica soak)
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("__sa")).hint(
        "shuffle_hash"
    )
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("__sb")).hint(
        "shuffle_hash"
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("__sa"),
            F.col("__sb"),
            lambda x, y: ((x % 2) == (y % 2)).cast("int"),
        ),
        F.lit(0).cast("int"),
        lambda acc, v: acc + v,
    )
    est = F.greatest(
        2.0 * (agree.cast("double") / F.lit(float(num_hashes))) - 1.0, F.lit(0.0)
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.round(est, 6).alias("est_1bit"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    dsh: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash + LSH banding, Jaccard-verified.

    1. shingle -> 2. k min-hashes -> 3. band keys (r = k/b rows per band)
    -> 4. candidates = equi-self-join on (band_idx, band_key), id_a < id_b
    -> 5. verify exact Jaccard on shingle sets -> filter >= threshold.

    Returns (id_a, id_b, jaccard). All joins are bucketed equi joins.

    Shuffle accounting (the thing that matters at corpus scale): shingle
    sets and signatures are pure map work — the first exchange in the whole
    plan is the band-key self-join, which carries |docs| x |bands| rows of
    (long, small-struct). Verification joins the candidate pairs (tiny)
    back to the per-doc shingle arrays and intersects arrays per row;
    nothing ever shuffles one row per (doc, shingle).

    ``max_bucket`` drops (band, key) buckets larger than the cap before
    pair expansion: a cluster of m identical docs otherwise lands in ONE
    bucket and emits O(m^2) candidate pairs — the classic dedup straggler
    at corpus scale (boilerplate pages guarantee such clusters at 100 TB).
    Run :func:`exact_dedup` first so identical docs collapse to one
    representative; LSH is for *near* dups, and with exact dups removed a
    legitimate near-dup bucket stays far under any sane cap.

    Candidate generation is ONE groupBy on the bucket key (collect the
    bucket's id list, cap it by size, expand i<j pairs in-row from the
    array) — not a band-key self-join. The self-join formulation shuffles
    ``banded`` twice and needs a separate count pass for the cap; this one
    shuffles it once and gets the cap for free from size(ids). A/B at
    sf0.1, identical 252-pair output: 1.23 s vs 1.72 s (window-guard
    self-join) vs 2.51 s (groupBy-count + broadcast-anti + self-join).
    In-row expansion is safe BECAUSE of the cap: worst case is
    max_bucket^2/2 id pairs transiently in one row, bounded by
    construction.
    """
    rows_per_band = num_hashes // bands
    # ``dsh`` lets a caller share ONE shingle computation across several
    # dedup operators over the same corpus (e.g. the LSH-recall eval runs
    # this and ngram_jaccard_pairs side by side) — shingling is the
    # per-doc-dominant map cost, so sharing it halves that work.  Either
    # way the frame goes through the scoped-persist registry: the width
    # gate below counts it, the signature derivation and the verify join
    # both re-read it, and a caller-supplied UNCACHED dsh (minhash_index
    # returns one) previously paid a second full shingle pass for the
    # count (r10 ADVICE).
    if dsh is None:
        dsh = doc_shingles(df, text_col, id_col, n)
    dsh = _persist_scoped(dsh)
    sig = dsh.select(F.col(id_col), sig_from_array(num_hashes))
    banded = _band_keys(sig, bands, rows_per_band, id_col)

    # Pair generation stays explode-then-DISTINCT deliberately.  The r10
    # "emit-once-per-first-band" variant (carry each doc's 16-long
    # signature into the bucket rows, keep a pair only in its first
    # slice-equal band, drop the distinct) was implemented and MEASURED
    # 4-8x SLOWER at the 500k soak (917/1000 s vs 216/125 s interleaved
    # A/B; sf0.1 4.79 vs 3.79 s): the in-row i<j expansion transiently
    # multiplies the 128 B signature payload by up to max_bucket^2/2
    # pairs per bucket row, and the per-pair slice-equality filter is an
    # interpreted higher-order lambda x 86M candidate rows (SCALE.md's
    # HOF rule) — the eliminated 86M->31M distinct exchange is FAR
    # cheaper than either.  The distinct also keeps pair rows at two
    # longs, which is what makes the adaptive verify width below cheap
    # to count.
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )

    # Verify width (retired r13, was r10/r11): the corpus-count gate +
    # dup-density estimate + adaptive widening were deleted on the
    # pre-registered SCALE §22 evidence — in the pinned shuffle-hash
    # orientation (shingle side = build side) the width lever moves
    # NEITHER spill nor wall time (zero spill at any width at the
    # 500k/23M-pair soak on a 32 GiB heap; order-rotated runs REVERSE
    # which width looks fast; the only measured width effect was the
    # 256-wide arm's ~1.1 GB spill in its own extra pair exchanges at
    # equal time).  What the gate DID cost every single build: a serial
    # dsh.count() barrier behind the shingle pass plus a bucket-size
    # aggregate action before candidate generation could even start.
    # Default width + AQE coalescing now size the verify join.
    # Pair expansion is CHUNKED (r13, guide §5): _pairs_within builds
    # the whole C(n,2) struct array in one row (~8 MB at the
    # max_bucket=1000 cap — OOMs a 4 GiB executor heap, soak-measured),
    # expand_pairs_chunked bounds the largest in-row array at chunk^2
    # structs with an exact-set-equal union over slice pairs.
    cands = (
        expand_pairs_chunked(buckets.select("ids"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    verified = verify_jaccard(cands, dsh, id_col)
    return verified.filter(F.col("jaccard") >= threshold)


def _pairs_within(ids_col: str | Column) -> Column:
    """array<struct<id_a, id_b>> of all i<j pairs from a sorted id array —
    in-row candidate expansion for capped blocking buckets."""
    ids = F.col(ids_col) if isinstance(ids_col, str) else ids_col
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids) - i - F.lit(1)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def expand_pairs_chunked(
    buckets: DataFrame,
    ids_col: str = "ids",
    chunk: int = 128,
    pair_col: str = "p",
) -> DataFrame:
    """Bounded-row-size i<j pair expansion of bucket id arrays ->
    ``buckets``' columns (minus ``ids_col``) plus one exploded pair
    struct column ``pair_col`` — the r13 SCALE §22 finding turned into
    code (not yet wired into the keyed LSH paths; the r14 candidate).

    :func:`_pairs_within` builds the WHOLE C(n,2) pair array in one row:
    at the ``max_bucket = 1000`` cap that is ~500k structs (~8 MB) per
    bucket row, and the 199x1000 dup-dense soak OOM'd a 4 GiB heap in
    this expansion — the bucket cap silently doubles as a row-size cap.
    This variant splits each bucket's SORTED id array into
    ceil(n/chunk) slices and emits one row per ordered slice pair
    (ci <= cj): the diagonal rows expand i<j within the slice, the
    off-diagonal rows expand the full cross product (every element of
    the earlier slice precedes every element of the later one, so the
    (id_a, id_b) orientation is preserved) — the union over slice-pair
    rows is EXACTLY the _pairs_within set, but the largest in-row array
    is chunk^2 structs (128^2 = 16k, ~256 KB) regardless of bucket
    size.  Row count multiplies by at most C(nchunks+1, 2) per bucket
    (36 for n=1000 at chunk=128) — generator rows, not materialized
    mass, and the downstream ``distinct`` is unchanged.
    """
    n_chunks = F.ceil(F.size(F.col(ids_col)) / F.lit(chunk)).cast("int")
    with_cells = (
        buckets.withColumn("__nch", F.greatest(n_chunks, F.lit(1)))
        .withColumn("__ci", F.explode(F.sequence(F.lit(0), F.col("__nch") - 1)))
        .withColumn("__cj", F.explode(F.sequence(F.col("__ci"), F.col("__nch") - 1)))
    )
    a = F.slice(F.col(ids_col), F.col("__ci") * chunk + 1, chunk)
    b = F.slice(F.col(ids_col), F.col("__cj") * chunk + 1, chunk)
    cross = F.flatten(
        F.transform(
            a,
            lambda x: F.transform(
                b, lambda y: F.struct(x.alias("id_a"), y.alias("id_b"))
            ),
        )
    )
    pairs = F.when(F.col("__ci") == F.col("__cj"), _pairs_within(a)).otherwise(cross)
    keep = [c for c in buckets.columns if c != ids_col]
    return with_cells.select(*keep, F.explode(pairs).alias(pair_col))


def _band_keys(
    sig: DataFrame,
    bands: int,
    rows_per_band: int,
    id_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry, band, key) rows from a (id, sig) signature frame —
    map-side. ``carry`` columns ride along (e.g. the shingle array, for
    streaming pipelines that must verify in the same pass).

    The key is the FIRST 60 BITS of the band slice's md5, as a long
    (r11): band keys exist only to group — they never appear in any
    output — and they dominate the candidate-generation exchange (the
    measured cost center of the full LSH build, r10 bisect), where the
    previous 32-char hex string cost 32B+offset per (doc, band) row vs
    8B for the long.  md5-prefix-to-BIGINT is the repo-wide portable-
    hash idiom (shards.row_digest, simhash), so the DuckDB oracle twins
    mirror it exactly (``('0x' || substr(md5(..),1,15))::BIGINT``); a
    60-bit truncation collision merely merges two buckets, and every
    candidate pair is Jaccard-verified afterwards — and both engines
    truncate identically, so cap semantics stay engine-equal."""
    band_cols = []
    for b in range(bands):
        band_key = F.conv(
            F.substring(
                F.md5(
                    F.array_join(
                        F.transform(
                            F.slice(
                                F.col("sig"), b * rows_per_band + 1, rows_per_band
                            ),
                            lambda x: x.cast("string"),
                        ),
                        "|",
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        band_cols.append(F.struct(F.lit(b).alias("band"), band_key.alias("key")))
    return sig.select(
        F.col(id_col), *carry, F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        id_col, *carry, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Persistable MinHash-LSH index of a corpus: (bands_df, shingles_df).

    ``bands_df`` = (id, band, key); ``shingles_df`` = (id, sh: array<long>).
    Write both as parquet once per corpus snapshot; an incremental run
    (:func:`incremental_lsh_pairs`) then reads them back instead of
    re-shingling the whole corpus — the shape that keeps daily dedup cost
    proportional to the NEW batch, not to the accumulated 100 TB.
    """
    dsh = doc_shingles(df, text_col, id_col, n)
    sig = dsh.select(F.col(id_col), sig_from_array(num_hashes))
    return _band_keys(sig, bands, num_hashes // bands, id_col), dsh


# Verify-width machinery retired in r13: the corpus/batch count gates,
# the pair-mass estimate, and the adaptive repartition width were all
# deleted after the SCALE §22 isolation + end-to-end A/Bs showed the
# width lever moves neither spill nor wall time in the pinned
# shuffle-hash orientation (build side = shingle map), while every gate
# evaluation cost a serial driver action (dsh.count / cands.count /
# bucket-size agg) on every single build.  Default shuffle width + AQE
# partition coalescing now size the verify join at every scale.

# Incremental-path gate (index (id, band, key) rows): below this the
# old corpus is small enough that shipping its shingle arrays through
# one default-width verify costs less than the semi/anti exchanges that
# would prune them (measured 2x at sf0.1's 192k-row index, bisect
# script); above it the reductions ARE the batch-proportional contract
# (the 500k soak's 1.6M-row index engages them).
_INCR_REDUCE_MIN_INDEX_ROWS = 1_000_000


def incremental_lsh_pairs(
    new_df: DataFrame,
    old_bands: DataFrame,
    old_shingles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    reduce_old: bool | None = None,
) -> DataFrame:
    """Near-dup pairs of a NEW batch vs an indexed corpus (+ within batch).

    Emits exactly the pairs :func:`minhash_lsh_pairs` over old ∪ new would
    emit that touch at least one new doc — old×old pairs were reported by
    previous runs and are never re-generated or re-verified. Bucket-cap
    semantics are evaluated on the COMBINED bucket (old + new members), so
    results are bit-identical to the full run restricted to new-touching
    pairs; the oracle twin is the full-corpus SQL with that restriction.

    Cost at scale: the old corpus contributes only its (id, band, key)
    index rows to the candidate shuffle and only the docs that actually
    collide with a new doc to the verify join — never its text.

    r9 probe-cost reductions (r8 verdict #5), all semantics-free:
    (1) the batch's shingle arrays are persisted once per run — they
    feed the signature/band derivation, the re-crawl anti join AND the
    verify join, and re-shingling the batch three times was pure waste;
    (2) old index rows are semi-joined on (band, key) against the
    batch's band keys BEFORE the bucket aggregate — a bucket with no
    new member is dropped by the ``exists(is_new)`` filter anyway, and
    every bucket WITH a new member keeps all its old members (they
    match the semi-join key by definition), so combined-bucket cap
    semantics are untouched; (3) the old shingle arrays cross ONE
    id-keyed join, against the pre-folded id set (colliding ids from
    (2), minus re-crawled batch ids) computed on tiny id-only frames —
    so the accumulated corpus's arrays never enter the verify shuffle
    unless they actually collide with the batch.  Folding matters: a
    separate semi (collide) + anti (re-crawl) pair shuffles the arrays
    twice and measured ~10% SLOWER at the dense-collision 500k soak
    (SCALE.md §17); the folded form costs the same as the plain anti
    join there while staying batch-proportional at real scale.  AQE
    promotes the id-side joins to broadcast at runtime when the
    collision set is small; nothing is statically broadcast (the
    verify_jaccard rationale).

    ``reduce_old`` gates reductions (2)+(3) — the r10 sf0.1 bisect
    (SCALE.md, row-identical outputs across all three forms) attributed
    the bench gap vs r8 ENTIRELY to them (r8 form 2.5-2.8 s, reduced
    form 5.1-5.5 s interleaved at sf0.1): at
    toy corpus scale the extra semi/anti exchanges cost more than the
    old-side text they avoid reading, while at the 500k soak they are
    the batch-proportional contract itself.  Default ``None`` decides
    by ONE count of the index's (id, band, key) frame (a cheap 3-column
    scan): reductions engage at >= 1M index rows.  Explicit True/False
    pins the path (the equality test drives both).
    """
    new_bands, new_dsh = minhash_index(new_df, text_col, id_col, n, num_hashes, bands)
    # scoped persist (r11): released by LRU eviction once later calls
    # register newer frames — repeated large incremental runs in one
    # long-lived process previously accumulated these without bound
    # (r10 ADVICE)
    new_dsh = _persist_scoped(new_dsh)
    if reduce_old is None:
        reduce_old = old_bands.count() >= _INCR_REDUCE_MIN_INDEX_ROWS
    if reduce_old:
        batch_keys = new_bands.select("band", "key").distinct()
        old_hit = old_bands.join(batch_keys, ["band", "key"], "left_semi")
    else:
        old_hit = old_bands
    tagged = old_hit.select(
        id_col, "band", "key", F.lit(False).alias("is_new")
    ).unionByName(new_bands.withColumn("is_new", F.lit(True)))

    buckets = (
        tagged.groupBy("band", "key")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col), F.col("is_new")))
            ).alias("ids")
        )
        .filter(
            (F.size("ids") >= 2)
            & (F.size("ids") <= max_bucket)
            & F.exists("ids", lambda x: x["is_new"])
        )
    )
    cands = (
        expand_pairs_chunked(buckets.select("ids"))
        .filter(F.col("p.id_a.is_new") | F.col("p.id_b.is_new"))
        # a re-crawled doc appears under both tags; never pair it with itself
        .filter(F.col(f"p.id_a.{id_col}") != F.col(f"p.id_b.{id_col}"))
        .select(
            F.col(f"p.id_a.{id_col}").alias("id_a"),
            F.col(f"p.id_b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # A re-crawled doc (same id, possibly changed text) exists in BOTH
    # shingle sets; the new batch takes deterministic precedence — an
    # unordered dropDuplicates would keep an arbitrary side, making the
    # verified Jaccard for that doc's pairs flap across runs.  Only the
    # COLLIDING old docs' arrays enter the verify join (reduction (3)
    # above): every old id in ``cands`` shares a band key with the
    # batch, so restricting to old_hit's ids is lossless; the re-crawl
    # exclusion is folded into the same tiny id frame so the arrays
    # cross exactly one id-keyed join.
    if reduce_old:
        old_keep_ids = (
            old_hit.select(id_col)
            .distinct()
            .join(new_dsh.select(id_col), id_col, "left_anti")
        )
        old_only = old_shingles.join(old_keep_ids, id_col, "left_semi")
    else:
        # small index: the plain re-crawl anti join (r8 form) — the
        # folded collide-set is pure overhead when the whole old side
        # fits one default-width verify comfortably
        old_only = old_shingles.join(
            new_dsh.select(id_col), id_col, "left_anti"
        )
    dsh_all = old_only.unionByName(new_dsh)
    # Adaptive verify width retired (r13): the batch-count gate + pair
    # count + widening were deleted on the SCALE §22 end-to-end A/B
    # (ab_incr_r13, order-rotated, identical pair outputs): at the
    # 500k/23M-pair shape all three widths (none / 32 / counted 256) are
    # indistinguishable within host noise with ZERO spill at any width
    # on a 32 GiB heap — the r10 spill the width once fixed was the full
    # build squatting on storage memory, not the verify width — while
    # the gate itself cost two serial driver actions (new_dsh.count +
    # cands.count) on every incremental run.  Default width + AQE
    # coalescing size the verify join; the chunked pair expansion above
    # bounds per-row memory instead.
    verified = verify_jaccard(cands, dsh_all, id_col)
    return verified.filter(F.col("jaccard") >= threshold)


def verify_jaccard(
    pairs: DataFrame,
    dsh: DataFrame,
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs over per-doc shingle-SET arrays.

    Two equi joins attach each side's array; |A ∩ B| is a per-row
    array_intersect — no (pair x shingle) explosion, no aggregation. The
    joined payload is one array per doc (bounded by doc length), so the
    shuffle is O(|pairs| x avg_doc_shingles) exactly once.

    Join strategy is PINNED to shuffled-hash via hints on the shingle
    sides: the candidate-pair frame sits behind a distinct() whose static
    size estimate is unreliable, and a dup-heavy corpus makes it
    unbounded (measured: Catalyst statically planned BroadcastExchange
    over a ~25M-pair frame at the 500k near-replica soak and the driver
    died building it — AQE can promote SMJ→broadcast at runtime but
    cannot DEMOTE a statically planned broadcast, so the initial plan
    must never hard-commit an unbounded frame to broadcast).  The cost
    at benign sizes is two extra exchanges of the capped pair frame.

    ``partitions`` widens THIS join only: both sides are explicitly
    hash-repartitioned on the join key at the given width, so the join
    reuses those exchanges (no extra shuffle) and each build-side hash
    map shrinks proportionally.  This is the r9 replacement for the
    session-wide ``initialPartitionNum`` experiment: the global wide
    start fixed the one spilling join (measured 29.6 -> 22.2 s at the
    500k soak) but taxed every OTHER shuffle-dense build — the full LSH
    pairs build measured 1.57x SLOWER (488 vs 312 s, within-run A/B,
    SCALE.md §17) — so the width now lives at the single measured spill
    site, keyed to the cluster's parallelism by the caller.
    """
    if partitions:
        dsh = dsh.repartition(partitions, id_col)
        pairs = pairs.repartition(partitions, "id_a")
    a = dsh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")).hint(
        "shuffle_hash"
    )
    b = dsh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")).hint(
        "shuffle_hash"
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    j1 = pairs.join(a, "id_a")
    if partitions:
        j1 = j1.repartition(partitions, "id_b")
    return (
        j1.join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                inter.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - inter),
                6,
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    dsh: DataFrame | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold, blocked by shared shingles.

    Candidate pairs = docs sharing >= 1 shingle (skipping stop-shingles in
    buckets larger than ``max_bucket`` — they cannot discriminate and they
    quadratically blow up the join).
    """
    if dsh is None:
        dsh = _persist_scoped(doc_shingles(df, text_col, id_col, n))
    sh = dsh.select(F.col(id_col), F.explode("sh").alias("shingle"))
    bucket_ok = sh.groupBy("shingle").agg(F.count("*").alias("bc")).filter(
        F.col("bc") <= max_bucket
    )
    sh_ok = sh.join(bucket_ok.select("shingle"), "shingle")
    a = sh_ok.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh_ok.select(F.col(id_col).alias("id_b"), "shingle")
    cands = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return verify_jaccard(cands, dsh, id_col).filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """60-bit SimHash per doc (60 keeps the value in a signed int64 for
    engine portability; md5-derived token hashes).

    fingerprint bit i = sign of sum over tokens of (2*bit_i(h(token)) - 1),
    i.e. bit set iff 2*(count of tokens with bit i set) > n_tokens.
    Implemented as explode(tokens) -> ONE groupBy with 60 conditional sum
    columns (all codegen'd, map-side combined): the shuffle carries one
    61-value row per doc, vs 60x the token count for the naive
    explode(tokens) x explode(positions) formulation — and vs a nested-
    lambda map-only fold, which loses because higher-order-function lambdas
    evaluate interpreted outside codegen (measured 2x slower).
    """
    toks = F.array_distinct(tokens(normalize_text(F.col(text_col))))
    tok = ensure_parallelism(df).select(F.col(id_col), F.explode(toks).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    tok_h = tok.select(id_col, h.alias("h"))
    per_doc = tok_h.groupBy(id_col).agg(
        *[
            F.sum(F.shiftright(F.col("h"), p).bitwiseAND(F.lit(1))).alias(f"b{p}")
            for p in range(bits)
        ],
        F.count("*").alias("n"),
    )
    fp_expr = None
    for p in range(bits):
        bit = F.when(
            F.col(f"b{p}") * 2 > F.col("n"), F.lit(1 << p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp_expr = bit if fp_expr is None else fp_expr + bit
    return per_doc.select(F.col(id_col), fp_expr.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    chunks: int = 4,
    bits: int = 60,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Blocking: split the fingerprint into ``chunks`` bit-ranges; by
    pigeonhole any pair within distance < chunks shares one exact chunk, so
    candidates come from equi joins on (chunk_idx, chunk_value).

    ``max_bucket`` drops (chunk, value) buckets above the cap — identical-
    doc clusters collide on EVERY chunk and would otherwise emit O(m^2)
    candidates (see :func:`minhash_lsh_pairs`; same exact-dedup-first
    recipe applies). Same single-groupBy bucket-list formulation as
    minhash: collect (id, fingerprint) per bucket, cap by size, expand
    i<j pairs in-row — one shuffle of the chunked rows instead of a
    window count plus a two-sided self-join.
    """
    fp = _persist_scoped(simhash(df, text_col, id_col, bits))
    chunk_bits = bits // chunks
    chunk_cols = [
        F.struct(
            F.lit(i).alias("ci"),
            F.shiftright(F.col("simhash"), i * chunk_bits)
            .bitwiseAND(F.lit((1 << chunk_bits) - 1))
            .alias("cv"),
        )
        for i in range(chunks)
    ]
    chunked = fp.select(
        id_col, "simhash", F.explode(F.array(*chunk_cols)).alias("c")
    ).select(id_col, "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    buckets = (
        chunked.groupBy("ci", "cv")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("simhash")))
            ).alias("ms")
        )
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket))
    )
    ms = F.col("ms")
    pair_expr = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + F.lit(2), F.size(ms) - i - F.lit(1)),
                lambda y: F.struct(
                    x.getField("id").alias("id_a"),
                    y.getField("id").alias("id_b"),
                    x.getField("simhash").alias("sh_a"),
                    y.getField("simhash").alias("sh_b"),
                ),
            ),
        )
    )
    cands = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.98,
    block_col: Column | None = None,
    max_bucket: int = 5000,
) -> DataFrame:
    """Embedding near-dups: cosine >= threshold, blocked by ``block_col``
    (default: the sign pattern of the first 8 dims — a cheap deterministic
    hyperplane LSH; identical vectors always collide).

    ``max_bucket`` drops sign-pattern blocks above the cap before the
    self-join (identical-vector clusters collapse into one block → O(m^2)
    pairs; see :func:`minhash_lsh_pairs`). At larger corpus sizes the
    primary lever is a finer ``block_col`` (more sign dims → exponentially
    more blocks); the cap is the backstop that bounds the worst bucket."""
    from .similarity import cosine_with_norms, norm

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    if block_col is None:
        block_col = F.array_join(
            F.transform(F.slice(v, 1, 8), lambda x: (x >= 0).cast("int").cast("string")),
            "",
        )
    side = ensure_parallelism(df).select(
        F.col(id_col), v.alias("v"), block_col.alias("blk")
    ).withColumn("n", norm("v"))
    side = (
        side.withColumn("_bc", F.count("*").over(W.partitionBy("blk")))
        .filter(F.col("_bc") <= max_bucket)
        .drop("_bc")
    )
    l = side.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"), "blk")
    r = side.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"), "blk")
    pairs = l.join(r, "blk").filter(F.col("id_a") < F.col("id_b"))
    cos = cosine_with_norms("va", "vb", F.col("na"), F.col("nb"))
    return pairs.select("id_a", "id_b", F.round(cos, 6).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def cross_neardup_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    sign_dims: int = 8,
    max_bucket: int = 5000,
) -> DataFrame:
    """Cross-SET embedding near-dups — the semantic-decontamination
    primitive: corpus vectors whose cosine to ANY benchmark vector
    reaches ``threshold`` (span/ngram decontamination catch verbatim
    leaks; this catches paraphrased eval items that share an embedding
    neighborhood).  Returns (id_a = corpus id, id_b = bench id, cosine)
    for every qualifying pair; consumers aggregate a per-corpus-doc
    verdict or anti-join the flagged ids out.

    Blocking is the :func:`embedding_neardup_pairs` recipe applied to
    BOTH sides — the sign pattern of the first ``sign_dims`` dims, an
    equi-join key, so the candidate step is corpus-join-bench on block,
    never a cross join.  Same recall caveat (a near-pair straddling one
    hyperplane is missed; raise ``sign_dims`` for finer blocks at scale)
    and the same ``max_bucket`` backstop, applied to the CORPUS side
    (bench blocks are small by construction — eval suites are bounded).
    """
    from .similarity import cosine_with_norms, norm

    def side(df: DataFrame, ida: str, va: str, na: str) -> DataFrame:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        blk = F.array_join(
            F.transform(
                F.slice(v, 1, sign_dims),
                lambda x: (x >= 0).cast("int").cast("string"),
            ),
            "",
        )
        out = df.select(F.col(id_col).alias(ida), v.alias(va), blk.alias("blk"))
        return out.withColumn(na, norm(va))

    l = side(ensure_parallelism(corpus), "id_a", "va", "na")
    l = (
        l.withColumn("_bc", F.count("*").over(W.partitionBy("blk")))
        .filter(F.col("_bc") <= max_bucket)
        .drop("_bc")
    )
    r = side(bench, "id_b", "vb", "nb")
    pairs = l.join(r, "blk")
    cos = cosine_with_norms("va", "vb", F.col("na"), F.col("nb"))
    return pairs.select("id_a", "id_b", F.round(cos, 6).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    centroid_stride: int = 100,
    iters: int = 2,
    max_cell: int = 5000,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: k-means-cluster the
    embedding space, then compare pairs only WITHIN each cluster
    (cosine >= ``threshold``). Returns (id_a, id_b, cell, cosine).

    This is the published SemDeDup recipe (Abbas et al. 2023: cluster,
    then intra-cluster pairwise cosine) re-expressed as DataFrame ops:
    :func:`~staticql_spark.operators.similarity.kmeans_fit` trains the
    clustering (deterministic init, broadcast-argmax assign), the
    within-cell candidate step is an equi self-join on ``cell`` — never a
    corpus cross join; the clustering IS the blocking. ``max_cell`` drops
    runaway cells before the self-join (same backstop as
    :func:`minhash_lsh_pairs`'s ``max_bucket``); at scale the primary
    lever is more centroids (cells shrink ~linearly).

    Downstream composes like every other pair source here:
    ``connected_components`` + keep-set for the prune, or join the pairs
    back for cluster-aware splits. Fixed ``iters`` keeps the whole
    pipeline SQL-expressible (oracle: __spark_entry__._semantic_dedup_sql,
    reusing the unrolled-Lloyd CTEs of ann_ivf_trained).
    """
    from .similarity import as_double, cosine_with_norms, ivf_assign, kmeans_fit, norm

    vecs = ensure_parallelism(df).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    if centroids is None:
        centroids = kmeans_fit(
            df, vec_col, id_col, centroid_stride=centroid_stride, iters=iters
        )
    assigned = ivf_assign(vecs, centroids, vec_alias="v", id_alias="vid", nprobe=1)
    assigned = (
        assigned.withColumn("_cc", F.count("*").over(W.partitionBy("cell")))
        .filter(F.col("_cc") <= max_cell)
        .drop("_cc")
        .withColumn("n", norm("v"))
        # no checkpoint pin for the self-join: AQE's exchange reuse
        # already shares one evaluation of the kmeans+assign chain across
        # both sides (A/B-measured at sf0.1 — a lazy localCheckpoint only
        # moved ~2 s into construct and cost ~0.4 s net)
    )
    l = assigned.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"), "cell"
    )
    r = assigned.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"), "cell"
    )
    pairs = l.join(r, "cell").filter(F.col("id_a") < F.col("id_b"))
    cos = cosine_with_norms("va", "vb", F.col("na"), F.col("nb"))
    return pairs.select(
        "id_a", "id_b", "cell", F.round(cos, 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def incremental_semantic_pairs(
    new_df: DataFrame,
    old_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    centroid_stride: int = 100,
    iters: int = 2,
    max_cell: int = 5000,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Incremental SemDeDup: a NEW embedding batch deduped against the
    accumulated corpus without re-pairing old x old. Returns
    (id_a, id_b, cell, cosine) for every within-cell pair that touches a
    new vector.

    The production daily-ingest shape: centroids are FROZEN from the old
    corpus (train once, persist — pass ``centroids=`` from
    :func:`~staticql_spark.operators.similarity.kmeans_fit`; retrain on a
    cadence, not per batch), the batch is assigned by broadcast argmax,
    and the old side is first reduced to the cells the batch touches (a
    semi join — with the old assignment persisted as parquet PARTITIONED
    BY cell this is disk-level partition pruning), so per-batch cost
    tracks the batch's cell footprint, not the corpus. The at-least-one-
    new predicate rides IN the join condition, so old x old candidate
    pairs are never even formed. ``max_cell`` caps on the combined cell
    (old + new members), mirroring :func:`incremental_lsh_pairs`'s
    combined-bucket cap so the restriction commutes with a full run.
    """
    from .similarity import as_double, cosine_with_norms, ivf_assign, kmeans_fit, norm

    if centroids is None:
        centroids = kmeans_fit(
            old_df, vec_col, id_col, centroid_stride=centroid_stride, iters=iters
        )
    nv = ensure_parallelism(new_df).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    ov = ensure_parallelism(old_df).select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    # na is consumed twice (the touched-cells semi join AND the union) and
    # `both` is consumed twice (the l and r sides of the pair join) —
    # unpinned, each consumer re-ran the broadcast argmin assignment from
    # the raw embeddings (r13).  Pinned, the assignment and the cell-cap
    # window run once; values are unchanged.
    na = _persist_scoped(
        ivf_assign(nv, centroids, vec_alias="v", id_alias="vid", nprobe=1).withColumn(
            "is_new", F.lit(True)
        )
    )
    oa = ivf_assign(ov, centroids, vec_alias="v", id_alias="vid", nprobe=1).withColumn(
        "is_new", F.lit(False)
    )
    touched = na.select("cell").distinct()
    oa = oa.join(touched, "cell", "left_semi")
    both = _persist_scoped(
        # unionByName: the semi join moved oa's "cell" to the front
        na.unionByName(oa.select(*na.columns))
        .withColumn("_cc", F.count("*").over(W.partitionBy("cell")))
        .filter(F.col("_cc") <= max_cell)
        .drop("_cc")
        .withColumn("n", norm("v"))
    )
    l = both.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), F.col("is_new").alias("new_a"), "cell",
    )
    r = both.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), F.col("is_new").alias("new_b"), "cell",
    )
    pairs = l.join(
        r,
        (l["cell"] == r["cell"])
        & (F.col("id_a") < F.col("id_b"))
        & (F.col("new_a") | F.col("new_b")),
    )
    cos = cosine_with_norms("va", "vb", F.col("na"), F.col("nb"))
    return pairs.select(
        "id_a", "id_b", l["cell"].alias("cell"), F.round(cos, 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """(member_id, component_id) — transitive closure of near-dup pairs,
    component_id = min member id. The step pairs alone cannot do: dedup
    keeps ONE doc per duplicate *cluster*, and clusters are the connected
    components of the pair graph.

    Min-label propagation: each round every node adopts the smallest label
    among itself and its neighbors; converges in <= diameter rounds (near-
    dup clusters are tiny, so 2-4 rounds in practice). Each round is one
    equi join + one groupBy min — both map-side combined, shuffling on the
    node id. ``localCheckpoint`` truncates lineage per round; without it
    the plan doubles every iteration and the driver, not the data, becomes
    the bottleneck (the standard Spark iterative-algorithm trap).
    """
    # Symmetrize IN-ROW (explode of the two orientations), not as a
    # self-union: both branches of a union reference the pairs subtree,
    # and the distinct+checkpoint boundary defeats exchange reuse, so a
    # lazy ``pairs`` (an LSH or semantic-blocking plan) was evaluated
    # TWICE in one job.  Measured at sf0.1 cold: 21.1 s (union) vs 8.9 s
    # (pairs checkpointed first) vs ~pairs-cost alone (this form) — the
    # r5 "composition costs 2x its stages" anomaly was exactly this.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"), "comp"
        )
        new_labels = (
            labels.union(nbr).groupBy("node").agg(F.min("comp").alias("comp"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("member_id"), F.col("comp").alias("component_id")
    )


def leakfree_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split1",
    train_pct: int = 80,
    val_pct: int = 10,
    broadcast_max_rows: int = 4_000_000,
    components: DataFrame | None = None,
) -> DataFrame:
    """Cluster-aware train/val/test split: near-dup CLUSTERS stay whole.

    A plain per-doc hash split leaks training data into eval whenever two
    near-duplicates straddle the boundary. Here the md5 draw runs on each
    doc's component REPRESENTATIVE (min member id of its near-dup cluster;
    singletons represent themselves), so an entire cluster always lands in
    one split. Deterministic and append-stable like doc_split; the extra
    cost over it is exactly the component computation on the pair graph
    plus one join back.
    Returns df columns + (rep, split).

    ``components`` injects a precomputed / persisted (member_id,
    component_id) frame (the shared-artifact pattern — the iterative CC
    derivation is a job, not a query prefix); when given, ``pairs`` is
    ignored.
    """
    comp = (
        components
        if components is not None
        else connected_components(pairs, id_a="id_a", id_b="id_b")
    )
    # comp has one row per PAIRED doc — usually tiny relative to the corpus,
    # but it comes out of localCheckpoint (no stats), so Spark would pick a
    # sort-merge join that shuffles the whole corpus.  Broadcast explicitly
    # ONLY when the map is provably small: at a 20-30% dup rate on a 100 TB
    # corpus the paired-doc map is billions of rows and an unconditional
    # broadcast OOMs the driver.  comp is already checkpointed, so the
    # count() gate is a cheap local scan; past the threshold we fall back
    # to a plain shuffle join on the id (SCALE.md "leakfree_split gate").
    comp = comp.select(F.col("member_id").alias(id_col), "component_id")
    if comp.count() <= broadcast_max_rows:
        comp = F.broadcast(comp)
    rep = df.join(comp, id_col, "left").withColumn(
        "rep", F.coalesce("component_id", F.col(id_col))
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"), F.col("rep").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return rep.select(
        *df.columns,
        "rep",
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )


def dedup_keep(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """The kept set after near-dup clustering: every doc not in any pair,
    plus the min-id representative of each component. One anti join against
    the non-representative members.  ``components`` injects a precomputed
    (member_id, component_id) frame (persisted-artifact pattern); when
    given, ``pairs`` is ignored."""
    comp = components if components is not None else connected_components(pairs)
    drop = comp.filter(F.col("member_id") != F.col("component_id")).select(
        F.col("member_id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 30,
    anchor_mod: int = 1,
    merge_gap: int = 0,
) -> DataFrame:
    """Exact duplicated-substring spans across documents (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"), as a
    Spark-native k-gram formulation instead of the paper's suffix array.

    A character position is *duplicated* when the k-gram starting there
    also occurs in at least one OTHER document. Adjacent/overlapping
    duplicated k-gram windows are merged into maximal spans, so the output
    (doc_id, span_start, span_end, span_len; 1-based char offsets,
    inclusive) is exactly the byte ranges a substring-dedup pass would
    excise. Any cross-doc repeated substring of length >= k is covered by
    at least one shared k-gram, so no span is missed at anchor_mod=1.

    Plan shape (the 100 TB story):
    - gram stream is (id, start, md5) — the text itself never shuffles;
    - "shared with another doc" is min(id) != max(id) over a window
      partitioned by the gram hash: ONE shuffle on the hash with O(1)
      window state per gram — no collect_set, no self-join, and a
      boilerplate gram shared by millions of docs costs the same as one
      shared by two (same trick as selfdedup_grams, which measured 2x
      over the groupBy+join formulation);
    - span merge is a per-doc ordered window over surviving positions
      only (classic gaps-and-islands), bounded by real duplicate mass.

    The gram stream is ~1 row per character — a ~kx blowup is what the
    suffix array avoids, so for petabyte corpora set ``anchor_mod=m`` to
    keep only grams whose hash == 0 (mod m). Anchoring is content-defined
    (the same substring selects the same grams in both copies regardless
    of alignment), so duplicated regions longer than ~m+k chars are still
    caught with spans snapped to anchor positions; raise ``merge_gap``
    toward m so one region does not splinter into per-anchor islands.
    """
    df = ensure_parallelism(df)
    n = F.greatest(F.length(F.col(text_col)) - F.lit(k) + 1, F.lit(0))
    starts = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = (
        df.select(F.col(id_col), F.col(text_col))
        .withColumn("s", F.explode(starts))
        .select(
            id_col,
            "s",
            F.md5(F.substring(F.col(text_col), F.col("s"), k)).alias("h"),
        )
    )
    if anchor_mod > 1:
        anchor = F.conv(F.substring("h", 1, 15), 16, 10).cast("long")
        grams = grams.filter(anchor % anchor_mod == 0)

    wh = W.partitionBy("h")
    hits = (
        grams.withColumn("mn", F.min(id_col).over(wh))
        .withColumn("mx", F.max(id_col).over(wh))
        .filter(F.col("mn") != F.col("mx"))
        .select(id_col, "s")
    )

    return _gram_islands(hits, id_col, k, merge_gap)


def _gram_islands(
    hits: DataFrame, id_col: str, k: int, merge_gap: int
) -> DataFrame:
    """Merge flagged k-gram start positions (id, s) into maximal spans —
    the shared gaps-and-islands tail of duplicated_spans and
    contaminated_spans: a per-doc ordered window over surviving positions
    only, bounded by real flagged mass."""
    wd = W.partitionBy(id_col).orderBy("s")
    prev_end = F.max(F.col("s") + F.lit(k - 1)).over(
        wd.rowsBetween(W.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "st",
        (F.col("s") > F.coalesce(prev_end, F.lit(-1)) + F.lit(merge_gap)).cast(
            "int"
        ),
    ).withColumn("island", F.sum("st").over(wd))
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            (F.max("s") + F.lit(k - 1)).cast("long").alias("span_end"),
            (F.max("s") + F.lit(k) - F.min("s")).cast("long").alias("span_len"),
        )
        .drop("island")
    )


def contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    k: int = 30,
    merge_gap: int = 0,
) -> DataFrame:
    """Span-level benchmark decontamination: the exact character ranges
    of each corpus doc that share a k-char gram with ANY benchmark doc —
    so the leak can be EXCISED (feed the output to :func:`excise_spans`)
    instead of dropping whole documents the way doc-level decontaminate
    does.  A long page quoting one eval question loses the quote, not
    the page — the surgical variant production pipelines prefer when the
    doc-level filter would cost too much good text.

    Same k-gram window formulation as :func:`duplicated_spans` (any
    shared substring of length >= k is covered by a shared k-gram) and
    the same gaps-and-islands merge; the contamination test is a
    broadcast join of the corpus gram stream against the benchmark's
    DISTINCT gram hashes (eval sets are tiny, so the corpus never
    shuffles for it — the decontaminate shape at span granularity).
    """
    corpus = ensure_parallelism(corpus)
    n = F.greatest(F.length(F.col(text_col)) - F.lit(k) + 1, F.lit(0))
    starts = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = (
        corpus.select(F.col(id_col), F.col(text_col))
        .withColumn("s", F.explode(starts))
        .select(
            id_col,
            "s",
            F.md5(F.substring(F.col(text_col), F.col("s"), k)).alias("h"),
        )
    )
    btc = bench_text_col or text_col
    bn = F.greatest(F.length(F.col(btc)) - F.lit(k) + 1, F.lit(0))
    bstarts = F.when(bn >= 1, F.sequence(F.lit(1), bn)).otherwise(
        F.array().cast("array<int>")
    )
    bench_grams = (
        benchmark.select(F.col(btc))
        .withColumn("s", F.explode(bstarts))
        .select(F.md5(F.substring(F.col(btc), F.col("s"), k)).alias("h"))
        .distinct()
    )
    hits = grams.join(F.broadcast(bench_grams), "h").select(id_col, "s")
    return _gram_islands(hits, id_col, k, merge_gap)


def excise_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut duplicated spans out of each document — the excision step of
    substring dedup (Lee et al. 2022) applied to duplicated_spans output.

    ``spans`` must be non-overlapping (doc_id, span_start, span_end) rows
    (duplicated_spans emits merged maximal islands, so its output is valid
    directly). Returns every input row with ``n_spans``, ``dup_chars``,
    ``cleaned_len`` and the ``cleaned`` text (empty when the whole doc is
    duplicated; the original text when it has no spans).

    Plan shape: spans collapse to ONE sorted array per doc (groupBy,
    map-side combined), one equi join back to the corpus on the id, and
    the cut itself is a single higher-order ``aggregate`` over that array
    — per-row JVM work, no per-character explosion, no extra shuffle
    beyond the groupBy+join pair on the same key.
    """
    sp = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__sp"),
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_chars"),
    )
    t = F.col(text_col)
    cleaned = F.aggregate(
        F.col("__sp"),
        F.struct(F.lit(1).cast("long").alias("pos"), F.lit("").alias("acc")),
        lambda acc, x: F.struct(
            (x["span_end"] + 1).alias("pos"),
            F.concat(
                acc["acc"],
                t.substr(acc["pos"], x["span_start"] - acc["pos"]),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"], t.substr(acc["pos"], F.length(t) - acc["pos"] + 1)
        ),
    )
    out = df.join(sp, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
        F.when(F.col("__sp").isNull(), t).otherwise(cleaned).alias("cleaned"),
    ).withColumn("cleaned_len", F.length("cleaned").cast("long"))


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    probe_k: int = 8,
    threshold: float = 0.5,
    max_df: int = 1000,
    dsh: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection by shingle-set CONTAINMENT (Broder
    1997's resemblance-vs-containment distinction): a short document
    quoted or boilerplate-wrapped inside a long one has high containment
    but low Jaccard, so MinHash-LSH (which targets resemblance) misses
    it.  Returns (contained_id, container_id, n_a, n_b, containment)
    where containment = |A ∩ B| / |A| for A = the contained side's
    shingle set, >= ``threshold``; both directions of a pair can appear
    (the relation is asymmetric).

    Candidate generation is a KMV-style probe: each doc's ``probe_k``
    SMALLEST shingle hashes are joined against the full per-shingle
    inverted index — if A is (mostly) inside B, every A shingle,
    including its bottom-k, appears on B's postings, so the probe finds
    the pair without comparing A to the whole corpus.  Shingles with
    document frequency > ``max_df`` are dropped from the index first
    (the stop-shingle cap of ngram_jaccard_pairs: a boilerplate shingle
    shared by millions of docs would otherwise fan out O(df) candidates
    per probe).  Verification intersects the two sorted hash arrays
    in-row.  All joins are equi joins on 8-byte hash longs; the text
    never shuffles (same contract as the rest of this module).
    """
    if dsh is None:
        dsh = doc_shingles(df, text_col, id_col, n)
    # sets feeds FOUR consumers (the inverted index, the probe side, and
    # both verify sides); pin the sorted-array form directly so each
    # reads a cache instead of re-deriving shingles + array_sort per
    # consumer (r13 — previously only the raw dsh was pinned, so the
    # sort and, for injected dsh, the whole upstream re-ran 4x).
    sets = _persist_scoped(
        dsh.select(
            F.col(id_col), F.array_sort(F.col("sh")).alias("arr"),
            F.size(F.col("sh")).alias("n_sh"),
        )
    )
    inv = sets.select(F.col(id_col).alias("other"), F.explode("arr").alias("shv"))
    inv = (
        inv.withColumn("_df", F.count("*").over(W.partitionBy("shv")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    probes = sets.select(
        F.col(id_col).alias("contained_id"),
        F.explode(F.slice("arr", 1, probe_k)).alias("shv"),
    )
    cands = (
        probes.join(inv, "shv")
        .filter(F.col("contained_id") != F.col("other"))
        .select("contained_id", F.col("other").alias("container_id"))
        .distinct()
    )
    a = sets.select(
        F.col(id_col).alias("contained_id"),
        F.col("arr").alias("arr_a"), F.col("n_sh").alias("n_a"),
    )
    b = sets.select(
        F.col(id_col).alias("container_id"),
        F.col("arr").alias("arr_b"), F.col("n_sh").alias("n_b"),
    )
    return (
        cands.join(a, "contained_id")
        .join(b, "container_id")
        .select(
            "contained_id", "container_id", "n_a", "n_b",
            F.round(
                F.size(F.array_intersect("arr_a", "arr_b")) / F.col("n_a"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """C4-style exact unit dedup (Raffel et al. 2020 §2.2 drop repeated
    three-sentence spans; RefinedWeb's line-level variant): cut every doc
    into NON-overlapping ``width``-token chunks, drop any chunk that
    occurs in >= ``min_docs`` distinct documents, and reassemble what's
    left.  Complements duplicated_spans: that finds maximal duplicated
    REGIONS via overlapping k-gram windows; this is the cheap corpus-wide
    boilerplate cut (nav bars, license headers, cookie banners) that
    production web pipelines run FIRST, because it needs just one
    aggregation over |corpus tokens| / width rows.

    Returns (doc_id, n_chunks, n_dropped, clean_text); chunk order is
    preserved in the reassembly.

    Scale shape: the document TEXT crosses exactly one shuffle (the final
    doc-keyed join).  The chunk stream carries only (id, pos, 16-byte md5)
    — the frequency count and its join-back are co-partitioned on the
    hash — and the reassembly re-slices kept positions out of the
    original text map-side, so chunk strings are never shuffled at all.
    Per-doc state is bounded by the doc's own chunk-position list.  No
    Python, no windows, no driver collect.
    """
    df = ensure_parallelism(df)
    # Tokenize ONCE per row, not once per array element: F.split inside a
    # higher-order lambda re-evaluates per element (O(tokens^2/width) per
    # doc).  The hoist only survives CollapseProject when the hoisted
    # column is referenced >= 2 times in the consumer (SPARK-36718 keeps
    # multiply-referenced non-cheap aliases); here __sq_toks feeds both
    # n_chunks and the lambda, and the rebuild below adds a size() guard
    # to pin the single-reference case.  Verified against the optimized
    # plan: exactly one split() per Project (SCALE.md r9 A/B).
    tdf = df.withColumn("__sq_toks", F.split(F.col(text_col), " "))
    n_chunks = F.greatest(
        F.ceil(F.size("__sq_toks") / F.lit(width)).cast("int"), F.lit(1)
    )
    chunk_at = lambda t, p: F.array_join(F.slice(t, p * width + 1, width), " ")
    chunks = tdf.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.md5(chunk_at(F.col("__sq_toks"), i)),
            )
        ).alias("pos", "h"),
    )
    cnts = chunks.groupBy("h").agg(F.count_distinct(F.col(id_col)).alias("nd"))
    flags = chunks.join(cnts, "h").select(
        id_col, "pos", (F.col("nd") < min_docs).alias("keep")
    )
    per_doc = flags.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.sort_array(
            F.collect_list(F.when(F.col("keep"), F.col("pos")))
        ).alias("kept_pos"),
    )
    # Re-split AFTER the doc-keyed join so the raw text (not the fatter
    # token array) crosses the shuffle; the always-true size() guard
    # gives __sq_toks a second reference so CollapseProject can't inline
    # the split back into the per-element lambda (NULL text can't reach
    # here: its chunks hash to NULL and drop at the equi join on h).
    joined = df.join(per_doc, id_col).withColumn(
        "__sq_toks", F.split(F.col(text_col), " ")
    )
    return joined.select(
        id_col,
        "n_chunks",
        "n_dropped",
        F.when(
            F.size("__sq_toks") >= 0,
            F.array_join(
                F.transform(
                    F.col("kept_pos"), lambda p: chunk_at(F.col("__sq_toks"), p)
                ),
                " ",
            ),
        ).alias("clean_text"),
    )


def chunk_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
) -> DataFrame:
    """Persistable corpus chunk-frequency index for incremental
    chunk_dedup: (h, nd) = md5 of each non-overlapping ``width``-token
    chunk and its distinct-document frequency.  16-byte keys + longs —
    the compact artifact a daily pipeline stores instead of re-counting
    the whole corpus."""
    df = ensure_parallelism(df)
    # Hoisted tokenization (see chunk_dedup): two references keep the
    # split out of the per-element lambda under CollapseProject.
    tdf = df.withColumn("__sq_toks", F.split(F.col(text_col), " "))
    n_chunks = F.greatest(
        F.ceil(F.size("__sq_toks") / F.lit(width)).cast("int"), F.lit(1)
    )
    chunks = tdf.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.md5(
                    F.array_join(
                        F.slice(F.col("__sq_toks"), i * width + 1, width), " "
                    )
                ),
            )
        ).alias("h"),
    )
    return chunks.groupBy("h").agg(F.count_distinct(F.col(id_col)).alias("nd"))


def incremental_chunk_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Incremental C4-style chunk dedup: clean a NEW batch against a
    persisted :func:`chunk_index` — a chunk drops when its distinct-doc
    frequency across (old corpus + this batch) reaches ``min_docs``, so
    batch boilerplate that the old corpus already saw once is cut
    immediately, and new-x-new repeats within the batch are caught too.
    Same output shape as chunk_dedup: (id, n_chunks, n_dropped,
    clean_text).

    Scale: cost tracks the BATCH — the old corpus contributes only its
    (h, nd) index rows, joined on the 16-byte hash; the batch text
    crosses one doc-keyed shuffle exactly as in chunk_dedup.
    """
    new_docs = ensure_parallelism(new_docs)
    # Hoisted tokenization (see chunk_dedup): two references keep the
    # split out of the per-element lambda under CollapseProject.
    tdf = new_docs.withColumn("__sq_toks", F.split(F.col(text_col), " "))
    n_chunks = F.greatest(
        F.ceil(F.size("__sq_toks") / F.lit(width)).cast("int"), F.lit(1)
    )
    chunk_at = lambda t, p: F.array_join(F.slice(t, p * width + 1, width), " ")
    chunks = tdf.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.md5(chunk_at(F.col("__sq_toks"), i)),
            )
        ).alias("pos", "h"),
    )
    batch_cnt = chunks.groupBy("h").agg(
        F.count_distinct(F.col(id_col)).alias("nd_new")
    )
    merged = batch_cnt.join(
        index.select("h", F.col("nd").alias("nd_old")), "h", "left"
    ).select(
        "h",
        (F.col("nd_new") + F.coalesce(F.col("nd_old"), F.lit(0))).alias("nd"),
    )
    flags = chunks.join(merged, "h").select(
        id_col, "pos", (F.col("nd") < min_docs).alias("keep")
    )
    per_doc = flags.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.sort_array(
            F.collect_list(F.when(F.col("keep"), F.col("pos")))
        ).alias("kept_pos"),
    )
    # Re-split after the join + size() pin, as in chunk_dedup: raw text
    # crosses the shuffle, split runs once per row, CollapseProject
    # can't inline it back into the lambda.
    joined = new_docs.join(per_doc, id_col).withColumn(
        "__sq_toks", F.split(F.col(text_col), " ")
    )
    return joined.select(
        id_col,
        "n_chunks",
        "n_dropped",
        F.when(
            F.size("__sq_toks") >= 0,
            F.array_join(
                F.transform(
                    F.col("kept_pos"),
                    lambda p: chunk_at(F.col("__sq_toks"), p),
                ),
                " ",
            ),
        ).alias("clean_text"),
    )


# ------------------------------------------------- persisted LSH index

class LSHIndex:
    """Handle over a persisted MinHash-LSH index directory
    (:func:`lsh_build`): ``bands`` (id, band, key), ``shingles``
    (id, sh) as lazy DataFrames, plus the frozen recipe parameters
    (``n``, ``num_hashes``, ``n_bands``) the index was built with."""

    def __init__(self, bands: DataFrame, shingles: DataFrame,
                 n: int, num_hashes: int, n_bands: int):
        self.bands = bands
        self.shingles = shingles
        self.n = n
        self.num_hashes = num_hashes
        self.n_bands = n_bands


def lsh_build(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """Persist the MinHash-LSH corpus index — the named build job
    :func:`minhash_index`'s docstring promised ("write both as parquet
    once per corpus snapshot"), completing the persisted-index family
    (``pq_build``, ``ivf_build``): ``path/bands`` + ``path/shingles`` +
    ``path/meta`` (the shingle/hash/band recipe, frozen so readers and
    appenders cannot drift from the index's code space — the same
    contract pq_append enforces by loading codebooks from the index).

    Per-doc signatures depend only on the doc's own text, so appends
    compose exactly: build(old) + append(new) is row-identical to
    build(old ∪ new) (locked by test_lsh_append_equals_full_rebuild)."""
    spark = df.sparkSession
    b, sh = minhash_index(df, text_col, id_col, n, num_hashes, bands)
    b.write.mode("overwrite").parquet(f"{path}/bands")
    sh.write.mode("overwrite").parquet(f"{path}/shingles")
    spark.createDataFrame(
        [(n, num_hashes, bands)], "n int, num_hashes int, bands int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _check_band_key_format(bands_df: DataFrame, path: str) -> None:
    # r11 format change: band keys are 60-bit longs (was 32-char md5
    # hex).  A pre-r11 index would silently produce ZERO candidates when
    # probed with long keys (string vs long never equi-join), so refuse
    # it loudly — rebuild the index with the current code.
    if dict(bands_df.dtypes).get("key") != "bigint":
        raise ValueError(
            f"LSH index at {path!r} uses the pre-r11 string band-key "
            "format; rebuild it with lsh_build (band keys are now "
            "60-bit longs)"
        )


def lsh_load(spark, path: str) -> LSHIndex:
    """Open a :func:`lsh_build` directory; frames are lazy parquet scans,
    only the 1-row meta is read eagerly."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    bands_df = spark.read.parquet(f"{path}/bands")
    _check_band_key_format(bands_df, path)
    return LSHIndex(
        bands=bands_df,
        shingles=spark.read.parquet(f"{path}/shingles"),
        n=int(meta["n"]),
        num_hashes=int(meta["num_hashes"]),
        n_bands=int(meta["bands"]),
    )


def lsh_append(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append a NEW document batch to a persisted LSH index: shingle and
    sign ONLY the batch under the recipe frozen in ``path/meta`` (the
    parameters are deliberately not caller-suppliable — mixing recipes in
    one index silently breaks candidate recall) and append into bands +
    shingles.  Cost tracks the batch; existing files are untouched."""
    spark = batch.sparkSession
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    # Refuse a pre-r11 string-key index BEFORE any write (r11 ADVICE):
    # appending bigint-key files into a string-key bands dir would leave
    # a mixed-schema directory that fails on read with a confusing
    # schema-merge error instead of this intended loud one.
    _check_band_key_format(spark.read.parquet(f"{path}/bands"), path)
    b, sh = minhash_index(
        batch, text_col, id_col,
        n=int(meta["n"]),
        num_hashes=int(meta["num_hashes"]),
        bands=int(meta["bands"]),
    )
    b.write.mode("append").parquet(f"{path}/bands")
    sh.write.mode("append").parquet(f"{path}/shingles")


def lsh_pairs_from_index(
    bands: DataFrame,
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket: int = 1000,
    partitions: int | None = None,
) -> DataFrame:
    """Near-dup pairs straight from a PERSISTED LSH index (r11, r10
    verdict #2's reuse lever): candidate blocking + Jaccard verify over
    the (id, band, key) and (id, sh) frames an :func:`lsh_build` /
    :func:`lsh_append` index already holds — NO re-shingle, NO
    re-signature.  Row-identical to :func:`minhash_lsh_pairs` over the
    same corpus at the index's frozen recipe (per-doc signatures depend
    only on the doc's own text; locked by
    test_lsh_pairs_from_index_equals_inline).

    This is the shape a daily pipeline wants: build/append the index
    once per snapshot, then derive the pair set (and anything downstream
    — components, keep-lists, leak-free splits) from the parquet frames.
    At the 500k-doc soak the inline build's per-doc map work (shingle +
    16 hashes + banding) is pure recompute of what the index stores.

    ``partitions`` pins the verify width; default None leaves the join
    at default width + AQE coalescing (the width gate/count machinery
    was retired in r13 — see the minhash_lsh_pairs rationale).  The
    shingle frame goes through the scoped persist registry: the verify
    join reads it TWICE (id_a and id_b sides), and the first SOAK_r11
    measurement showed the double parquet scan of 500k shingle-array
    rows costing more than the in-memory cache the inline build enjoys.
    """
    shingles = _persist_scoped(shingles)
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    cands = (
        expand_pairs_chunked(buckets.select("ids"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    verified = verify_jaccard(cands, shingles, id_col, partitions=partitions)
    return verified.filter(F.col("jaccard") >= threshold)
