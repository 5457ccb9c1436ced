"""Large-scale pipeline operators (beyond the reference's surface).

- dedup: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding near-dup
- similarity: exact cosine top-k, LSH-bucketed ANN, IVF ANN
- text: tokenization, quality scoring, language ID, fingerprinting
- multimodal: binary payload plumbing with stubbed codecs
- bucketing: shuffle-free co-located joins
- skew: salted joins / two-phase aggregation
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition a narrow input up to the session's core count before
    CPU-heavy per-row work.

    Parquet splits at row-group granularity, so a compact table (one file,
    one row group) scans as ONE partition no matter how many cores exist —
    and every downstream map runs single-threaded. For compute-dense
    operators (regex scoring, shingling, hashing, vector math) one small
    round-robin shuffle of the input unlocks full parallelism; the shuffle
    cost is O(input bytes), always dwarfed by the per-row compute it
    parallelizes. Inputs that already have >= defaultParallelism partitions
    (any real 100 TB table) pass through untouched.

    The width probe is ``df.inputFiles()`` (a catalog/metadata call), NOT
    ``df.rdd.getNumPartitions()``: the RDD conversion forces full physical
    planning of the DataFrame on every operator call. File count slightly
    undercounts splits for multi-row-group files (worst case: one redundant
    repartition of an input small enough to sit in one file), and returns
    [] for non-file sources, which pass through untouched — local
    createDataFrame inputs are already sliced to defaultParallelism.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # streaming sources raise; never block the pipeline
        return df
    if files and len(files) < target:
        return df.repartition(target)
    return df


# --- persist lifecycle (public home since r14; grew up in dedup) -------
# Operators persist intermediates (shingle frames, counted candidate
# frames, k-rows-per-query result sets) whose useful life ends once the
# caller materializes the returned lazy result — which operator modules
# never see.  Left alone, a long-lived serving session accumulates them
# without bound (the r10 soak measured a squatting 31M-pair persist
# degrading a later build 5.4x).  So persists go through a BOUNDED
# registry keyed by the frame's semantic hash: re-persisting the same
# logical plan (bench reps, shared-dsh callers) reuses the existing entry
# instead of thrashing the cache, and when the registry exceeds
# _MAX_LIVE_PERSISTS the oldest frames are unpersisted.  Evicting a frame
# someone still holds lazily is SAFE — unpersist() only drops cached
# blocks; re-evaluation recomputes, values never change.
# _MAX_LIVE_PERSISTS comfortably exceeds the most any single operator
# call registers (3), so a call never evicts its own working set; serving
# sessions (and the bench, since r14) call release_persists() between
# requests for an eager zero-footprint floor.

import threading  # noqa: E402

_LIVE_PERSISTS: dict[tuple, DataFrame] = {}
_MAX_LIVE_PERSISTS = 6
# Serving sessions share one SparkSession across request threads; the
# pop/reinsert LRU mutation below is not atomic, so all registry access
# goes through this lock (r11 ADVICE).  persist()/unpersist() are lazy
# metadata calls — holding the lock across them is cheap.
_PERSISTS_LOCK = threading.Lock()


def persist_scoped(df: DataFrame) -> DataFrame:
    """Persist ``df`` through the bounded registry (see note above)."""
    # Output column NAMES are part of the key: plan canonicalization
    # normalizes aliases away, so two projections of one upstream plan
    # that differ ONLY in output names (rank_a vs rank_b over the same
    # ranking — the a==b metric-operator case) are semanticHash-equal
    # AND sameSemantics-true; keying on the hash alone substituted the
    # first frame for the second, renaming its columns (r13 regression,
    # caught by test_r13_operators_degenerate_inputs).
    h = (df.semanticHash(), tuple(df.columns))
    with _PERSISTS_LOCK:
        hit = _LIVE_PERSISTS.pop(h, None)
        if hit is not None and df.sameSemantics(hit):
            _LIVE_PERSISTS[h] = hit  # refresh LRU position
            return hit
        if hit is not None:
            # semanticHash is 32-bit: a collision between two live plans
            # must NOT substitute the wrong frame (r11 ADVICE).  Evict
            # the colliding entry (safe — re-evaluation recomputes) and
            # persist the caller's frame fresh.
            hit.unpersist()
        df = df.persist()
        _LIVE_PERSISTS[h] = df
        while len(_LIVE_PERSISTS) > _MAX_LIVE_PERSISTS:
            _LIVE_PERSISTS.pop(next(iter(_LIVE_PERSISTS))).unpersist()
        return df


# Established spelling across operator modules and the entry; kept as the
# canonical alias so call sites read unchanged.
_persist_scoped = persist_scoped


def release_persists() -> int:
    """Eagerly unpersist every registry frame; returns the count released.
    For serving sessions — and the bench between reps — that want a
    zero-footprint floor (the deferred LRU eviction already bounds
    steady state)."""
    n = 0
    with _PERSISTS_LOCK:
        while _LIVE_PERSISTS:
            _LIVE_PERSISTS.pop(next(iter(_LIVE_PERSISTS))).unpersist()
            n += 1
    return n


from . import bucketing, dedup, multimodal, similarity, skew, text  # noqa: E402

__all__ = [
    "bucketing",
    "dedup",
    "ensure_parallelism",
    "multimodal",
    "persist_scoped",
    "release_persists",
    "similarity",
    "skew",
    "text",
]
