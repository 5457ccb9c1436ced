"""Distributed linear-classifier training for data-quality filtering.

A 100 TB training-data pipeline filters documents with cheap learned
models (fastText-style quality classifiers, contamination detectors).
This module trains a logistic-regression-family classifier with
full-batch gradient descent expressed as pure DataFrame operations:

- per-row feature/score math is JVM codegen (no Python anywhere);
- each iteration's gradient is ONE map-side-combined aggregation whose
  shuffle carries k doubles (k = feature count), nothing else;
- the k-weight vector rides back over the corpus as a broadcast 1-row
  crossJoin — the same shape as spherical-kmeans centroid updates
  (similarity.kmeans_fit), so cost per iteration is one corpus scan.

Engine portability (the oracle contract): the link function is the
algebraic sigmoid ``p = 0.5 + 0.5 * m / (1 + |m|)`` — division/abs only,
so identical IEEE arithmetic on any engine, with none of the
transcendental-libm variance ``exp`` would import; and each iteration's
aggregated gradient is rounded to ``grad_round`` decimals as a
determinism barrier against float summation-order noise (the same
strategy as the kmeans / corr_matrix oracles). A fixed ``iters`` unrolls
into an exact DuckDB twin (__spark_entry__._logreg_sql).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import ensure_parallelism
from .text import STOPWORDS_EN, tokens

#: Latin diacritics the lang_id heuristic treats as de/fr/es evidence —
#: a single negative-evidence class for English here.
DIACRITIC_CLASS = "[äöüßÄÖÜàâçéèêëîïôûùüÿœáéíóúñ¿¡]"
CJK_CLASS = r"[\x{4e00}-\x{9fff}]"


def sigmoid_alg(m: Column) -> Column:
    """Algebraic sigmoid 0.5 + 0.5*m/(1+|m|): rational ops only, so the
    value is bit-identical across engines for identical inputs."""
    return F.lit(0.5) + F.lit(0.5) * (m / (F.lit(1.0) + F.abs(m)))


def english_surface_features(
    df: DataFrame,
    text_col: str = "text",
    label_lang: str | None = "en",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Surface features + binary label for "is this document English":
    stopword rate (positive evidence), diacritic and CJK character rates
    (negative evidence), and a bias term. Pure regex/length arithmetic,
    identical in the DuckDB twin. ``label_lang=None`` omits the label
    (scoring mode — no ``lang`` column needed, stream-safe);
    ``keep_cols`` pass ids/extra columns through."""
    c = F.col(text_col)
    n = F.length(c).cast("double")

    def chr_ratio(pattern: str) -> Column:
        kept = F.length(F.regexp_replace(c, pattern, ""))
        return F.when(n > 0, (n - kept) / n).otherwise(F.lit(0.0))

    toks = tokens(c)
    n_tokens = F.size(toks)
    stop_ratio = F.when(
        n_tokens > 0,
        F.size(F.filter(toks, lambda t: F.lower(t).isin(STOPWORDS_EN))).cast("double")
        / n_tokens,
    ).otherwise(F.lit(0.0))
    cols = [
        stop_ratio.alias("x_stop"),
        chr_ratio(DIACRITIC_CLASS).alias("x_dia"),
        chr_ratio(CJK_CLASS).alias("x_cjk"),
        F.lit(1.0).alias("x_bias"),
    ]
    if label_lang is not None:
        cols.append(
            F.when(F.col("lang") == label_lang, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y")
        )
    return df.select(*keep_cols, *cols)


def logreg_fit(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "y",
    iters: int = 2,
    lr: float = 4.0,
    grad_round: int = 9,
    out_round: int = 6,
) -> DataFrame:
    """Full-batch gradient-descent logistic regression -> (feature, weight).

    Deterministic throughout: zero init (so iteration 1's p is exactly
    0.5), total feature ordering, and per-iteration gradient rounding.
    Scale shape: per iteration, one corpus scan with a map-side-combined
    k-column avg (shuffle = k doubles) and one broadcast 1-row crossJoin
    carrying the weights back — no collect, no driver-side loop over data.
    """
    k = len(feature_cols)
    feats = ensure_parallelism(df).select(
        *[F.col(c).cast("double").alias(f"x{i}") for i, c in enumerate(feature_cols)],
        F.col(label_col).cast("double").alias("y"),
    )
    w: DataFrame | None = None
    for _ in range(iters):
        if w is None:
            joined = feats
            p = F.lit(0.5)  # zero init -> margin 0 -> exactly 0.5
        else:
            joined = feats.crossJoin(F.broadcast(w))
            m = reduce(
                lambda acc, i: acc + F.col(f"w{i}") * F.col(f"x{i}"),
                range(1, k),
                F.col("w0") * F.col("x0"),
            )
            p = sigmoid_alg(m)
        g = joined.agg(
            *[
                F.round(F.avg((p - F.col("y")) * F.col(f"x{i}")), grad_round).alias(f"g{i}")
                for i in range(k)
            ]
        )
        if w is None:
            w = g.select(
                *[(F.lit(0.0) - F.lit(lr) * F.col(f"g{i}")).alias(f"w{i}") for i in range(k)]
            )
        else:
            w = w.crossJoin(g).select(
                *[(F.col(f"w{i}") - F.lit(lr) * F.col(f"g{i}")).alias(f"w{i}") for i in range(k)]
            )
        w = w.localCheckpoint(eager=False)
    pairs = F.array(
        *[
            F.struct(
                F.lit(feature_cols[i]).alias("feature"),
                F.round(F.col(f"w{i}"), out_round).alias("weight"),
            )
            for i in range(k)
        ]
    )
    return (
        w.select(F.explode(pairs).alias("fw"))
        .select("fw.feature", "fw.weight")
        .orderBy("feature")
    )


def logreg_score(
    df: DataFrame,
    weights: DataFrame,
    feature_cols: list[str],
    out_col: str = "p",
) -> DataFrame:
    """Score rows with a trained weight table: broadcast-pivot the
    (feature, weight) rows to one row, crossJoin, and evaluate the
    algebraic sigmoid — map-only over the corpus."""
    wrow = (
        weights.groupBy()
        .pivot("feature", feature_cols)
        .agg(F.first("weight"))
        .select(*[F.col(f"`{c}`").alias(f"_w_{i}") for i, c in enumerate(feature_cols)])
    )
    joined = df.crossJoin(F.broadcast(wrow))
    m = reduce(
        lambda acc, i: acc + F.col(feature_cols[i]) * F.col(f"_w_{i}"),
        range(1, len(feature_cols)),
        F.col(feature_cols[0]) * F.col("_w_0"),
    )
    return joined.select(*df.columns, sigmoid_alg(m).alias(out_col))


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """k-NN majority-vote classification over an embedding column — the
    label-propagation step a pipeline uses to extend a small labeled seed
    set across an unlabeled corpus (and, run on held-out rows, the
    standard embedding-quality eval).

    Neighbors come from :func:`similarity.cosine_topk` (exact, rounded-
    cosine + id tiebreak, self-match excluded); the vote is majority with
    a deterministic (votes DESC, label ASC) tiebreak. Returns one row per
    query: (query_id, pred_label, votes, true_label, correct).

    Scale: inherits cosine_topk's block kernel (one broadcast query block
    against the corpus exchanged once into blocks; about k rows per query
    per block leave the kernel); the vote aggregation runs on
    |queries| × k rows, which is broadcast-sized by construction — labels
    attach via a broadcast join of that tiny pair table against the
    corpus label projection, so the corpus is never shuffled for the
    vote. Swap cosine_topk for ivf_query/lsh_topk candidates to
    make the neighbor stage sublinear; the vote tail is unchanged.
    """
    from .similarity import cosine_topk

    # neighbors= injects a precomputed (query_id, neighbor_id) candidate
    # frame — e.g. similarity.ivf_query / lsh_topk output — making the
    # neighbor stage sublinear while the vote tail stays identical.
    # Only the INTERNAL cosine_topk result is force-broadcast: it is
    # |queries| x k rows by construction.  A caller-supplied frame has no
    # such bound (many queries x large k would be force-broadcast into
    # driver OOM), so that path is left to AQE's size-based join choice.
    if neighbors is not None:
        nbrs = neighbors.select("query_id", "neighbor_id")
    else:
        nbrs = F.broadcast(
            cosine_topk(
                queries, corpus, k=k, vec_col=vec_col, id_col=id_col
            ).select("query_id", "neighbor_id")
        )
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    votes = (
        labels.join(nbrs, "neighbor_id")
        .groupBy("query_id", "__nl")
        .agg(F.count("*").alias("votes"))
    )
    # Majority pick is a true top-1, so it is ONE hash aggregate, not a
    # rank window (r14, r13 verdict #5; same argmin-as-min(struct) idiom
    # as similarity.ivf_assign's nprobe=1 path): min over (-votes, label)
    # = max votes then min label — the identical (votes DESC, label ASC)
    # tiebreak, null labels ordering first under both forms.  The window
    # form cost an extra Exchange + two sorts per call (visible in the
    # ann_knn_classify / ann_label_noise before-plans).
    pred = (
        votes.groupBy("query_id")
        .agg(
            F.min(
                F.struct((-F.col("votes")).alias("nv"), F.col("__nl"))
            ).alias("_m")
        )
        .select(
            "query_id",
            F.col("_m.__nl").alias("pred_label"),
            (-F.col("_m.nv")).alias("votes"),
        )
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return pred.join(truth, "query_id").select(
        "query_id",
        "pred_label",
        "votes",
        "true_label",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


def label_noise_report(
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """Confident-learning-lite label-noise audit (the cheap core of
    Northcutt et al. 2021): classify EVERY labeled vector by its k
    nearest neighbors in the same corpus (self-match excluded) and
    report, per label, how often the neighborhood disagrees with the
    assigned label — the shortlist a labeling team re-reviews first.

    One row per label: (label, n, n_flagged, noise_rate), noise_rate
    rounded 6.

    Scale: inherits knn_classify's shape (the exact path is cosine_topk's
    block kernel with the whole corpus as the query block, every ordered
    pair scored in numpy; pass ``neighbors=`` from ivf_query for the
    sublinear path at web scale — corpus-as-queries is exactly the case
    where you would); the audit tail is a |labels|-row aggregate.
    """
    res = knn_classify(
        corpus, corpus, k=k, vec_col=vec_col, id_col=id_col,
        label_col=label_col, neighbors=neighbors,
    )
    return res.groupBy(F.col("true_label").alias("label")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum((~F.col("correct")).cast("long")).alias("n_flagged"),
        F.round(
            F.sum((~F.col("correct")).cast("int")) / F.count("*"), 6
        ).alias("noise_rate"),
    )


def calibration_report(
    df: DataFrame,
    p_col: str = "p",
    label_col: str = "y",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram for a probabilistic classifier: bucket the
    predicted probability into ``n_bins`` fixed-width bins and compare
    each bin's mean prediction to its actual positive rate — the
    calibration audit that decides whether a quality/language filter's
    threshold means what it says (a well-calibrated 0.8 bin keeps ~80%
    true positives; a miscalibrated one silently shifts the corpus mix).

    One row per non-empty bin: (bin, n, mean_p, frac_pos, gap) with
    gap = frac_pos - mean_p (positive: model under-confident).  mean_p
    folds 6dp-rounded predictions in DECIMAL(27,6) — summation-order-
    free, the repo's exact-mean idiom — and frac_pos is an integer sum
    over the 0/1 labels, so every output is deterministic across
    partition layouts and engines.

    Scale: ONE map-side-combined aggregate over the scored frame;
    output is <= n_bins rows.

    Input contract (enforced, not assumed): rows with a NULL prediction
    or NULL label are dropped, and so are predictions < 0 — otherwise a
    null bin / negative bin row appears looking plausible while meaning
    nothing, and null labels would count in ``n`` but not in
    ``frac_pos``'s numerator (silently deflating the positive rate).
    The top end is already clamped into bin n_bins-1 by the ``least``.

    The guard lives INSIDE the grouping expression (out-of-contract rows
    get a NULL bin, dropped from the <= n_bins+1-row aggregate), NOT as
    a row filter: when ``p_col`` is an expensive derived column (the
    quality-score case), a filter on it is pushed below the projection
    and the whole derivation inlines into the Filter condition — the
    optimizer-substitution hazard this repo documents; measured +0.3 s
    on doc_calibration at sf0.1 before this form.
    """
    b = F.when(
        F.col(p_col).isNotNull()
        & F.col(label_col).isNotNull()
        & (F.col(p_col) >= 0),
        F.least(
            F.floor(F.col(p_col) * n_bins), F.lit(n_bins - 1).cast("long")
        ).cast("long"),
    )
    agg = df.groupBy(b.alias("bin")).agg(
        F.count("*").cast("long").alias("n"),
        (
            F.sum(F.round(F.col(p_col), 6).cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__mp"),
        (
            F.sum(F.col(label_col).cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("__fp"),
    )
    return agg.filter(F.col("bin").isNotNull()).select(
        "bin",
        "n",
        F.round("__mp", 6).alias("mean_p"),
        F.round("__fp", 6).alias("frac_pos"),
        F.round(F.col("__fp") - F.col("__mp"), 6).alias("gap"),
    )


def auc_score(
    scored: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    out_round: int = 6,
) -> DataFrame:
    """ROC-AUC of a scorer against binary labels, via the Mann-Whitney
    identity -> ONE row (n_pos, n_neg, auc).  The threshold-free rank
    metric calibration_report's binned view can't give: AUC is the
    probability a random positive outscores a random negative (ties at
    half credit), i.e. ``U / (P*N)`` with ``U = sum_s p_s*(negs_below_s
    + g_s/2)`` over DISTINCT score levels s.

    No global sort, no rank over raw rows: scores are quantized to 6dp
    micro-units (ties at 6dp are ties — the repo-wide rounded-compare
    rule), aggregated to one (p_s, g_s) row per distinct level, and the
    cumulative negatives-below runs as a TWO-PHASE prefix sum (the
    doc_curriculum pattern): a within-bucket window partitioned by the
    1000-unit score bucket plus a base-offset window over the |buckets|
    aggregate — never one global single-partition window.  All terms
    are exact integers (U is folded doubled so tie half-credits stay
    integral); the single division happens once at the end.

    Degenerate inputs (a single class present) have no pairable
    (pos, neg) ordering — auc is NULL.
    """
    from pyspark.sql import Window

    su = F.round(
        F.round(F.col(score_col).cast("double"), 6) * F.lit(1e6)
    ).cast("long")
    lab = F.col(label_col).cast("long")
    lvl = (
        ensure_parallelism(scored)
        .select(su.alias("su"), lab.alias("y"))
        .filter(F.col("su").isNotNull() & F.col("y").isNotNull())
        .groupBy("su")
        .agg(
            F.sum("y").cast("long").alias("p_s"),
            F.sum(F.lit(1) - F.col("y")).cast("long").alias("g_s"),
        )
        .withColumn("bucket", F.floor(F.col("su") / F.lit(1000)).cast("long"))
    )
    # lvl feeds BOTH the within-bucket window chain and the per-bucket
    # base-offset aggregate; unpinned, the whole upstream (often an
    # expensive derived scorer, e.g. quality_score's regex cascade) ran
    # once per consumer — the r13 doc_auc before plan held 2 full scan +
    # score chains.  One row per distinct 6dp score level, bounded.
    from . import _persist_scoped

    lvl = _persist_scoped(lvl)
    win_in = (
        Window.partitionBy("bucket")
        .orderBy("su")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lvl = lvl.withColumn("neg_in", F.coalesce(F.sum("g_s").over(win_in), F.lit(0)))
    tot = lvl.groupBy("bucket").agg(F.sum("g_s").alias("bg"))
    win_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    base = tot.withColumn("neg_base", F.coalesce(F.sum("bg").over(win_b), F.lit(0))).select(
        "bucket", "neg_base"
    )
    j = lvl.join(base, "bucket")
    neg_below = F.col("neg_base") + F.col("neg_in")
    u2 = F.lit(2) * F.col("p_s") * neg_below + F.col("p_s") * F.col("g_s")
    agg = j.agg(
        F.sum("p_s").cast("long").alias("n_pos"),
        F.sum("g_s").cast("long").alias("n_neg"),
        F.sum(u2).cast("long").alias("u2"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.round(
            F.col("u2").cast("double")
            / (F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
            out_round,
        ),
    )
    return agg.select("n_pos", "n_neg", auc.alias("auc"))
