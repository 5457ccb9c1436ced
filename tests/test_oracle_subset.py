"""Value-oracle subset in the default gate: a fixed-by-rule sample of
registry keys must equal its DuckDB twin from ``oracle_sql()`` under the
harness comparator (``tests/oracle_harness.py``), at sf0.001.  The full
registry sweep stays manual: ``python tests/oracle_harness.py``.

The sample is chosen by rule, not by hand:
- the operator keys of the benchmark's ``operator_batch`` workload;
- the keys built on the shared IVF-vs-exact pairing (``RANKING_KEYS``);
- keys whose dot/norm form this change flips (``VECTOR_KERNEL_KEYS``):
  the keys whose plans carried an array-length-guarded per-element SQL
  sum before ``dot``/``norm``/``_int_dot`` became the fold alone;
- the first registry key of every prefix family with at least 5 keys
  (``ann``'s is already an operator key);
- the staticql-surface keys ``where_eq``, ``has_many_agg``, ``cursor_after``.
"""

from __future__ import annotations

import pytest
from oracle_harness import compare, duck_con

import __spark_entry__ as entry
from conftest import SF_SMOKE

OPERATOR_KEYS = [
    "ann_cosine_topk", "ann_knn_classify", "ann_label_noise", "ann_recall",
    "embedding_debias",
]
# keys built on the shared IVF-vs-exact pairing
RANKING_KEYS = ["ann_recall", "ann_rbo", "ann_mrr", "ann_ndcg", "ann_kendall_tau"]
# keys whose dot/norm form this change flips
VECTOR_KERNEL_KEYS = [
    "ann_label_noise", "ann_rnn_pairs", "embedding_mrl_recall",
    "dedup_semantic_incr", "embedding_neardup", "ann_semantic_decon",
    "ann_quantized", "ann_pq_quant_error", "embedding_top_pc",
]
SURFACE_KEYS = ["where_eq", "has_many_agg", "cursor_after"]


def _family_heads() -> list[str]:
    families: dict[str, list[str]] = {}
    for k in entry.queries():
        families.setdefault(k.split("_")[0], []).append(k)
    return [keys[0] for keys in families.values() if len(keys) >= 5]


KEYS = list(
    dict.fromkeys(
        OPERATOR_KEYS + RANKING_KEYS + VECTOR_KERNEL_KEYS + _family_heads()
        + SURFACE_KEYS
    )
)


@pytest.fixture(scope="module")
def duck():
    con = duck_con(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("key", KEYS)
def test_key_matches_duckdb_oracle(spark, duck, key):
    from staticql_spark.operators import release_persists

    try:
        got = entry.queries()[key](spark, SF_SMOKE).toPandas()
    finally:
        release_persists()
    want = duck.execute(entry.oracle_sql()[key]).fetchdf()
    problems = compare(key, got, want)
    assert not problems, problems
