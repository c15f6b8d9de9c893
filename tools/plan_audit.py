"""Registry-wide physical-plan audit for 100 TB anti-patterns.

Builds (does not drain) every registered query's plan at sf0.001 and
flags BroadcastNestedLoopJoin / CartesianProduct / BatchEvalPython.
tests/test_plans.py pins the shape of the headline queries; this
sweeps the WHOLE registry so a new registration can't quietly ship a
nested-loop join.

Known-benign whitelist (last full audit 2026-08-15, flagged 12/191,
all by inspection legitimate):

* scalar broadcasts (1-row side, the standard scalar-join shape):
  op_ml_02_tmm (global ref_total), op_fil_02_stat_threshold_genes
  (global mean/var thresholds), op_llm_04_bm25 (global avgdl),
  op_llm_03_series_similarity (one broadcast query series),
  op_ml_10_confusion (global row total);
* bounded-query-batch kNN, queries-side broadcast BY DESIGN (the
  cross product IS the brute scorer; the scale path is the LSH/IVF
  twin): op_llm_03_knn_bruteforce, op_llm_03_knn_ivf (probe scoring);
* explicit oracle-scale brute twin: op_llm_02_embedding_neardup
  (method='brute'; production default is the LSH-blocked
  op_llm_02_embedding_neardup_lsh, plan-pinned hash join).

Exit code 1 if any query OUTSIDE the whitelist is flagged.
"""

from __future__ import annotations

import os
import sys

BAD = ["BroadcastNestedLoopJoin", "CartesianProduct", "BatchEvalPython"]

WHITELIST = {
    "op_ml_02_tmm": {"BroadcastNestedLoopJoin"},
    # same tmm_factors derivation as op_ml_02_tmm (the round-6
    # raw-threshold reference-parity twin, trim_quantize=None): the
    # flag is the identical 1-row global ref_total scalar attach
    "op_ml_02_tmm_raw": {"BroadcastNestedLoopJoin"},
    "op_fil_02_stat_threshold_genes": {"BroadcastNestedLoopJoin"},
    "op_llm_04_bm25": {"BroadcastNestedLoopJoin"},
    "op_llm_03_series_similarity": {"BroadcastNestedLoopJoin"},
    "op_ml_10_confusion": {"BroadcastNestedLoopJoin"},
    # 1-row n_nodes aggregate crossJoined onto the node table (the
    # lazy replacement for an eager count() action) — scalar shape,
    # never data-sized; the edge/contribution joins are hash joins
    # (pinned in tests/test_plans.py::test_pagerank_no_cartesian_no_python)
    "op_llm_02_pagerank": {"BroadcastNestedLoopJoin"},
    # NB quality model scalars (token totals + vocab size, doc-count
    # priors) are 1-row aggregates crossJoined on — the same lazy
    # scalar shape; the token-scoring join is a keyed hash join
    "op_llm_04_nb_quality": {"BroadcastNestedLoopJoin"},
    "op_llm_03_knn_bruteforce": {"BroadcastNestedLoopJoin"},
    # same scorer as knn_bruteforce (broadcast query set x candidates)
    # behind the metadata pre-filter semi-join
    "op_llm_03_knn_filtered": {"BroadcastNestedLoopJoin"},
    "op_llm_03_knn_ivf": {"BroadcastNestedLoopJoin"},
    "op_llm_02_embedding_neardup": {"BroadcastNestedLoopJoin"},
    # round-9: global_rank attaches its 1-row offset-map/total row by
    # broadcast crossJoin (the in-plan replacement for its second
    # driver action) — every global_rank consumer carries the scalar
    # BNLJ shape now (build side is always the 1-row fold of the
    # O(n_buckets^2)-row bucket-count aggregate, never data-sized)
    "op_ml_10_auc": {"BroadcastNestedLoopJoin"},
    "op_ml_10_calibration": {"BroadcastNestedLoopJoin"},
    "op_llm_07_balanced_shards": {"BroadcastNestedLoopJoin"},
    # round-9: corpus-N 1-row scalar attach onto the vocab-sized idf
    # table (the lazy replacement for tfidf's eager n_docs collect)
    "op_llm_04_tfidf": {"BroadcastNestedLoopJoin"},
}


# Queries allowed to keep a partitionless (single-partition) Window:
# every entry must be DIM-bounded input by documented contract, never
# the data-scaled fact table. Everything else flags — the round-8
# audit removed the bare windows from coexpression/spearman top-k
# (TakeOrderedAndProject), label encoding / file ids / dense vocab /
# kmeans seeds (driver-sorted broadcast dims), AUC/calibration
# (distributed global_rank).
WINDOW_WHITELIST: dict[str, str] = {}


def _windows_no_partition(jdf) -> list[str]:
    """Exact partitionless-WindowExec detector: walks the physical
    plan via py4j and asks each Window node for partitionSpec()
    instead of parsing toString (2-bracket-group lines are ambiguous
    between [order-only] and [partition-only] specs)."""
    plan = jdf.queryExecution().executedPlan()
    out: list[str] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls.startswith("AdaptiveSparkPlan"):
            walk(node.initialPlan())
            return
        if "Window" in cls and hasattr(node, "partitionSpec"):
            try:
                if node.partitionSpec().isEmpty():
                    out.append(cls)
            except Exception:
                pass
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    return out


def main() -> int:
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from gexp_ml_dask_spark.queries import QUERIES
    from gexp_ml_dask_spark.session import get_spark

    spark = get_spark(
        app_name="plan_audit", master="local[4]", shuffle_partitions=8
    )
    sf = os.environ.get("AUDIT_SF_DIR", "/root/testdata/sf0.001")
    bad_new: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        try:
            jdf = fn(spark, sf)._jdf
            p = jdf.queryExecution().executedPlan().toString()
            no_part = _windows_no_partition(jdf)
        except Exception as ex:  # surface crashes too
            bad_new[name] = [f"ERR {type(ex).__name__}: {str(ex)[:100]}"]
            continue
        found = {b for b in BAD if b in p}
        extra = sorted(found - WHITELIST.get(name, set()))
        if no_part and name not in WINDOW_WHITELIST:
            extra.append(f"PartitionlessWindow x{len(no_part)}")
        if extra:
            bad_new[name] = extra
    for k, v in sorted(bad_new.items()):
        print("FLAG", k, v)
    print(f"audited {len(QUERIES)}, new flags {len(bad_new)}")
    spark.stop()
    return 1 if bad_new else 0


if __name__ == "__main__":
    sys.exit(main())
