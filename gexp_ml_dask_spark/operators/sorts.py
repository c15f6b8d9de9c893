"""Sort / top-k operators (SURVEY.md §2.6, OP-SORT-01; OP-SORT-02 is the
registered ``op_sort_02_top_k_variance`` query)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sort_by_key(df: DataFrame, key: str = "sample_id", ascending: bool = True) -> DataFrame:
    """OP-SORT-01 — ``.sort_index()`` re-alignment
    (brca_data_prep.ipynb cell-14). Range-partitioned total sort;
    only needed at export edges — engine internals never depend on
    row order."""
    col = F.col(key).asc() if ascending else F.col(key).desc()
    return df.orderBy(col)


def global_rank(
    df: DataFrame,
    key_col: str,
    tie_col: str,
    descending: bool = False,
    n_buckets: int = 16,
    out_col: str = "rank",
    total_col: str | None = None,
) -> DataFrame:
    """Exact global row_number by (key, tie) WITHOUT the
    single-partition window cliff (``Window.orderBy`` with no
    partitionBy funnels the whole table through one task — the
    classic 100 TB non-starter).

    One tiny action whose scalars are inlined as plan literals, then
    one deterministic distributed plan (the estimator-fit shape):

      1. collect ~``n_buckets`` approx-percentile boundaries of the
         key and FREEZE them as literals (the sketch is only advisory
         — boundaries shift bucket sizes, never correctness);
      2. count rows per boundary bucket IN-PLAN (an
         O(n_buckets)-row aggregate folded to a 1-row offset map and
         attached as a broadcast scalar — round 9 replaced the
         second driver action here: the suite is dispatch-bound, and
         a broadcast build inside the consumer's own action is one
         less driver round-trip and lets AQE overlap it with the
         fact-side stages);
      3. rank inside each bucket with a bucket-partitioned window and
         add the bucket's offset.

    ``total_col``: when set, the frame's total row count (== the max
    rank, already summed in the same 1-row offset row) is attached as
    an extra column FOR FREE — consumers that need ``n`` (NTILE,
    normalized ranks) would otherwise re-execute the whole ranked
    plan inside their own 1-row aggregate broadcast.

    Buckets are contiguous (key, tie)-order ranges and the bucket id
    is a pure FUNCTION of the row's values (not of physical layout or
    sampling state), so offset + local rank == global rank exactly,
    reproducibly. Ranks are 1-based, dense over the frame; ties are
    broken by ``tie_col`` (ascending) so the order is total.

    Order semantics match Spark's window defaults exactly: ascending
    puts NULL keys first and NaN last; descending puts NaN first and
    NULL last — each gets its own bucket slot. Exact-boundary key
    values get their own EQUALITY slot, sub-bucketed by tie-column
    percentiles: a heavily-tied key (every doc the same length, one
    viral value) spreads over ~n_buckets tasks instead of funneling
    the run through one window partition — the percentile sketch
    lists a heavy value as multiple boundaries, so exactly the heavy
    keys land in equality slots. ``tie_col`` should be numeric for
    the sub-split (a non-castable tie degrades to one sub-bucket,
    still exact).

    The input is persisted (MEMORY_AND_DISK) because the boundary
    action, the in-plan bucket-count branch and the returned plan
    would otherwise re-run the upstream pipeline three times; release
    is the caller's (unpersist / clearCache), the same contract as
    the dedup pair operators.

    Documented domain (cf. the Morton-code cliff): keys must be
    exactly representable as doubles (ids, counts, sizes < 2^53).
    Keys that collide after the double cast (e.g. nanosecond-epoch
    timestamps) could interleave inside an equality slot — bucket on
    a coarser derived key first."""
    import math

    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)

    s = F.col(key_col).cast("double")
    if descending:
        s = -s
    t = F.col(tie_col).cast("double")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    brow = df.select(
        F.percentile_approx(s, probs, 10_000).alias("kb"),
        F.percentile_approx(t, probs, 10_000).alias("tb"),
    ).collect()[0]

    def _clean(vals):
        return sorted(
            {
                v
                for v in (vals or [])
                if v is not None and not math.isnan(v)
            }
        )

    bounds, tbounds = _clean(brow["kb"]), _clean(brow["tb"])

    # Slot layout over the sort key s (ascending): for distinct
    # sorted bounds b_1..b_m, slot = #(s > b_i) + #(s >= b_i) — even
    # slots are open intervals, odd slots hold EXACTLY one boundary
    # value (where heavy ties live). NULL/NaN keys get the slots the
    # window's default ordering demands.
    cgt, cge = F.lit(0), F.lit(0)
    for b in bounds:
        cgt = cgt + F.when(s > F.lit(b), 1).otherwise(0)
        cge = cge + F.when(s >= F.lit(b), 1).otherwise(0)
    last_slot = 2 * len(bounds) + 2
    null_slot = F.lit(last_slot if descending else -2)
    nan_slot = F.lit(-2 if descending else last_slot)
    pid = (
        F.when(s.isNull(), null_slot)
        .when(F.isnan(s), nan_slot)
        .otherwise(cgt + cge)
    )

    # Equality slots sub-bucket by tie percentiles (all rows there
    # share ONE key value, so tie order alone decides — sub-bucketing
    # stays consistent with the global order). NULL ties fold into
    # sub 0 (tie asc puts NULLs first); NaN ties compare greater than
    # every bound (Spark NaN semantics) and land in the last sub —
    # both match the window's tie ordering.
    sub_base = F.lit(0)
    for b in tbounds:
        sub_base = sub_base + F.when(t > F.lit(b), 1).otherwise(0)
    is_eq = s.isNotNull() & ~F.isnan(s) & (cge > cgt)
    sub = F.when(is_eq, sub_base).otherwise(F.lit(0))

    k_span = len(tbounds) + 2
    tmp = df.withColumn(
        "_gr_k", (pid * F.lit(k_span) + sub).cast("long")
    )

    # Bucket counts -> exclusive running totals, all IN-PLAN: the
    # O(n_buckets^2)-row count table folds (sorted by bucket key) to
    # ONE row holding {bucket -> offset} plus the grand total, and
    # that row rides a broadcast crossJoin — the whitelisted 1-row
    # scalar-attach shape. No second driver action, no partitionless
    # window, no data-sized nested loop.
    ent = F.array_sort(
        F.collect_list(
            F.struct(F.col("_gr_k").alias("k"), F.col("_c").alias("c"))
        )
    )
    meta = (
        tmp.groupBy("_gr_k")
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(ent.alias("_e"))
        .select(
            F.map_from_arrays(
                F.transform("_e", lambda e: e["k"]),
                F.aggregate(
                    "_e",
                    F.struct(
                        F.lit(0).cast("long").alias("acc"),
                        F.array().cast("array<long>").alias("offs"),
                    ),
                    lambda st, e: F.struct(
                        (st["acc"] + e["c"]).alias("acc"),
                        F.concat(st["offs"], F.array(st["acc"])).alias(
                            "offs"
                        ),
                    ),
                    lambda st: st["offs"],
                ),
            ).alias("_gr_off"),
            F.aggregate(
                "_e", F.lit(0).cast("long"), lambda a, e: a + e["c"]
            ).alias("_gr_n"),
        )
    )
    tmp = tmp.crossJoin(F.broadcast(meta))
    off = F.coalesce(
        F.try_element_at(F.col("_gr_off"), F.col("_gr_k")), F.lit(0)
    )

    key_order = F.col(key_col).desc() if descending else F.col(key_col).asc()
    w = Window.partitionBy("_gr_k").orderBy(key_order, F.col(tie_col).asc())
    out = tmp.withColumn(
        out_col, (F.row_number().over(w) + off).cast("long")
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("_gr_n"))
    return out.drop("_gr_k", "_gr_off", "_gr_n")
