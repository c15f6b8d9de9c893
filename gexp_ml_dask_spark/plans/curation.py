"""End-to-end document curation plan (SURVEY.md §2.11, [mandate]).

The LLM-data-pipeline operators composed the way a training-corpus
build actually runs them — exact dedup, then quality gating, then
mixture sampling — as ONE lazy DataFrame plan. Catalyst fuses the
quality scalars into the post-dedup projection and the mixture
filter under the broadcast join, so the fact table is shuffled
exactly once (the dedup window) end-to-end.

The plans and the funnel take every rule from the operator modules
rather than restating it: the PII scrub (``text.pii_scrubbed``), the
repetition ratio (``text.repetition_ratio``), the keep-first rank
(``dedup.keep_first_rank``), the decontamination grams
(``dedup.contamination_hits``) and the mixture rate table
(``mixture.rate_table``). The eval/train split is
:func:`_eval_train_split`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from gexp_ml_dask_spark.llm.dedup import (
    contamination_hits,
    exact_dedup,
    keep_first_rank,
)
from gexp_ml_dask_spark.llm.mixture import RESOLUTION, rate_table, sample_mixture
from gexp_ml_dask_spark.llm.text import (
    bigram_lm_scores,
    pii_scrubbed,
    quality_expr,
    repetition_ratio,
)


def _eval_train_split(
    docs: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(eval, train): the held-out decontamination set is every
    document whose id is a multiple of 20, the training set the rest."""
    held_out = F.col(id_col) % 20 == 0
    return docs.filter(held_out), docs.filter(~held_out)


def curate_documents(
    docs: DataFrame,
    weights: dict[str, float],
    min_quality: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    seed: int = 42,
) -> DataFrame:
    """documents -> deduped, quality-gated, mixture-sampled corpus:
    (doc_id, source, quality) for every surviving document.

    Stage order matters at scale: dedup first (a duplicate-heavy
    crawl shrinks before any scoring work), quality second (pure
    column folds over the survivors), sampling last (so mixture
    rates apply to the CLEAN distribution, the standard curation
    contract).
    """
    deduped = exact_dedup(docs, id_col, text_col)
    # quality is a plain column expression — inlined, NOT a
    # text_stats self-join (which would re-shuffle the fact table
    # on doc_id and evaluate the dedup window twice)
    gated = (
        deduped.withColumn("quality", F.round(quality_expr(text_col), 6))
        .filter(F.col("quality") >= min_quality)
        .select(id_col, source_col, "quality")
    )
    return sample_mixture(gated, weights, source_col, id_col, seed)


def curate_documents_full(
    docs: DataFrame,
    weights: dict[str, float],
    min_quality: float = 0.5,
    min_fluency: float = -3.43,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    seed: int = 42,
) -> DataFrame:
    """The extended curation plan: PII scrub -> exact dedup (on the
    SCRUBBED text, so docs differing only in masked PII collapse) ->
    heuristic quality gate + model-based FLUENCY gate (bigram-LM
    mean log-prob, fitted on the deduped survivors) -> mixture
    sample. Output: (doc_id, source, quality, avg_logp).

    Cost shape, stated honestly: the basic :func:`curate_documents`
    shuffles the fact table once (the dedup window); the fluency
    gate adds the bigram-model passes — the exploded-bigram
    aggregates and the per-doc score join are fact-shaped, so this
    plan is ~3 fact shuffles. At 100 TB you fit the LM stage on a
    sample (or reuse a frozen model table) and broadcast it; here it
    is fitted exactly so the DuckDB oracle can replay the whole plan
    row-for-row.
    """
    scrubbed = docs.withColumn(text_col, pii_scrubbed(text_col))
    # The deduped corpus feeds the LM fit AND the gate projection;
    # without a persist each consumer re-runs the scrub + dedup
    # window (measured 2x the whole composite at sf0.1).
    deduped = exact_dedup(scrubbed, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pre_gated = deduped.withColumn(
        "quality", F.round(quality_expr(text_col), 6)
    ).filter(F.col("quality") >= min_quality)
    # model fitted on all deduped survivors; scoring runs only over
    # the quality-gated rows the inner join keeps (round 9 —
    # output-identical, see curate_documents_max)
    scores = bigram_lm_scores(
        deduped, id_col, text_col, score_docs=pre_gated
    )
    gated = (
        pre_gated.join(scores.select(id_col, "avg_logp"), id_col)
        .filter(F.col("avg_logp") >= min_fluency)
        .select(id_col, source_col, "quality", "avg_logp")
    )
    return sample_mixture(gated, weights, source_col, id_col, seed)


def curate_documents_max(
    docs: DataFrame,
    weights: dict[str, float],
    min_quality: float = 0.5,
    min_fluency: float = -3.43,
    max_repetition: float = 0.2,
    decontam_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    seed: int = 42,
) -> DataFrame:
    """The maximal curation plan — every corpus signal in one lazy
    chain: PII scrub (all docs) -> eval/train split (doc_id % 20) ->
    exact dedup of train on scrubbed text -> within-doc repetition
    gate (row-local 3-gram folds, free) -> heuristic quality gate ->
    bigram-LM fluency gate (fitted on the deduped train survivors) ->
    n-gram DECONTAMINATION against the eval split (broadcast
    distinct-gram probe over the deduped docs) -> mixture sample.

    Output: (doc_id, source, quality, avg_logp, rep_ratio) for every
    surviving training document. Cost shape: the dedup window + the
    bigram-LM passes are the fact shuffles (as in
    :func:`curate_documents_full`); repetition is inlined into the
    gate projection and the decontamination probe broadcasts the
    eval gram table, so neither adds a fact shuffle.
    """
    scrubbed = docs.withColumn(text_col, pii_scrubbed(text_col))
    eval_docs, train = _eval_train_split(scrubbed, id_col)

    # Three consumers (LM fit, gates, decontamination grams) read the
    # deduped corpus; persisting it stops each from re-running the
    # scrub + dedup window (measured 8.3 s -> 3.9 s at sf0.1).
    deduped = exact_dedup(train, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    rep = F.coalesce(repetition_ratio(text_col, 3), F.lit(0.0))

    # hits-only probe: the anti-join needs just the contaminated ids;
    # the full decontaminate() operator would left-join every deduped
    # id back in only for the filter to drop the zero-hit rows again
    # (one node-sized shuffle per run saved — round 9)
    contaminated = contamination_hits(
        deduped, eval_docs, decontam_n, id_col, text_col
    ).select(id_col)

    pre_gated = (
        deduped.withColumn("quality", F.round(quality_expr(text_col), 6))
        .withColumn("rep_ratio", F.round(rep, 6))
        .filter(
            (F.col("quality") >= min_quality)
            & (F.col("rep_ratio") <= max_repetition)
        )
    )
    # model fitted on the FULL deduped corpus; the per-doc scoring
    # pass (the heavy explode + probe + agg) runs only over the
    # quality/rep-gated survivors — the inner join below would drop
    # the rest anyway, so the output is identical row-for-row and the
    # fact-side scoring work shrinks to the gates' selectivity
    # (round 9)
    scores = bigram_lm_scores(
        deduped, id_col, text_col, score_docs=pre_gated
    )

    gated = (
        pre_gated.join(scores.select(id_col, "avg_logp"), id_col)
        .filter(F.col("avg_logp") >= min_fluency)
        .join(F.broadcast(contaminated), id_col, "left_anti")
        .select(id_col, source_col, "quality", "avg_logp", "rep_ratio")
    )
    return sample_mixture(gated, weights, source_col, id_col, seed)


def curation_funnel(
    docs: DataFrame,
    weights: dict[str, float],
    min_quality: float = 0.5,
    min_fluency: float = -3.43,
    max_repetition: float = 0.2,
    decontam_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    seed: int = 42,
) -> DataFrame:
    """Retention funnel for :func:`curate_documents_max` — the
    observability report every production curation run ships with:
    attribute EVERY document to its first eliminating stage, in
    pipeline order, and count per stage. Stage ranks:

      1 eval_holdout     doc_id % 20 == 0 (the decontamination set)
      2 exact_dup        not the keep-first of its sha256 group
      3 repetition       rep_ratio > max_repetition
      4 quality          quality < min_quality
      5 fluency          no bigrams, or avg_logp < min_fluency (the
                         max plan's inner score join drops both)
      6 decontaminated   shares an n-gram with the eval split
      7 mixture_drop     source unweighted, or hash-bucket >= rate
      8 kept             survives everything

    The per-stage counts sum to the corpus size, and stage-8 count
    equals ``curate_documents_max``'s output row count (pinned in
    tests). Same cost shape as the max plan — the dedup window and
    the LM passes are the fact shuffles; stage attribution is one
    projection over flags the plan already computes.
    """
    from gexp_ml_dask_spark.ml.pipeline import hash_bucket

    scrubbed = docs.withColumn(text_col, pii_scrubbed(text_col))
    eval_docs, train = _eval_train_split(scrubbed, id_col)

    flagged = train.withColumn("_rn", keep_first_rank(id_col, text_col))
    deduped = flagged.filter(F.col("_rn") == 1).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    scores = bigram_lm_scores(deduped, id_col, text_col).select(
        id_col, "avg_logp"
    )
    contaminated = contamination_hits(
        deduped, eval_docs, decontam_n, id_col, text_col
    ).select(F.col(id_col), F.lit(True).alias("_cont"))

    rep = F.coalesce(repetition_ratio(text_col, 3), F.lit(0.0))
    wdf = rate_table(docs.sparkSession, weights, source_col)
    staged = (
        flagged.withColumn("_q", F.round(quality_expr(text_col), 6))
        .withColumn("_rep", F.round(rep, 6))
        .join(scores, id_col, "left")
        .join(F.broadcast(contaminated), id_col, "left")
        .join(F.broadcast(wdf), source_col, "left")
        .withColumn(
            "_mix_keep", hash_bucket(id_col, seed, RESOLUTION) < F.col("_cut")
        )
    )
    rank_col = (
        F.when(F.col("_rn") != 1, 2)
        .when(F.col("_rep") > max_repetition, 3)
        .when(F.col("_q") < min_quality, 4)
        .when(
            F.col("avg_logp").isNull() | (F.col("avg_logp") < min_fluency), 5
        )
        .when(F.col("_cont"), 6)
        .when(F.col("_cut").isNull() | ~F.col("_mix_keep"), 7)
        .otherwise(8)
    )
    ranks = eval_docs.select(
        F.lit(1).cast("long").alias("stage_rank")
    ).unionByName(staged.select(rank_col.cast("long").alias("stage_rank")))
    names = [
        (1, "eval_holdout"), (2, "exact_dup"), (3, "repetition"),
        (4, "quality"), (5, "fluency"), (6, "decontaminated"),
        (7, "mixture_drop"), (8, "kept"),
    ]
    name_map = F.create_map(
        *[F.lit(v) for pair in names for v in pair]
    )
    return (
        ranks.groupBy("stage_rank")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("stage", name_map[F.col("stage_rank")])
        .select("stage_rank", "stage", "n_docs")
    )


def ingest_increment(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Incremental corpus ingestion — the continual-crawl admission
    step a production pipeline runs per arriving batch: admit only
    the batch documents that are (a) the FIRST copy within the batch
    (min id per content hash) and (b) UNSEEN in the existing corpus
    (hash anti-join). Returns (doc_id, source, text_hash) for every
    admitted document.

    Plan shape at 100 TB: both sides reduce to sha256 content hashes;
    the batch keep-first groupBy and the corpus anti-join share the
    text_hash shuffle key, so Catalyst reuses the exchange, and the
    corpus side collapses to DISTINCT hashes before the join — the
    smallest possible probe side, with no static broadcast hint (the
    corpus scales with the data; AQE picks broadcast-hash only while
    the distinct-hash side actually fits).

    Content-semantics contract (round-7 edge sweep): a NULL-text doc
    has no content hash, so it is inadmissible by definition — and
    before this filter its NULL hash silently fell out of the final
    equi-join on one engine while the other admitted it."""
    batch = batch.filter(F.col(text_col).isNotNull())
    bh = batch.select(
        F.col(id_col),
        F.col(source_col),
        F.sha2(F.col(text_col), 256).alias("text_hash"),
    )
    keep = bh.groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    seen = corpus.select(
        F.sha2(F.col(text_col), 256).alias("text_hash")
    ).distinct()
    admitted = keep.join(seen, "text_hash", "left_anti")
    return admitted.join(bh, [id_col, "text_hash"]).select(
        id_col, source_col, "text_hash"
    )
