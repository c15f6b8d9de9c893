#!/usr/bin/env python
"""Blocked-oracle decade verification for the quadratic-oracle
op_llm_02 family — the one query family every decade sweep so far
had to exclude (BASELINE.md §Round-6/7: their DuckDB twins are
all-pairs/recursive-CTE, hours-long at sf1 and impossible at sf10).

The decade fixtures make the exclusion unnecessary: every scaled
fixture is COPIES mutually text-disjoint perturbed copies of the
source corpus (tools/make_scaled_sf.py), each copy owning one
doc_id block of width ``stride`` (10^len(str(max sf0.1 doc_id)) =
10,000).  For any operator whose output is a function of WITHIN-PAIR
or WITHIN-COMPONENT data only, the full-corpus result therefore
decomposes exactly into per-block results — and the per-block oracle
runs at sf0.1 cost, turning one impossible sf10 oracle into 100
routine ones (the quadratic term is 100x cheaper when split into
100 blocks: sum of 100 * (n/100)^2 = n^2/100).

The decomposition is never ASSUMED — it is proved engine-side per
run, and a violated guard excludes the query loudly:

  pair     output rows carry (id_a, id_b): guard = COUNT of engine
           rows whose endpoints straddle blocks must be 0.  Valid
           because pair similarity (jaccard / containment / cosine /
           minhash est / banded candidacy) is a function of the two
           documents alone — other blocks can only ADD pairs, never
           change a within-block pair's value.
  graph    clusters / kept-docs / communities / triangle count over
           the ngram-jaccard pair graph: guard = the pair guard on
           the ENGINE's own edge set (zero cross-block edges means
           components, labels = min(doc_id), and triangles all stay
           inside blocks).
  census-N per-doc outputs that depend on corpus-wide n-gram
           document frequencies (dup-span signal/removal at n=5,
           decontamination at n=3): guard = a corpus census proving
           NO token n-gram occurs in more than one block (stronger
           than needed, cheap: one explode + groupBy + count).
  hashgrp  simhash identical-signature groups: guard = no 32-bit
           signature value spans two blocks (birthday collisions
           across 500k docs make this EXPECTED to fail at sf10 —
           the tool then reports the measured collision count and
           excludes the query honestly instead of comparing).

Structurally non-decomposable queries are excluded with recorded
reasons (pagerank's teleport term divides by the GLOBAL node count;
the embedding family's fixture copies vectors UNPERTURBED, so
cross-block cosine==1 twins dominate any decade output).

Usage::

    python tools/blocked_oracle.py --sf-dir /root/repo/.scratch/sf1 \
        --driver-memory 24g --duck-mem 4GB --workers 8
    python tools/blocked_oracle.py --sf-dir /root/repo/.scratch/sf10 \
        --driver-memory 64g --duck-mem 2GB --workers 12 \
        --queries op_llm_02_ngram_jaccard,op_llm_02_dup_clusters

Prints one JSON line per query plus a summary; exit 1 on any fail.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ProcessPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle_sweep import TABLES, _duck_digest  # noqa: E402

# name -> (kind, block-key column)
TARGETS = {
    "op_llm_02_ngram_jaccard": ("pair", "id_a"),
    "op_llm_02_ngram_jaccard_prefix": ("pair", "id_a"),
    "op_llm_02_containment": ("pair", "id_a"),
    "op_llm_02_containment_prefix": ("pair", "id_a"),
    "op_llm_02_tf_cosine": ("pair", "id_a"),
    "op_llm_02_tf_cosine_prefix": ("pair", "id_a"),
    "op_llm_02_minhash_md5": ("pair", "id_a"),
    "op_llm_02_simhash_neardup": ("pair", "id_a"),
    "op_llm_02_simhash": ("hashgrp", "keep_id"),
    "op_llm_02_dup_clusters": ("graph", "doc_id"),
    "op_llm_02_neardup_dedup": ("graph", "doc_id"),
    "op_llm_02_communities": ("graph", "node"),
    "op_llm_02_triangles": ("graph_scalar", None),
    "op_llm_02_dup_ngram_spans": ("census5", "doc_id"),
    "op_llm_02_remove_dup_spans": ("census5", "doc_id"),
    "op_llm_02_decontaminate": ("census3", "doc_id"),
}

EXCLUDED = {
    "op_llm_02_pagerank": (
        "teleport term is (1-d)/N over the GLOBAL node count — a "
        "per-block oracle computes a different constant; not "
        "block-decomposable by construction"
    ),
    "op_llm_02_embedding_neardup": (
        "decade fixtures copy embedding VECTORS unperturbed "
        "(make_scaled_sf.py shifts vec_id only), so every vector has "
        "an exact cosine==1 twin in each copy: cross-block pairs are "
        "a fixture artifact that dominates any decade output"
    ),
    "op_llm_02_embedding_neardup_lsh": "same embedding-fixture artifact",
    "op_llm_02_semantic_dedup": "same embedding-fixture artifact",
    "op_llm_02_minhash_lsh": "rows-only by declared design (no oracle)",
}


def _table_path(sf_dir: str, t: str) -> str:
    # driver testdata = single files; tools/make_scaled_sf.py output =
    # Spark directory-of-parts — glob the latter (the round-6 layout
    # lesson, streaming/windows.py open_table_stream)
    p = f"{sf_dir}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def _grouped_spark_digest(df, block_col):
    """Per-block variant of oracle_sweep._spark_digest: same canonical
    rendering and md5-prefix sum, grouped by the block key instead of
    reduced to one row. Returns {block: {col: sum, "__n": count}}."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in df.schema.fields:
        if f.name == "__b":
            continue
        col = F.col(f.name)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType, T.DecimalType)):
            d = col.cast("double")
            canon = (
                F.when(col.isNull(), F.lit("~null~"))
                .when(F.isnan(d), F.lit("nan"))
                .when(d == float("inf"), F.lit("inf"))
                .when(d == float("-inf"), F.lit("-inf"))
                .otherwise(
                    F.format_string("%.6f", F.round(d, 6) + F.lit(0.0))
                )
            )
        else:
            canon = F.when(col.isNull(), F.lit("~null~")).otherwise(
                col.cast("string")
            )
        h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
        aggs.append(F.sum(h).alias(f.name))
    rows = df.groupBy(block_col).agg(*aggs).collect()
    return {int(r[block_col]): {k: r[k] for k in r.asDict() if k != block_col}
            for r in rows}


def _census_cross_block_grams(spark, sf_dir: str, n: int, div: int) -> int:
    """Count distinct token n-grams that occur in more than one
    doc_id block — the decomposability proof for corpus-DF-dependent
    operators. Uses ALL positional n-grams (a superset of any
    operator's gram set, so zero here is a strictly stronger guard)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(_table_path(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    npos = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = docs.select(
        F.floor(F.col("doc_id") / div).alias("__b"),
        F.explode(
            F.array_distinct(
                F.when(
                    npos > 0,
                    F.transform(
                        F.sequence(F.lit(1), npos),
                        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("g"),
    ).distinct()
    return (
        grams.groupBy("g")
        .agg(F.countDistinct("__b").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )


def _oracle_block(job):
    """Worker: run one query's oracle on ONE doc_id block and digest
    it. Own DuckDB connection per process; documents is the filtered
    view, every other table full (the target oracles only read
    documents, but registering the rest keeps the view env uniform
    with oracle_sweep)."""
    sf_dir, div, block, sql, duck_mem = job
    import duckdb

    con = duckdb.connect()
    if duck_mem:
        con.execute(f"SET memory_limit='{duck_mem}'")
        con.execute(
            f"SET temp_directory='/tmp/duckdb_spill.{os.getpid()}'"
        )
    for t in TABLES:
        p = _table_path(sf_dir, t)
        if t == "documents":
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{p}' "
                f"WHERE CAST(floor(doc_id / {div}) AS BIGINT) = {block}"
            )
        else:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    try:
        return block, _duck_digest(con, sql), None
    except Exception as e:  # surfaced per-block in the report
        return block, None, f"{type(e).__name__}: {e}"
    finally:
        con.close()
        # DuckDB leaves the temp dir behind on abnormal exit; with a
        # fresh worker pool per query the orphans accumulate until
        # /tmp ENOSPC kills a later query's spill (observed: the
        # all-pairs tf-cosine oracle at sf1)
        import shutil

        shutil.rmtree(
            f"/tmp/duckdb_spill.{os.getpid()}", ignore_errors=True
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--block-div", type=int, default=10_000)
    ap.add_argument("--queries", default=None, help="comma-separated")
    ap.add_argument("--workers", type=int, default=8)
    ap.add_argument("--driver-memory", default=None)
    ap.add_argument(
        "--duck-mem",
        default="2GB",
        help="per-WORKER DuckDB memory_limit (workers run in "
        "parallel; size so workers * duck_mem fits beside the JVM)",
    )
    ap.add_argument(
        "--blocks",
        type=int,
        default=None,
        help="only the first N blocks (cost probe; marked partial)",
    )
    ap.add_argument("--out", default=None, help="write full JSON here")
    args = ap.parse_args()

    names = list(TARGETS)
    if args.queries:
        req = args.queries.split(",")
        unknown = [q for q in req if q not in TARGETS and q not in EXCLUDED]
        if unknown:
            print(f"unknown/unsupported queries: {unknown}", file=sys.stderr)
            print(f"supported: {sorted(TARGETS)}", file=sys.stderr)
            return 2
        names = [q for q in req if q in TARGETS]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    b = SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    ).appName("blocked_oracle")
    if args.driver_memory:
        b = b.config("spark.driver.memory", args.driver_memory)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    queries, oracles = entry.queries(), entry.oracle_sql()
    div = args.block_div
    sf_dir = args.sf_dir

    blocks = [
        int(r[0])
        for r in spark.read.parquet(_table_path(sf_dir, "documents"))
        .select(F.floor(F.col("doc_id") / div).alias("b"))
        .distinct()
        .orderBy("b")
        .collect()
    ]
    if args.blocks:
        blocks = blocks[: args.blocks]
        print(f"PARTIAL run: first {len(blocks)} blocks only")
    print(f"{len(blocks)} doc_id blocks of width {div} at {sf_dir}")

    # --- engine-side guards shared across queries -------------------
    censuses: dict[int, int] = {}
    need_census = {
        int(TARGETS[n][0][-1]) for n in names if TARGETS[n][0].startswith("census")
    }
    for cn in sorted(need_census):
        t0 = time.time()
        censuses[cn] = _census_cross_block_grams(spark, sf_dir, cn, div)
        print(
            f"census n={cn}: {censuses[cn]} cross-block grams "
            f"({time.time() - t0:.1f}s)"
        )

    graph_edge_guard: int | None = None
    # strategy twins (tf_cosine auto/inverted/prefix, jaccard and
    # containment +_prefix) share ONE oracle SQL — computing the
    # per-block oracle digests once per distinct SQL instead of once
    # per query cuts the heaviest (quadratic) oracle work 3x
    oracle_cache: dict[str, dict[int, dict]] = {}
    results = []
    fails = []

    for name in names:
        kind, keycol = TARGETS[name]
        rec = {"name": name, "kind": kind, "blocks": len(blocks)}
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)

            if kind == "pair" or kind == "graph" or kind == "graph_scalar":
                # graph kinds share the ngram-jaccard edge set; prove
                # zero cross-block edges once on the engine's own pairs
                if kind != "pair" and graph_edge_guard is None:
                    edges = queries["op_llm_02_ngram_jaccard"](spark, sf_dir)
                    graph_edge_guard = edges.filter(
                        F.floor(F.col("id_a") / div)
                        != F.floor(F.col("id_b") / div)
                    ).count()
                    print(f"graph edge guard: {graph_edge_guard} cross-block edges")

            if kind == "pair":
                df = df.persist()
                viol = df.filter(
                    F.floor(F.col("id_a") / div) != F.floor(F.col("id_b") / div)
                ).count()
                rec["cross_block"] = viol
                if viol:
                    rec["skipped"] = (
                        f"engine emitted {viol} cross-block pairs — "
                        "not block-decomposable on this fixture"
                    )
                    df.unpersist()
                    results.append(rec)
                    print(json.dumps(rec))
                    continue
            elif kind in ("graph", "graph_scalar"):
                rec["cross_block_edges"] = graph_edge_guard
                if graph_edge_guard:
                    rec["skipped"] = (
                        f"{graph_edge_guard} cross-block jaccard edges — "
                        "graph does not decompose on this fixture"
                    )
                    results.append(rec)
                    print(json.dumps(rec))
                    continue
            elif kind == "hashgrp":
                from gexp_ml_dask_spark.llm.dedup import simhash_signatures

                docs = spark.read.parquet(_table_path(sf_dir, "documents"))
                sigs = simhash_signatures(docs, hasher="md5_32")
                viol = (
                    sigs.groupBy("simhash")
                    .agg(
                        F.countDistinct(
                            F.floor(F.col("doc_id") / div)
                        ).alias("nb")
                    )
                    .filter(F.col("nb") > 1)
                    .count()
                )
                rec["cross_block_signatures"] = viol
                if viol:
                    rec["skipped"] = (
                        f"{viol} simhash values span blocks (expected "
                        "32-bit birthday collisions at this corpus "
                        "size) — identical-signature groups merge "
                        "across blocks; not decomposable here"
                    )
                    results.append(rec)
                    print(json.dumps(rec))
                    continue
            elif kind.startswith("census"):
                cn = int(kind[-1])
                rec["cross_block_grams"] = censuses[cn]
                if censuses[cn]:
                    rec["skipped"] = (
                        f"{censuses[cn]} {cn}-grams occur in >1 block — "
                        "corpus-DF-dependent output does not decompose "
                        "on this fixture"
                    )
                    results.append(rec)
                    print(json.dumps(rec))
                    continue

            # --- engine per-block digests (one grouped pass) --------
            if kind == "graph_scalar":
                engine_val = df.collect()[0][0]
                rec["engine_triangles"] = int(engine_val)
            else:
                dfb = df.withColumn(
                    "__b", F.floor(F.col(keycol) / div).cast("long")
                )
                eng = _grouped_spark_digest(dfb, "__b")
                if kind == "pair":
                    df.unpersist()
            rec["engine_s"] = round(time.time() - t0, 1)

            # --- oracle per block, parallel workers ------------------
            t1 = time.time()
            sql = oracles[name]
            if kind == "graph_scalar":
                # digests of 1-row counts don't add across blocks;
                # collect the raw per-block scalar and compare the SUM
                # to the engine's global count instead.
                import duckdb

                total = 0
                for blk in blocks:
                    con = duckdb.connect()
                    for t in TABLES:
                        p = _table_path(sf_dir, t)
                        if t == "documents":
                            con.execute(
                                f"CREATE VIEW {t} AS SELECT * FROM '{p}' "
                                f"WHERE CAST(floor(doc_id / {div}) AS BIGINT)"
                                f" = {blk}"
                            )
                        else:
                            con.execute(
                                f"CREATE VIEW {t} AS SELECT * FROM '{p}'"
                            )
                    total += int(con.execute(sql).fetchall()[0][0])
                    con.close()
                rec["oracle_triangles"] = total
                rec["oracle_s"] = round(time.time() - t1, 1)
                ok = total == rec["engine_triangles"]
            else:
                if sql in oracle_cache:
                    oracle = oracle_cache[sql]
                    errs: dict[int, str] = {}
                    rec["oracle_cached"] = True
                else:
                    jobs = [
                        (sf_dir, div, blk, sql, args.duck_mem)
                        for blk in blocks
                    ]
                    oracle = {}
                    errs = {}
                    with ProcessPoolExecutor(
                        max_workers=args.workers
                    ) as ex:
                        for blk, dig, err in ex.map(_oracle_block, jobs):
                            if err:
                                errs[blk] = err
                            else:
                                oracle[blk] = dig
                    if not errs:
                        oracle_cache[sql] = oracle
                rec["oracle_s"] = round(time.time() - t1, 1)
                if errs:
                    rec["oracle_errors"] = {
                        str(k): v for k, v in list(errs.items())[:3]
                    }
                    fails.append(name)
                    rec["ok"] = False
                    results.append(rec)
                    print(json.dumps(rec))
                    continue
                bad = []
                for blk in blocks:
                    e = eng.get(blk, {"__n": 0})
                    w = oracle.get(blk)
                    # blocks where the engine emitted nothing must be
                    # empty oracle-side too (None sums on 0 rows)
                    if w is None:
                        bad.append(blk)
                        continue
                    if e.get("__n", 0) == 0 and w.get("__n", 0) == 0:
                        continue
                    if e != w:
                        bad.append(blk)
                # engine blocks the oracle never produced
                for blk in eng:
                    if blk not in oracle and eng[blk].get("__n", 0) > 0:
                        if blk not in bad:
                            bad.append(blk)
                ok = not bad
                if bad:
                    rec["bad_blocks"] = bad[:5]
            rec["ok"] = ok
            if not ok:
                fails.append(name)
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {e}"
            rec["ok"] = False
            fails.append(name)
        rec["total_s"] = round(time.time() - t0, 1)
        results.append(rec)
        print(json.dumps(rec))

    summary = {
        "sf_dir": sf_dir,
        "block_div": div,
        "n_blocks": len(blocks),
        "partial": bool(args.blocks),
        "verified": [
            r["name"] for r in results if r.get("ok") and not r.get("skipped")
        ],
        "skipped": {
            r["name"]: r["skipped"] for r in results if r.get("skipped")
        },
        "excluded": {k: v for k, v in EXCLUDED.items()},
        "fails": fails,
    }
    print("SUMMARY " + json.dumps(summary))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"summary": summary, "results": results}, fh, indent=1)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
