"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship ER pipeline at sf0.001;
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for
every SQL-expressible query (same column names, same value semantics —
validated locally by ``scripts/check_oracles.py``).

Oracle-SQL notes (why the values match bit-for-bit):
* all similarity scores are derived from INTEGER counts via the same
  IEEE-double expression on both sides (c/(a+b-c), c/sqrt(a*b)), so no
  float drift;
* tokenization is the same regex (``[\\W_]+`` on lower(trim(text))) in
  Spark (Java regex) and DuckDB (RE2) — ASCII word classes agree;
* the few genuinely non-SQL-expressible ops (seeded MinHash banding,
  SimHash fingerprints, KMeans-IVF, media feature UDFs) omit the oracle
  and get the driver's rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _stream_work_dir(prefix: str, sf_dir: str) -> str:
    """Deterministic scratch dir for the streaming queries, keyed by input
    path and cleared on entry — repeated query constructions (bench
    iterations, plan sweeps, oracle checks) reuse ONE directory instead of
    mkdtemp-leaking a corpus copy per call. Not safe for two concurrent
    constructions over the same sf_dir (the driver and tests run them
    sequentially)."""
    import hashlib
    import shutil
    import tempfile

    work = os.path.join(
        tempfile.gettempdir(),
        f"{prefix}_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    return work


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sf* tables are single small parquet files -> one input partition;
    # spread rows across the cluster before fan-out operators / pandas UDFs
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.repartition(spark.sparkContext.defaultParallelism)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return df.repartition(spark.sparkContext.defaultParallelism)


def _word_toks(documents: DataFrame) -> DataFrame:
    """(doc_id, tokens) with SET-semantics word tokens."""
    from continuousfilteringbenchmark_spark.functions import tokenize as tk

    return documents.select("doc_id", tk.word_token_set("text").alias("tokens"))


def _doc_blocks(documents: DataFrame) -> DataFrame:
    """Dirty-ER standard (token) blocking table over the documents table."""
    from continuousfilteringbenchmark_spark.operators import blocking as B

    return B.standard_blocking(documents.withColumn("side", F.lit("A")), "text")


# --------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full ER pipeline (token blocking -> purging -> filtering ->
    comparison propagation -> Jaccard scoring -> connected components) over
    the interleaved-span lift of sf0.001 documents."""
    from continuousfilteringbenchmark_spark.datamodel import documents_to_docs
    from continuousfilteringbenchmark_spark.plans.pipeline import ERConfig, er_pipeline

    docs = documents_to_docs(_documents(spark, "/root/testdata/sf0.001"))
    res = er_pipeline(docs, ERConfig(threshold=0.5), clean_clean=False)
    return res["clusters"]


# --------------------------------------------------------------- queries


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_documents(spark, sf_dir))


def q_token_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    blocks = _doc_blocks(_documents(spark, sf_dir))
    return blocks.groupBy("block_key").agg(F.count("*").alias("n_docs"))


def q_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators import blocking as B

    blocks = _doc_blocks(_documents(spark, sf_dir))
    return B.pairs_from_blocks(blocks, clean_clean=False)


def q_block_purging(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators import blocking as B

    # persist: the purge-threshold histogram collect and the output filter
    # both scan the block table (see q_er_clusters note)
    blocks = _doc_blocks(_documents(spark, sf_dir)).persist()
    return B.block_purging(blocks, clean_clean=False).select("block_key", "doc_id")


def q_block_filtering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators import blocking as B

    blocks = _doc_blocks(_documents(spark, sf_dir)).persist()
    purged = B.block_purging(blocks, clean_clean=False)
    return B.block_filtering(purged, 0.5, clean_clean=False).select("block_key", "doc_id")


def q_epsilon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators.joins import epsilon_join

    toks = _word_toks(_documents(spark, sf_dir))
    return epsilon_join(toks, None, 0.5, "jaccard")


def q_epsilon_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pair set as q_epsilon_join but through the PPJoin prefix+length
    pruned plan — the oracle proves the optimized path is lossless."""
    from continuousfilteringbenchmark_spark.operators.joins import epsilon_join

    toks = _word_toks(_documents(spark, sf_dir))
    return epsilon_join(toks, None, 0.5, "jaccard", prefix_filter=True)


def q_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators.joins import topk_join

    toks = _word_toks(_documents(spark, sf_dir))
    return topk_join(toks, None, k=3, sim="cosine")


def q_metablocking_js_wep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    blocks = _doc_blocks(_documents(spark, sf_dir))
    return MB.wep(MB.weighted_pairs(blocks, "JS", clean_clean=False))


def q_metablocking_cbs_cnp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    blocks = _doc_blocks(_documents(spark, sf_dir))
    return MB.cnp(MB.weighted_pairs(blocks, "CBS", clean_clean=False), k=3)


def _er_chain(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared dirty-ER chain (standard blocking -> purging ->
    filtering(0.5) -> pairs -> Jaccard >= 0.5 matches -> CC clusters with
    singletons) — ONE Spark-side definition mirroring the ONE ``_ER_CC``
    oracle fragment, consumed by q_er_clusters and q_cluster_diagnostics.
    Returns (documents, matches, clusters)."""
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.operators.cluster import clusters_with_singletons
    from continuousfilteringbenchmark_spark.plans.pipeline import score_pairs

    documents = _documents(spark, sf_dir)
    # persist the reused stages: the composed DAG otherwise recomputes the
    # tokenize -> explode -> blocks chain ~4x (purge-stats collect, filter
    # window, pairs, and toks twice in scoring) — the in-session equivalent
    # of the production StageStore materializing each stage to parquet
    # (plans/stages.py; measured 103s -> ~70s at sf0.1)
    blocks = _doc_blocks(documents).persist()
    purged = B.block_purging(blocks, clean_clean=False)
    filtered = B.block_filtering(purged, 0.5, clean_clean=False).persist()
    pairs = B.pairs_from_blocks(filtered, clean_clean=False)
    toks = _word_toks(documents).persist()
    # persisted: the CC loop consumes matches eagerly at construction, and
    # diagnostics callers re-read the same table afterwards (freed by
    # session.clear_session_caches, the bench/sweep contract)
    matches = score_pairs(pairs, toks, "jaccard", min_score=0.5).select(
        "left_id", "right_id"
    ).persist()
    # matches are distinct by construction (comparison propagation ends in a
    # pair distinct; scoring is 1-row-in-1-row-out) -> skip the CC init dedup
    clusters = clusters_with_singletons(documents, matches, input_distinct=True)
    return documents, matches, clusters


def q_er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dirty-ER pipeline over the flat documents table: standard
    blocking -> purging -> filtering(0.5) -> pairs -> Jaccard >= 0.5 ->
    connected components (large-star/small-star) with singletons."""
    return _er_chain(spark, sf_dir)[2]


def q_ngram_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators.dedup import (
        ngram_jaccard_near_duplicates,
    )

    return ngram_jaccard_near_duplicates(
        _documents(spark, sf_dir), threshold=0.7, n=3, prefix_filter=True
    )


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.functions import text as X

    return _documents(spark, sf_dir).select(
        "doc_id",
        X.language_id("text").alias("lang_pred"),
        X.token_count("text").alias("n_tokens"),
        X.bpe_ish_token_count("text").alias("n_bpe"),
        X.quality_score("text").alias("quality"),
        X.fingerprint("text").alias("fp"),
    )


def q_lang_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.functions import text as X

    return (
        _documents(spark, sf_dir)
        .select(X.language_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


def q_knn_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators.dense import knn_exact

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return knn_exact(vecs, vecs, k=5, id_col="vec_id")


def q_range_search_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 range search, exact mode: the brute-force correctness baseline
    (oracle = the same quadratic scan). The scale path is q_range_search_lsh."""
    from continuousfilteringbenchmark_spark.operators.dense import range_search

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return range_search(vecs, None, threshold=0.35, id_col="vec_id", method="exact")


def q_range_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 range search through the sub-quadratic default path: hyperplane-LSH
    candidates (16 tables x 4 bits, seeded) -> exact cosine verify >= 0.35.
    The oracle replays the identical md5-derived hyperplanes + verify in SQL,
    so this row certifies the scale path exactly (not just its row count)."""
    from continuousfilteringbenchmark_spark.operators.dense import range_search

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return range_search(
        vecs, None, threshold=0.35, id_col="vec_id",
        method="lsh", lsh_tables=16, lsh_bits=4,
    )


def q_range_search_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 multiprobe: the FALCONN probe-count axis (``set_num_probes``,
    ``nnmethods/falconn/hyperplaneLSH/D4.py:118-150``) — HALF the tables of
    q_range_search_lsh (8 vs 16) with 3 extra least-confident-bit probes per
    table, trading compute for recall without growing the indexed table.
    The oracle replays the identical probe sequence (round(|dot|,9) ranking)
    in SQL, certifying the multiprobe path exactly."""
    from continuousfilteringbenchmark_spark.operators.dense import range_search

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return range_search(
        vecs, None, threshold=0.35, id_col="vec_id",
        method="lsh", lsh_tables=8, lsh_bits=6, lsh_probes=3,
    )


def q_qgrams_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators import blocking as B

    docs = _documents(spark, sf_dir).withColumn("side", F.lit("A"))
    return B.qgrams_blocking(docs, q=6).select("block_key", "doc_id")


def q_suffix_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators import blocking as B

    docs = _documents(spark, sf_dir).withColumn("side", F.lit("A"))
    return B.suffix_arrays_blocking(docs, min_len=6, max_frequency=53).select(
        "block_key", "doc_id"
    )


def q_clean_clean_er(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean-Clean ER over a two-source split of the documents table (side A =
    even doc_id, side B = odd): token blocking -> CC purging -> A x B pairs ->
    Jaccard >= 0.5. Exercises the clean_clean=True paths end-to-end."""
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.plans.pipeline import score_pairs
    from continuousfilteringbenchmark_spark.functions import tokenize as tk

    documents = _documents(spark, sf_dir)
    sided = documents.withColumn(
        "side", F.when(F.col("doc_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B"))
    )
    blocks = B.standard_blocking(sided, "text")
    purged = B.block_purging(blocks, clean_clean=True)
    pairs = B.pairs_from_blocks(purged, clean_clean=True)
    toks = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tk.word_token_set("text").alias("tokens"),
    )
    pairs = pairs.select(
        F.col("left_id").cast("string").alias("left_id"),
        F.col("right_id").cast("string").alias("right_id"),
    )
    return score_pairs(pairs, toks, "jaccard", min_score=0.5)


def q_metablocking_ecbs_wnp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    blocks = _doc_blocks(_documents(spark, sf_dir))
    return MB.wnp(MB.weighted_pairs(blocks, "ECBS", clean_clean=False))


def q_metablocking_arcs_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    blocks = _doc_blocks(_documents(spark, sf_dir))
    # round the summed ARCS weight (order-dependent float addition) BEFORE
    # ranking so the Spark and DuckDB top-K boundaries agree bit-for-bit
    weighted = MB.weighted_pairs(blocks, "ARCS", clean_clean=False).withColumn(
        "weight", F.round("weight", 9)
    )
    return MB.cep(weighted, k=500)


def q_topk_join_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3-style top-k join on word MULTISET tokens (occurrence-suffixed,
    P6 semantics — the reference's CHARACTER/TOKEN multiset trick)."""
    from continuousfilteringbenchmark_spark.functions import tokenize as tk
    from continuousfilteringbenchmark_spark.operators.joins import topk_join

    toks = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tk.word_token_multiset("text").alias("tokens"),
    )
    return topk_join(toks, None, k=5, sim="cosine")


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verification-stage scoring: block-filtered candidates scored with
    normalized Levenshtein similarity on the 40-char normalized prefix
    (built-in JVM levenshtein — north-rule edit-distance scorer)."""
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.functions.similarity import edit_similarity

    documents = _documents(spark, sf_dir)
    blocks = _doc_blocks(documents)
    purged = B.block_purging(blocks, clean_clean=False)
    filtered = B.block_filtering(purged, 0.5, clean_clean=False)
    pairs = B.pairs_from_blocks(filtered, clean_clean=False)
    pref = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.substring(F.lower(F.trim("text")), 1, 40).alias("_p"),
    )
    lt = pref.select(F.col("doc_id").alias("left_id"), F.col("_p").alias("_lp"))
    rt = pref.select(F.col("doc_id").alias("right_id"), F.col("_p").alias("_rp"))
    return (
        pairs.join(lt, "left_id")
        .join(rt, "right_id")
        .select(
            "left_id",
            "right_id",
            edit_similarity(F.col("_lp"), F.col("_rp")).alias("score"),
        )
        .where(F.col("score") >= 0.8)
    )


def q_jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched Jaro-Winkler scoring (Arrow pandas UDF — no Spark builtin)
    of block-filtered candidates on the 40-char normalized prefix."""
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.functions.similarity import jaro_winkler

    documents = _documents(spark, sf_dir)
    blocks = _doc_blocks(documents)
    purged = B.block_purging(blocks, clean_clean=False)
    filtered = B.block_filtering(purged, 0.5, clean_clean=False)
    pairs = B.pairs_from_blocks(filtered, clean_clean=False)
    pref = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.substring(F.lower(F.trim("text")), 1, 40).alias("_p"),
    )
    lt = pref.select(F.col("doc_id").alias("left_id"), F.col("_p").alias("_lp"))
    rt = pref.select(F.col("doc_id").alias("right_id"), F.col("_p").alias("_rp"))
    return (
        pairs.join(lt, "left_id")
        .join(rt, "right_id")
        .select(
            "left_id",
            "right_id",
            F.round(jaro_winkler(F.col("_lp"), F.col("_rp")), 12).alias("score"),
        )
        .where(F.col("score") >= 0.95)
    )


def q_span_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence invariant surface: the interleaved lift's per-row ordered
    (kind, text, media_ref, offset) hash — the quantity every shuffle-bearing
    stage must preserve (north rule). Oracle recomputes the lift + hash in SQL,
    proving the hash is a pure deterministic function of the input row."""
    from continuousfilteringbenchmark_spark.datamodel import documents_to_docs, span_invariant_hash

    docs = documents_to_docs(_documents(spark, sf_dir))
    return docs.select("doc_id", span_invariant_hash("spans").alias("span_hash"))


def q_extended_suffix_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 ExtendedSuffixArraysBlocking: all substrings >= min_len as keys,
    frequency-capped (reference ``.../ExtendedSuffixArrays.java:29-35``)."""
    from continuousfilteringbenchmark_spark.operators import blocking as B

    docs = _documents(spark, sf_dir).withColumn("side", F.lit("A"))
    return B.extended_suffix_arrays_blocking(docs, min_len=6, max_frequency=39).select(
        "block_key", "doc_id"
    )


def q_blast_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 BLAST: Pearson-X2 weights + node-max-fraction pruning. Weights are
    rounded to 9 decimals before pruning so the Spark/DuckDB threshold
    boundary agrees bit-for-bit (the X2 expression itself is exact-mirrored:
    products and one division, no pow)."""
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    blocks = _doc_blocks(_documents(spark, sf_dir))
    weighted = MB.weighted_pairs(blocks, "X2", clean_clean=False).withColumn(
        "weight", F.round("weight", 9)
    )
    return MB.blast_prune(weighted, ratio=0.35)


def q_metablocking_rcnp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14 Reciprocal CNP: pair survives only if within top-k for BOTH
    endpoints (intersection semantics, reference grids
    ``blockingWorkflowsL1L2L3/src/l1/TokenBlocking.java:37-39``)."""
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    blocks = _doc_blocks(_documents(spark, sf_dir))
    return MB.cnp(MB.weighted_pairs(blocks, "CBS", clean_clean=False), k=3, reciprocal=True)


def q_metablocking_rwnp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14 Reciprocal WNP: an edge survives only if it clears the per-node
    mean-weight threshold at BOTH endpoints (intersection semantics,
    reference grids ``blockingWorkflowsL1L2L3/src/l1/SuffixArrays.java:31-35``
    — the ``RW`` entries). JS weights; the one pruner variant that was
    unit-only through round 2."""
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    blocks = _doc_blocks(_documents(spark, sf_dir))
    return MB.wnp(MB.weighted_pairs(blocks, "JS", clean_clean=False), reciprocal=True)


def q_metablocking_dice_wep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 DICE weighting (JedAI-3.01 grid id 2: 2*CBS/(|B_i|+|B_j|)) + B10
    WEP — one of the 9 weighting schemes added for the tuned-config
    registry (``configs.WEIGHTING_SCHEME_GRID``)."""
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    blocks = _doc_blocks(_documents(spark, sf_dir))
    return MB.wep(MB.weighted_pairs(blocks, "DICE", clean_clean=False))


def q_metablocking_sizenorm_js_cnp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 SIZE_NORM_JS weighting (grid id 14: block-size-normalized Jaccard,
    the most common scheme in the reference's L2/L3 tuned grids) + B13 CNP
    k=3. Weights are 9-decimal-rounded before ranking (the sn sums are
    order-dependent float additions, same discipline as arcs_cep)."""
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    blocks = _doc_blocks(_documents(spark, sf_dir))
    weighted = MB.weighted_pairs(blocks, "SIZE_NORM_JS", clean_clean=False).withColumn(
        "weight", F.round("weight", 9)
    )
    return MB.cnp(weighted, k=3)


def q_metablocking_ejs_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 EJS weighting + B11 CEP global top-K. EJS = JS * log10(V/deg_i) *
    log10(V/deg_j) with V = |pair graph| and deg = the NODE's distinct
    candidates across both roles (published definition — per-role counts
    would undercount in Dirty ER where canonical left<right ordering splits
    a node's edges over both columns); rounded to 9 decimals before ranking
    (float log products)."""
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    blocks = _doc_blocks(_documents(spark, sf_dir))
    weighted = MB.weighted_pairs(blocks, "EJS", clean_clean=False).withColumn(
        "weight", F.round("weight", 9)
    )
    return MB.cep(weighted, k=500)


def q_qgrams_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B17 Default Q-Grams Workflow: QGrams(6) blocking -> BlockFiltering(0.5)
    -> WEP over ECBS weights (reference
    ``blockingWorkflows/.../DefaultQGramsBlocks.java:54-64``)."""
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    docs = _documents(spark, sf_dir).withColumn("side", F.lit("A"))
    blocks = B.qgrams_blocking(docs, q=6)
    filtered = B.block_filtering(blocks, 0.5, clean_clean=False)
    # 9-decimal rounding of the float ECBS weights AND the WEP mean: the mean
    # is an order-dependent float sum, so boundary pairs would otherwise flip
    # between Spark and the oracle (same discipline as blast_pairs/ejs_cep)
    weighted = MB.weighted_pairs(filtered, "ECBS", clean_clean=False).withColumn(
        "weight", F.round("weight", 9)
    )
    return MB.wep(weighted, round_digits=9)


def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1-E3 BlocksPerformance: PC/PQ/F1 of the purged+filtered token-blocking
    candidate pairs against gold = exact-duplicate pairs (identical normalized
    text). Single metrics row (reference ``.../TokenBlocking.java:85-88``)."""
    from continuousfilteringbenchmark_spark.operators import blocking as B

    documents = _documents(spark, sf_dir)
    blocks = _doc_blocks(documents)
    purged = B.block_purging(blocks, clean_clean=False)
    filtered = B.block_filtering(purged, 0.5, clean_clean=False)
    cand = B.pairs_from_blocks(filtered, clean_clean=False)
    norm = documents.select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("_h")
    )
    gold = (
        norm.alias("a")
        .join(norm.alias("b"), "_h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("left_id"), F.col("b.doc_id").alias("right_id"))
    )
    tp = cand.join(gold, ["left_id", "right_id"]).agg(F.count("*").alias("tp"))
    nc = cand.agg(F.count("*").alias("n_candidates"))
    ng = gold.agg(F.count("*").alias("n_gold"))
    row = tp.crossJoin(nc).crossJoin(ng)
    pc = F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold")).otherwise(F.lit(0.0))
    pq = F.when(F.col("n_candidates") > 0, F.col("tp") / F.col("n_candidates")).otherwise(
        F.lit(0.0)
    )
    return row.select(
        "tp",
        "n_candidates",
        "n_gold",
        pc.alias("pc"),
        pq.alias("pq"),
        F.when(pc + pq > 0, 2 * pc * pq / (pc + pq)).otherwise(F.lit(0.0)).alias("f1"),
    )


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup through the SCALE path: hyperplane-LSH
    candidates -> exact cosine verify (cos >= 0.35) -> connected components
    -> keep/drop assignment per vec_id. No cross join anywhere in the plan
    (asserted by tests); the oracle replays the LSH candidate set + verify +
    transitive closure in SQL."""
    from continuousfilteringbenchmark_spark.operators.dedup import dedup_assignments
    from continuousfilteringbenchmark_spark.operators.dense import range_search

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    pairs = range_search(
        vecs, None, threshold=0.35, id_col="vec_id",
        method="lsh", lsh_tables=16, lsh_bits=4,
    )
    out = dedup_assignments(vecs.select(F.col("vec_id").alias("doc_id")), pairs)
    return out.select(F.col("doc_id").alias("vec_id"), "group_id", "keep")


def q_schema_based_ejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 schema-based ε-join: project the 'title' span kind only
    (P3 ``ProfileProcessing.reduceProfilesToAttribute``), then Jaccard >= 0.5
    self-join over title tokens."""
    from continuousfilteringbenchmark_spark.datamodel import documents_to_docs, project_kind
    from continuousfilteringbenchmark_spark.functions import tokenize as tk
    from continuousfilteringbenchmark_spark.operators.joins import epsilon_join

    docs = documents_to_docs(_documents(spark, sf_dir))
    toks = docs.select(
        "doc_id", tk.word_token_set(project_kind("spans", "title")).alias("tokens")
    )
    return epsilon_join(toks, None, 0.5, "jaccard")


def q_incremental_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming incremental blocking (streaming/incremental.py):
    micro-batch ingestion of the docs lift, stream-static join against the
    accumulated block index. The oracle is the BATCH token-blocking pair set —
    proving streaming == batch (exactly-once, no pairs lost or invented)."""
    from continuousfilteringbenchmark_spark.datamodel import documents_to_docs
    from continuousfilteringbenchmark_spark.streaming.incremental import (
        run_incremental_blocking,
    )

    work = _stream_work_dir("incr_blocking", sf_dir)
    input_dir = f"{work}/docs"
    documents_to_docs(_documents(spark, sf_dir)).write.mode("overwrite").parquet(input_dir)
    _, pairs_dir = run_incremental_blocking(spark, input_dir, f"{work}/run")
    return spark.read.parquet(pairs_dir).select("left_id", "right_id").distinct()


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming exact dedup (streaming/stateful.py —
    ``applyInPandasWithState`` keyed on content hash, decide-at-arrival).
    The corpus is fed as ONE micro-batch (single input file), under which
    the contract reduces to: keeper = lexicographic min doc_id per content
    hash, keep = (doc_id == keeper) — exactly what the oracle replays.
    Cross-micro-batch state carry is covered by
    tests/test_streaming_stateful.py."""
    from continuousfilteringbenchmark_spark.streaming.stateful import (
        run_streaming_exact_dedup,
    )

    work = _stream_work_dir("stream_dedup", sf_dir)
    input_dir = f"{work}/docs"
    _documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).coalesce(1).write.mode("overwrite").parquet(input_dir)
    return run_streaming_exact_dedup(
        spark, input_dir, f"{work}/run", schema="doc_id string, text string"
    )


def q_continuous_er(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ER end-to-end (streaming/continuous.py): the corpus
    replayed as three arrival-ordered micro-batches; per epoch, incremental
    blocking (new x new + new x accumulated postings on shared word tokens)
    -> exact Jaccard >= 0.5 -> incremental cluster maintenance (new match
    edges rep-mapped onto the running assignment, connected components on
    the reduced rep graph only). The oracle is the BATCH chain over the
    whole table — co-token pairs -> Jaccard >= 0.5 -> transitive closure,
    min-id clusters with singletons — proving the streaming assignment
    converges to exactly what a from-scratch batch run would produce."""
    from continuousfilteringbenchmark_spark.datamodel import documents_to_docs
    from continuousfilteringbenchmark_spark.streaming.continuous import (
        run_continuous_er,
    )

    work = _stream_work_dir("continuous_er", sf_dir)
    input_dir = os.path.join(work, "in")
    os.makedirs(input_dir)
    docs = documents_to_docs(_documents(spark, sf_dir))
    mx = _documents(spark, sf_dir).agg(F.max("doc_id")).first()[0] or 0
    from continuousfilteringbenchmark_spark.streaming.staging import stage_microbatch

    bounds = [(None, mx // 3), (mx // 3, 2 * mx // 3), (2 * mx // 3, None)]
    for i, (lo, hi) in enumerate(bounds, start=1):
        chunk = docs.withColumn("_id", F.col("doc_id").cast("long"))
        if lo is not None:
            chunk = chunk.where(F.col("_id") > lo)
        if hi is not None:
            chunk = chunk.where(F.col("_id") <= hi)
        stage_microbatch(chunk.drop("_id"), input_dir, i)
    return run_continuous_er(spark, input_dir, f"{work}/run", threshold=0.5)


def q_jedai_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18 the JedAI default workflow, composed end-to-end: StandardBlocking
    -> ComparisonsBasedBlockPurging -> BlockFiltering(0.5) -> CNP with the
    derived per-node budget k = max(1, floor(BC/|E| + .5) - 1) over JS
    weights (reference ``blockingWorkflowsL1L2L3/src/defaultmethods/
    JedAIWorkflow.java:4-19`` — imports CardinalityNodePruning(JS)); the
    reference's flagship baseline pipeline."""
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    documents = _documents(spark, sf_dir)
    blocks = _doc_blocks(documents)
    purged = B.block_purging(blocks, clean_clean=False)
    filtered = B.block_filtering(purged, 0.5, clean_clean=False)
    weighted = MB.weighted_pairs(filtered, "JS", clean_clean=False)
    return MB.cnp(weighted, blocks=filtered)


def q_topk_join_fivegram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 the reference's DEFAULT kNN-join operating point: K=5 over
    CHARACTER_FIVEGRAMS_MULTISET with cosine similarity
    (``joins/src/joins/DefaultTopKSchemaAgnosticJoin.java:27-41`` — K at
    :28, tokenizer at :39, cosine hardcoded at :115). Exercises P8
    (char-n-gram multiset occurrence suffixing) under an exact oracle."""
    from continuousfilteringbenchmark_spark.functions import tokenize as tk
    from continuousfilteringbenchmark_spark.operators.joins import topk_join

    toks = _documents(spark, sf_dir).select(
        "doc_id", tk.char_ngram_multiset("text", 5).alias("tokens")
    )
    return topk_join(toks, None, k=5, sim="cosine")


def q_schema_based_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 schema-based top-k join: project the 'title' span kind (P3), then
    tie-inclusive top-3 cosine over title word sets (reference
    ``joins/src/joins/TopKSchemaBasedJoin.java:28-47`` — best single
    attribute per dataset, schema-based K grid)."""
    from continuousfilteringbenchmark_spark.datamodel import documents_to_docs, project_kind
    from continuousfilteringbenchmark_spark.functions import tokenize as tk
    from continuousfilteringbenchmark_spark.operators.joins import topk_join

    docs = documents_to_docs(_documents(spark, sf_dir))
    toks = docs.select(
        "doc_id", tk.word_token_set(project_kind("spans", "title")).alias("tokens")
    )
    return topk_join(toks, None, k=3, sim="cosine")


# ---- seeded-signature operators: oracles replay the exact same md5-derived
# integer math in SQL (see the fragment builders below) ----


def q_extended_qgrams_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 ExtendedQGramsBlocking: combination keys of >= ceil(L*t) q-grams
    per token (combinatorial pandas UDF). With t=0.95 the combination sizes
    degenerate to {full key} for L<20 and {full, leave-one-out} for L>=20 —
    which is what the SQL oracle enumerates."""
    from continuousfilteringbenchmark_spark.operators import blocking as B

    docs = _documents(spark, sf_dir).withColumn("side", F.lit("A"))
    return B.extended_qgrams_blocking(docs, q=6, threshold=0.95).select(
        "block_key", "doc_id"
    )


def q_crosspolytope_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 cross-polytope LSH candidates over the embeddings table
    (md5-derived rotations — replayed exactly by the SQL oracle)."""
    from continuousfilteringbenchmark_spark.operators.lsh import (
        crosspolytope_bands,
        lsh_candidates,
    )

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    bands = crosspolytope_bands(vecs, n_tables=8, n_rotations=2, proj_dim=16, id_col="vec_id")
    return lsh_candidates(bands)


def q_crosspolytope_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 multiprobe: FALCONN's cross-polytope probe axis
    (``nnmethods/scalabilityAnalysis/CP_LSH.py:53`` number_of_probes=2497
    over 128 tables; ours covers the single-substitution rung) — HALF the
    tables of q_crosspolytope_lsh (4 vs 8) with both single-rotation
    probes per table: the weakest-margin rotation flipped to its runner-up
    vertex, then the second-weakest. Probe buckets join BASE buckets
    (FALCONN probes a static index). The oracle replays the identical
    rounded-magnitude vertex ranking and margin-ordered probe sequence."""
    from continuousfilteringbenchmark_spark.operators.lsh import crosspolytope_bands

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    probe = crosspolytope_bands(
        vecs, n_tables=4, n_rotations=2, proj_dim=16, id_col="vec_id", n_probes=2
    )
    npart = probe.sparkSession.sparkContext.defaultParallelism
    l = probe.select("band", "bucket", F.col("doc_id").alias("a")).repartition(
        npart, "band", "bucket"
    )
    r = (
        probe.where(F.col("rank") == 0)
        .select("band", "bucket", F.col("doc_id").alias("b"))
        .repartition(npart, "band", "bucket")
    )
    return (
        l.join(r, ["band", "bucket"])
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("left_id"),
            F.greatest("a", "b").alias("right_id"),
        )
        .distinct()
    )


def q_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators.lsh import (
        hyperplane_bands,
        lsh_candidates,
    )

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    bands = hyperplane_bands(vecs, n_tables=8, n_bits=12, id_col="vec_id")
    return lsh_candidates(bands)


def q_dedup_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs -> connected components -> keep/drop per
    doc. Oracle: the same seeded signature math + recursive transitive
    closure in SQL (ids stay numeric so min-representative selection agrees)."""
    from continuousfilteringbenchmark_spark.operators.dedup import (
        dedup_assignments,
        minhash_near_duplicates,
    )

    documents = _documents(spark, sf_dir)
    pairs = minhash_near_duplicates(documents, threshold=0.7, n=5)
    return dedup_assignments(documents.select("doc_id"), pairs)


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.operators.dedup import minhash_near_duplicates

    # threshold 0.7 / 5-grams: the dedup-tuned operating point (0.5/3-grams
    # degenerates on template-heavy corpora — ambient trigram similarity of
    # short same-domain docs sits near 0.5, so half the quadratic pair space
    # "matches"; real dedup pipelines run the tighter config)
    return minhash_near_duplicates(_documents(spark, sf_dir), threshold=0.7, n=5)


def q_windowed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window ingest stats (streaming/windows.py):
    the corpus replayed as three arrival-ordered micro-batches (event time
    = fixed epoch + doc_id seconds, so arrival order == event order and
    nothing is late) plus two far-future sentinel batches that advance the
    watermark past every data window — append mode then emits each data
    window exactly once, closed and immutable. The DuckDB oracle replays
    the same tumbling-bucket arithmetic over the whole table (streaming ==
    batch under no-late-data — the invariant incremental_blocking certifies
    for blocking; the late-DROP side of the watermark contract is certified
    by tests/test_streaming_stateful.py)."""
    from continuousfilteringbenchmark_spark.streaming.staging import stage_microbatch
    from continuousfilteringbenchmark_spark.streaming.windows import (
        run_windowed_ingest,
    )

    BASE = 1767225600  # 2026-01-01T00:00:00Z; % 300 == 0 so windows align
    work = _stream_work_dir("cfb_windows", sf_dir)
    input_dir = os.path.join(work, "in")
    os.makedirs(input_dir)
    schema = "event_time timestamp, text string"
    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.timestamp_seconds(F.lit(BASE) + F.col("doc_id")).alias("event_time"),
        "text",
    )
    mx = docs.agg(F.max("doc_id")).first()[0] or 0

    bounds = [(None, mx // 3), (mx // 3, 2 * mx // 3), (2 * mx // 3, None)]
    for i, (lo, hi) in enumerate(bounds, start=1):
        chunk = docs
        if lo is not None:
            chunk = chunk.where(F.col("doc_id") > lo)
        if hi is not None:
            chunk = chunk.where(F.col("doc_id") <= hi)
        stage_microbatch(chunk.select("event_time", "text"), input_dir, i)
    for j, off in enumerate((10**8, 2 * 10**8), start=4):
        stage_microbatch(
            spark.sql(
                f"SELECT timestamp_seconds({BASE + off}) AS event_time, "
                "'sentinel' AS text"
            ),
            input_dir,
            j,
        )
    out = run_windowed_ingest(spark, input_dir, work, schema)
    # sentinel windows may also close (final no-data batch); only the data
    # windows are the query's contract
    return out.where(F.col("window_start") <= BASE + mx)


def q_crossmodal_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal candidate generation over interleaved text+media docs:
    token blocking UNION media-ref blocking -> comparison propagation (one
    distinct pair set across both axes). The media lift here models image
    reuse across near-duplicate pages (the common web-scale case): every doc
    carries a media span whose ref is content-derived (md5 of the 6-word
    title), so scraped mirrors of the same page share the image — the oracle
    replays the ref by the same md5 and joins on it. The production
    ``media_ref_blocking`` operator itself reads whatever refs the spans
    carry; only this fixture lift synthesizes them."""
    from continuousfilteringbenchmark_spark.operators import blocking as B

    documents = _documents(spark, sf_dir)
    title = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 6), " ")
    docs = documents.select(
        "doc_id",
        F.lit("A").alias("side"),
        "text",
        F.array(
            F.struct(
                F.lit("title").alias("kind"),
                title.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("ref://img/"), F.md5(title)).alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
        ).alias("spans"),
    )
    blocks = B.standard_blocking(docs, "text").unionByName(B.media_ref_blocking(docs))
    return B.pairs_from_blocks(blocks, clean_clean=False)


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM-training-data curation job (plans/curation.py): exact
    dedup -> MinHash-LSH near-dup over the exact survivors (0.7 / 5-gram,
    the dedup operating point of ``minhash_dedup``) -> language filter
    (en) -> quality filter (0.81). One decision row per doc:
    (doc_id, keep, reason, rep_id, lang_pred, quality). The oracle replays
    every stage exactly: md5 hash groups, the seeded minhash band math
    (filtered to survivor endpoints — banding is per-doc so the pair set
    over a subset IS the full pair set restricted to it), recursive
    transitive closure, and the text_profile lang/quality arithmetic."""
    from continuousfilteringbenchmark_spark.plans.curation import curate_corpus

    return curate_corpus(
        _documents(spark, sf_dir), allowed_langs=("en",), min_quality=0.81
    )


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.functions import tokenize as tk
    from continuousfilteringbenchmark_spark.operators.lsh import simhash_near_duplicates

    toks = _word_toks(_documents(spark, sf_dir))
    return simhash_near_duplicates(toks, max_hamming=3)


def q_knn_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 IVF top-k in FULL-PROBE mode (nprobe = n_cells): probing every
    k-means cell makes the candidate set complete, so the output must equal
    the exact top-5 — which is what the oracle computes. This certifies the
    IVF plumbing (cell assignment, probe routing, per-query re-rank) exactly;
    the approximate regime (nprobe < n_cells) is covered by a recall unit
    test + the N8 tuner test (k-means centroids aren't SQL-replayable)."""
    from continuousfilteringbenchmark_spark.operators.dense import knn_ivf

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return knn_ivf(vecs, vecs, k=5, n_cells=8, nprobe=8, id_col="vec_id")


def q_knn_ivf_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 IVF top-k in the APPROXIMATE regime (nprobe < n_cells) — the plan
    that runs at corpus scale: coarse quantizer, corpus sharded by nearest
    cell, each query probing its 4 of 16 cells, exact re-rank inside.
    Sub-quadratic (the cell join bounds candidates to ~nprobe/n_cells of
    the corpus per query). Runs the ``quantizer='sample'`` mode (seeded
    md5-sampled member centroids) so the oracle can replay centroid choice,
    cell routing, probing AND re-rank exactly in SQL — the whole approximate
    regime is hash-certified, not rows-only. The k-means quantizer (the
    operator default) has un-replayable centroids; its plumbing is certified
    by the full-probe twin ``knn_ivf_embeddings`` (hash-exact vs the
    brute-force oracle) and its recall by the unit tests + N8 tuner."""
    from continuousfilteringbenchmark_spark.operators.dense import knn_ivf

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return knn_ivf(
        vecs, vecs, k=5, n_cells=16, nprobe=4, id_col="vec_id", quantizer="sample"
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: media spans -> synthesized media rows (payload =
    pure function of the ref) -> mapInPandas feature extraction. Output is
    EXPLODED to scalar columns (media_ref, media_type, pos, value) so the
    driver's canonicalizer can sort/hash it (an array column crashed it in
    round 1), and the md5-derived fake features are recomputed exactly by
    the DuckDB oracle."""
    from continuousfilteringbenchmark_spark.datamodel import documents_to_docs
    from continuousfilteringbenchmark_spark.operators import multimodal as MM

    docs = documents_to_docs(_documents(spark, sf_dir))
    media = MM.synthesize_media_table(MM.media_refs_from_docs(docs))
    # pinned to the fake backend: the oracle replays its md5 features (the
    # 'auto' PIL probe would silently switch semantics if PIL ever appears)
    feats = MM.extract_features(media, decode_backend="fake", dim=16)
    return feats.select(
        "media_ref", "media_type", F.posexplode("feature").alias("pos", "value")
    )


def q_shingle_count_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 shingling vectorizer (reference ``nnmethods/minhashLSH/src/minhash/
    ShinglingModel.java:18-105``): global char-4-gram vocabulary with dense
    sorted ids, per-doc occurrence counts in sparse COO form
    (doc_id, vocab_id, cnt). The oracle replays the vocabulary as
    ``row_number() OVER (ORDER BY tok) - 1`` and the counts as a plain
    group-by."""
    from continuousfilteringbenchmark_spark.functions import tokenize as tk
    from continuousfilteringbenchmark_spark.functions import vectorize as V

    toks = _documents(spark, sf_dir).select(
        "doc_id", tk.char_ngrams("text", 4).alias("tokens")
    )
    return V.count_vectors(toks)


def q_ngram_bool_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 n-gram boolean vectors (reference ``nnmethods/scalabilityAnalysis/
    MH_LSH.py:17-55`` ``ngrams_index``): same vocabulary, presence-only
    (doc_id, vocab_id) sparse rows."""
    from continuousfilteringbenchmark_spark.functions import tokenize as tk
    from continuousfilteringbenchmark_spark.functions import vectorize as V

    toks = _documents(spark, sf_dir).select(
        "doc_id", tk.char_ngrams("text", 4).alias("tokens")
    )
    return V.bool_vectors(toks)


def q_tuned_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A published operating point replayed THROUGH the config registry:
    ``configs.from_reference('token_blocking', 'L2', 'D9')`` decodes the
    reference's tuned grid ids for DBLP-Scholar at recall level L2
    (``blockingWorkflowsL1L2L3/src/l2/TokenBlocking.java:34-47``, dataset
    index 8: purging on, BlockFiltering grid 24 -> ratio 0.625, JS weights,
    RECIPROCAL_CARDINALITY_NODE_PRUNING) and drives the engine end-to-end
    with them — the workflow a user replays as "D9 at L2"."""
    from continuousfilteringbenchmark_spark import configs
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.operators import metablocking as MB

    cfg = configs.from_reference("token_blocking", "L2", "D9")
    blocks = _doc_blocks(_documents(spark, sf_dir))
    if cfg.block_purging:
        blocks = B.block_purging(blocks, clean_clean=False)
    if cfg.bf_ratio is not None:
        blocks = B.block_filtering(blocks, cfg.bf_ratio, clean_clean=False)
    weighted = MB.weighted_pairs(blocks, cfg.weight_scheme, clean_clean=False)
    return configs.prune(weighted, cfg, blocks=blocks)


def q_tuned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 tuned kNN-join replay THROUGH the config registry with the
    direction flag honored: ``configs.from_reference_join('topk', 'D1')``
    decodes the restaurants cell (``TopKSchemaAgnosticJoin.java:28-47``,
    index 0: K=1, reversed=True, DICE over CHARACTER_FOURGRAMS_MULTISET)
    and drives ``topk_join_directed`` with it. Sides are the even/odd
    doc_id split; reversed=True queries each d1 (even) entity for its best
    d2 (odd) candidate, emitting fixed (d1, d2) pair order exactly as the
    reference flips at ``TopKSchemaAgnosticJoin.java:164-170``."""
    from continuousfilteringbenchmark_spark import configs
    from continuousfilteringbenchmark_spark.operators.joins import topk_join_directed

    cfg = configs.from_reference_join("topk", "D1")
    toks = _documents(spark, sf_dir).select(
        "doc_id", configs.tokenizer_column(cfg.tokenizer, "text").alias("tokens")
    )
    d1 = toks.where(F.col("doc_id") % 2 == 0)
    d2 = toks.where(F.col("doc_id") % 2 == 1)
    return topk_join_directed(d1, d2, cfg.k, cfg.similarity, reverse=cfg.reversed)


def q_tuned_ejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 tuned ε-join replay THROUGH the config registry — the epsilon
    twin of q_tuned_topk: ``configs.from_reference_join('epsilon', 'D4')``
    decodes the DBLP-ACM cell (``SchemaAgnosticEJoin.java:31-41``, index 3:
    threshold 0.58, JACCARD over WHITESPACE tokens) and drives the
    clean-clean two-table ε-join with it over the even/odd doc_id split."""
    from continuousfilteringbenchmark_spark import configs
    from continuousfilteringbenchmark_spark.operators.joins import epsilon_join

    cfg = configs.from_reference_join("epsilon", "D4")
    toks = _documents(spark, sf_dir).select(
        "doc_id", configs.tokenizer_column(cfg.tokenizer, "text").alias("tokens")
    )
    d1 = toks.where(F.col("doc_id") % 2 == 0)
    d2 = toks.where(F.col("doc_id") % 2 == 1)
    return epsilon_join(d1, d2, cfg.threshold, cfg.similarity)


def q_deepblocker_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N7 DeepBlocker stand-in (reference ``nnmethods/deepblocker/d4SA.py:
    17-27``; Dirty-ER baseline ``nnmethods/scalabilityAnalysis/DDB.py:13-57``
    with K=5 on the aggregate value): deterministic feature-hashing tuple
    embedding (md5-derived token vectors, sum-pooled BIGINT coordinates)
    + ExactTopKVectorPairing — tie-inclusive top-5 cosine self-pairing.
    The oracle replays the embedding exactly (integer sums are order
    independent) and the same normalized-dot top-K."""
    from continuousfilteringbenchmark_spark.operators.dense import deepblocker_topk

    return deepblocker_topk(_documents(spark, sf_dir), None, k=5, dim=16)


def q_duplicated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplication spans (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): maximal token ranges of
    each doc whose every 8-token window occurs in >= 2 distinct documents.
    The Spark side groups windows by xxhash64 of the gram (8-byte shuffle
    key); the oracle groups by the gram STRING — identical equality classes
    absent a 64-bit collision (needs ~2^32 distinct grams to matter)."""
    from continuousfilteringbenchmark_spark.operators.dedup import (
        duplicated_ngram_spans,
    )

    return duplicated_ngram_spans(_documents(spark, sf_dir), n=8, min_docs=2)


def q_contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM n-gram collision rule):
    docs with doc_id % 25 == 0 play the held-out benchmark set, the rest
    the corpus; a corpus doc is contaminated iff it shares any n-token
    window with the benchmark. n=13 is the published GPT-3 appendix-C
    value; the synthetic docs are ~40 tokens so the query runs n=4 to
    exercise the hit path (27 contaminated docs at sf0.01). The benchmark
    gram table is broadcast — the corpus side never shuffles on the gram
    key (eval sets are MBs against a 100 TB corpus)."""
    from continuousfilteringbenchmark_spark.operators.dedup import (
        contamination_flags,
    )

    docs = _documents(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 25 == 0)
    corpus = docs.where(F.col("doc_id") % 25 != 0)
    return contamination_flags(corpus, bench, n=4)


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted Neighborhood blocking (Hernandez & Stolfo) over the documents
    table, window=4 on the normalized token-sequence key: all doc pairs at
    sorted-rank distance < 4. The oracle replays the identical total order
    with ``row_number() OVER (ORDER BY key, doc_id)``."""
    from continuousfilteringbenchmark_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    return sorted_neighborhood_pairs(_documents(spark, sf_dir), window=4)


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters per doc (Rae et al., table A1):
    duplicate-token fraction + fraction of tokens covered by the most
    frequent word 2-gram, with the published 0.2 drop threshold. The
    oracle replays the mode count over string grams (identical equality
    classes to the Spark side's xxhash64 grams absent a 64-bit collision)."""
    from continuousfilteringbenchmark_spark.operators.dedup import repetition_profile

    return repetition_profile(_documents(spark, sf_dir), n=2, top_frac_threshold=0.2)


def _fs_fields():
    """Fellegi-Sunter comparison fields over the documents table: exact
    lang/source agreement, length within 20% (integer cross-multiplied),
    token Jaccard >= 1/2 (integer cross-multiplied) — every agreement is
    integer arithmetic so the DuckDB oracle matches bit-for-bit."""
    from continuousfilteringbenchmark_spark.operators import linkage as LK

    return {
        "lang": LK.exact_field("lang"),
        "source": LK.exact_field("source"),
        "len": LK.relative_diff_field("n_chars", 1, 5),
        "jac": LK.token_jaccard_field("tokens", 1, 2),
    }


_FS_NAMES = ["lang", "source", "len", "jac"]


def _fs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from continuousfilteringbenchmark_spark.functions import tokenize as tk

    d = _documents(spark, sf_dir)
    return d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        tk.word_token_set("text").alias("tokens"),
        F.lower(F.trim("text")).alias("norm_text"),
    )


def _fs_agreements_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE pass over the blocking chain: agreement vectors PLUS the
    deterministic label (match == exact normalized-text equality) computed
    as one more field — the same single-join shape as the ``_FS_AGR``
    oracle CTE, instead of building the pair/doc-join chain twice and
    re-joining two identical pair tables."""
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.operators import linkage as LK

    pairs = B.pairs_from_blocks(_doc_blocks(_documents(spark, sf_dir)), clean_clean=False)
    ag = LK.agreement_vectors(
        pairs,
        _fs_docs(spark, sf_dir),
        {**_fs_fields(), "match": LK.exact_field("norm_text")},
    )
    return ag.withColumnRenamed("a_match", "is_match")


def _fs_agreements(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fs_agreements_labeled(spark, sf_dir).drop("is_match")


def q_fs_agreements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24 Fellegi-Sunter stage 1: per-candidate-pair agreement vectors
    (Fellegi & Sunter, JASA 1969; the comparison-vector gamma). Candidate
    pairs are the token-blocking comparison propagation (same pair set as
    the ``candidate_pairs`` query); fields: lang, source, length-within-20%,
    token-Jaccard >= 0.5 — all integer-exact."""
    return _fs_agreements(spark, sf_dir)


def q_fs_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24 stage 2 (supervised): m/u probabilities per field from the
    exact-duplicate label relation with add-one smoothing — ONE output row
    of count-ratio doubles (bit-exact in any engine)."""
    from continuousfilteringbenchmark_spark.operators import linkage as LK

    return LK.estimate_mu(_fs_agreements_labeled(spark, sf_dir), None, _FS_NAMES)


def q_fs_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24 stage 3: per-pair Fellegi-Sunter likelihood ratio — the fixed
    field-order product of m/u (agree) or (1-m)/(1-u) (disagree) terms,
    broadcast one-row weight table, no log-space math (bit-reproducible)."""
    from continuousfilteringbenchmark_spark.operators import linkage as LK

    ag = _fs_agreements_labeled(spark, sf_dir)
    w = LK.estimate_mu(ag, None, _FS_NAMES)
    return LK.likelihood_ratios(ag, w, _FS_NAMES).select("left_id", "right_id", "lr")


_FS_GAMMA_LEVELS = {"lang": 2, "len": 3, "jac": 3}


def _fs_gamma_agreements_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded-gamma agreement vectors (Splink-style levels) + the exact-dup
    label, one pass: lang binary; length level 2/1/0 at 10%/30% relative
    tolerance; token-Jaccard level 2/1/0 at 1/2 / 1/4 — all integer
    cross-multiplied."""
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.operators import linkage as LK

    pairs = B.pairs_from_blocks(_doc_blocks(_documents(spark, sf_dir)), clean_clean=False)
    fields = {
        "lang": LK.exact_field("lang"),
        "len": LK.gamma_reldiff_field("n_chars", [(1, 10), (3, 10)]),
        "jac": LK.gamma_jaccard_field("tokens", [(1, 2), (1, 4)]),
        "match": LK.exact_field("norm_text"),
    }
    ag = LK.agreement_vectors(pairs, _fs_docs(spark, sf_dir), fields)
    return ag.withColumnRenamed("a_match", "is_match")


def q_fs_gamma_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24 graded-gamma stage 2: per-LEVEL m/u probabilities (the full
    Fellegi-Sunter model; binary is the 2-level special case) — one row of
    count-ratio doubles, per-level Laplace smoothing."""
    from continuousfilteringbenchmark_spark.operators import linkage as LK

    return LK.estimate_gamma_mu(
        _fs_gamma_agreements_labeled(spark, sf_dir), None, _FS_GAMMA_LEVELS
    )


def q_fs_gamma_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24 graded-gamma stage 3: per-pair likelihood ratio — fixed field
    order, each term a CASE over the field's levels selecting
    m_{f,l}/u_{f,l} from the broadcast one-row weight table."""
    from continuousfilteringbenchmark_spark.operators import linkage as LK

    ag = _fs_gamma_agreements_labeled(spark, sf_dir)
    w = LK.estimate_gamma_mu(ag, None, _FS_GAMMA_LEVELS)
    return LK.gamma_likelihood_ratios(ag, w, _FS_GAMMA_LEVELS).select(
        "left_id", "right_id", "lr"
    )


def q_fs_em_posterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24 stage 4 (unsupervised): one distributed EM E-step over agreement
    PATTERNS (<= 2^4 rows) from dyadic-rational initial weights (m=7/8,
    u=1/8, lambda=1/2 — exactly representable doubles, so literals agree
    across engines). The full driver-side EM loop (``linkage.em_weights``)
    is pinned by ``tests/test_linkage.py`` against an independent EM."""
    from continuousfilteringbenchmark_spark.operators import linkage as LK

    return LK.em_posterior_step(
        _fs_agreements(spark, sf_dir), _FS_NAMES, m=0.875, u=0.125, lam=0.5
    )


def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X30 IVF-PQ composition (FAISS IVF16,PQ8 shape): sampled coarse
    cells prune (nprobe=4 of 16), PQ codes compress the cell contents
    (8 subspaces x 64 codewords, seed+1 draw), ADC scan + exact re-rank
    of the top 8k. Fully deterministic; the oracle replays centroid draw,
    routing, codes, ADC scores and the re-rank. Operating point set by the
    recall gate (tests/test_dense.py): 64 codewords + 8x re-rank reach
    recall@5 ~0.99 on clustered corpora at this nprobe; the 16-codeword
    codebook bottomed out at ~0.6."""
    from continuousfilteringbenchmark_spark.operators.dense import knn_ivfpq

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return knn_ivfpq(
        vecs, None, k=5, n_cells=16, nprobe=4, m_sub=8, k_sub=64,
        rerank_factor=8, id_col="vec_id",
    )


def q_fs_er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24 end-to-end probabilistic record linkage: token-blocking pairs ->
    agreement vectors -> supervised m/u -> likelihood-ratio decision
    (lr >= 50) -> transitive clustering with singletons. The full FS
    pipeline as an alternative decision model to Jaccard thresholding,
    oracle-replayed through the recursive transitive closure."""
    from continuousfilteringbenchmark_spark.operators import linkage as LK
    from continuousfilteringbenchmark_spark.operators.cluster import (
        clusters_with_singletons,
    )

    ag = _fs_agreements_labeled(spark, sf_dir)
    w = LK.estimate_mu(ag, None, _FS_NAMES)
    matches = LK.fs_classify(ag, w, _FS_NAMES, min_lr=50.0).select(
        "left_id", "right_id"
    )
    return clusters_with_singletons(
        _documents(spark, sf_dir), matches, input_distinct=True
    )


def q_phonetic_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31 phonetic (Soundex-flavored) blocking over the documents table:
    per-block document counts, same surface as ``token_blocks``. The key
    is defined by portable string expressions (translate + regexp_replace
    + rpad), so the oracle replays it byte-for-byte."""
    from continuousfilteringbenchmark_spark.operators.blocking import phonetic_blocking

    blocks = phonetic_blocking(
        _documents(spark, sf_dir).withColumn("side", F.lit("A")), "text"
    )
    return blocks.groupBy("block_key").agg(F.count(F.lit(1)).alias("n_docs"))


def q_cluster_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26 cluster health surface: per non-singleton er_clusters cluster,
    the integer (n_members, n_edges, n_possible, max_source_n) row — edge
    density flags chain-collapse (CC merging A-B-C chains), source purity
    flags single-source clusters in cross-source jobs."""
    from continuousfilteringbenchmark_spark.operators.cluster import (
        cluster_diagnostics,
    )

    documents, matches, clusters = _er_chain(spark, sf_dir)
    return cluster_diagnostics(clusters, matches, docs=documents)


def q_ari_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26 Adjusted-Rand components: one ALL-INTEGER row (n, pair sums over
    contingency cells / system clusters / gold clusters) for the
    ``er_clusters`` assignment vs the exact-duplicate gold partition; the
    float ARI scalar is ``eval.adjusted_rand`` (unit-tested)."""
    from pyspark.sql import Window

    from continuousfilteringbenchmark_spark.eval import rand_contingency

    docs = _documents(spark, sf_dir)
    gold = docs.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(F.lower(F.trim("text"))))
        .alias("cluster_id"),
    )
    return rand_contingency(q_er_clusters(spark, sf_dir), gold)


def q_knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X27 scalar-quantized dense top-k (FAISS SQ8 parity): per-dim affine
    uint8 codes -> integer code-dot candidate ranking (top 4k per query)
    -> exact full-precision re-rank to top-k. Codes, integer scores and
    the re-rank float fold are all bit-replayable in SQL."""
    from continuousfilteringbenchmark_spark.operators.dense import knn_sq8

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return knn_sq8(vecs, None, k=5, rerank_factor=4, id_col="vec_id")


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X30 product-quantized dense top-k (FAISS PQ8 asymmetric-distance
    parity): deterministic sampled codebook (16 codewords x 8 subspaces)
    -> per-subspace L2-nearest encode (tie: smallest code) -> ADC scan
    scoring dot(query, reconstruction) -> exact re-rank of the top 4k.
    Codebook draw, codes, ADC scores and final floats all replayed by the
    SQL oracle."""
    from continuousfilteringbenchmark_spark.operators.dense import knn_pq

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    return knn_pq(vecs, None, k=5, m_sub=8, k_sub=16, rerank_factor=4, id_col="vec_id")


def q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25 survivorship: one golden record per ER cluster (clusters = the
    ``er_clusters`` chain). Representative = longest normalized text
    (tie: min doc_id); canonical lang/source = cluster mode (tie:
    lexicographically smallest); plus member count / summed chars /
    min doc_id — every rule deterministic, oracle bit-exact."""
    from continuousfilteringbenchmark_spark.operators.survivorship import golden_records

    return golden_records(_documents(spark, sf_dir), q_er_clusters(spark, sf_dir))


def q_bcubed_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26 B-cubed extrinsic clustering quality (Bagga & Baldwin '98):
    per-doc ALL-INTEGER contingency (c_size, g_size, overlap) of the
    ``er_clusters`` assignment against the exact-duplicate gold partition
    (gold cluster = min doc_id per normalized text). No quadratic pair
    materialization — three aggregations, so the metric survives clusters
    of any size. The scalar averages are ``eval.bcubed`` (unit-tested)."""
    from pyspark.sql import Window

    from continuousfilteringbenchmark_spark.eval import bcubed_contingency

    docs = _documents(spark, sf_dir)
    gold = docs.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(F.lower(F.trim("text"))))
        .alias("cluster_id"),
    )
    return bcubed_contingency(q_er_clusters(spark, sf_dir), gold)


def q_weighted_epsilon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X29 rarity-weighted ε-join: idf-flavored weighted Jaccard with
    INTEGER weights (w = N div df — no float logs), threshold 0.4 on the
    word-token sets. Down-weights Zipf hot tokens; all sums exact 64-bit
    integers, one IEEE division per pair."""
    from continuousfilteringbenchmark_spark.operators.joins import (
        weighted_epsilon_join,
    )

    toks = _word_toks(_documents(spark, sf_dir))
    return weighted_epsilon_join(toks, None, threshold=0.4)


def q_best_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28 round 1 of unique-mapping (1:1) matching: locally dominant
    pairs — pairs that are the best-ranked incident pair of BOTH endpoints
    under (score DESC, left_id, right_id) — over the clean-clean ER scored
    pairs. The SQL oracle replays the same total order with two
    row_number windows."""
    from continuousfilteringbenchmark_spark.operators.matching import (
        locally_dominant_pairs,
    )

    return locally_dominant_pairs(q_clean_clean_er(spark, sf_dir))


def q_unique_mapping_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28 full greedy 1:1 matching fixpoint (JedAI UniqueMappingClustering
    semantics) via iterated local dominance — equal to the sequential
    greedy by construction (pinned against a driver-side reference greedy
    in ``tests/test_matching.py``). EXACT oracle since round 5: the
    data-dependent round count is handled by unrolling a 3x round budget
    as chained CTEs with a loud non-convergence poison row
    (``_unique_mapping_sql``); ``best_match_pairs`` is round 1 of the same
    unroll."""
    from continuousfilteringbenchmark_spark.operators.matching import (
        unique_mapping_pairs,
    )

    return unique_mapping_pairs(q_clean_clean_er(spark, sf_dir))


def q_bucketed_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucket-grid co-located scorer (``plans/bucketed.py``) certified
    against the SAME oracle as ``clean_clean_er``: identical blocking ->
    purging -> pairs chain, scoring swapped to the over-broadcast-cap scale
    engine — write-time ``bucket(doc_id)`` token store, pairs shuffled by
    grid cell as bare ids, token payloads read side-band per cell. One
    oracle, three physical engines (jvm / arrow / bucketed)."""
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.functions import tokenize as tk
    from continuousfilteringbenchmark_spark.plans.bucketed import (
        score_pairs_bucketed,
        write_token_buckets,
    )

    documents = _documents(spark, sf_dir)
    sided = documents.withColumn(
        "side", F.when(F.col("doc_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B"))
    )
    blocks = B.standard_blocking(sided, "text")
    purged = B.block_purging(blocks, clean_clean=True)
    pairs = B.pairs_from_blocks(purged, clean_clean=True)
    toks = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tk.word_token_set("text").alias("tokens"),
    )
    work = _stream_work_dir("bkstore", sf_dir)
    path = os.path.join(work, "tokens")
    write_token_buckets(toks, path, n_buckets=8)
    return score_pairs_bucketed(pairs, path, "jaccard", min_score=0.5)


def q_tuned_dirty_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Dirty-ER (der) tuned cell replayed THROUGH the config registry with
    UNILATERAL gold counting: ``configs.from_reference_der('token_blocking',
    'L2', 'cddb')`` decodes ``l2/der/TokenBlocking.java:43-50`` dataset 0 —
    Dirty block purging ON, BlockFiltering grid 4 -> ratio 0.125, CBS
    weights, WEIGHTED_EDGE_PRUNING — and drives the engine end-to-end over
    the documents table as one Dirty collection, ending in the driver's
    BlocksPerformance row (``l2/der/TokenBlocking.java:60,86-88``:
    ``UnilateralDuplicatePropagation`` — a gold pair counts when found in
    EITHER orientation, hence the least/greatest canonicalization on both
    sides of the TP join) against the exact-duplicate gold partition."""
    from continuousfilteringbenchmark_spark import configs

    cfg = configs.from_reference_der("token_blocking", "L2", "cddb")
    assert cfg.gold_counting == "unilateral"
    documents = _documents(spark, sf_dir)
    sided = documents.withColumn("side", F.lit("A"))
    blocks = configs.build_blocks_from_reference(sided, cfg, clean_clean=False)
    cand = configs.candidate_pairs_from_reference(blocks, cfg, clean_clean=False)
    # unilateral counting: orientation-insensitive TP join
    cand_c = cand.select(
        F.least("left_id", "right_id").alias("left_id"),
        F.greatest("left_id", "right_id").alias("right_id"),
    ).distinct()
    norm = documents.select("doc_id", F.md5(F.lower(F.trim("text"))).alias("_h"))
    gold = (
        norm.alias("a")
        .join(norm.alias("b"), "_h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("left_id"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("right_id"),
        )
    )
    tp = cand_c.join(gold, ["left_id", "right_id"]).agg(F.count("*").alias("tp"))
    nc = cand_c.agg(F.count("*").alias("n_candidates"))
    ng = gold.agg(F.count("*").alias("n_gold"))
    row = tp.crossJoin(nc).crossJoin(ng)
    pc = F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold")).otherwise(F.lit(0.0))
    pq = F.when(
        F.col("n_candidates") > 0, F.col("tp") / F.col("n_candidates")
    ).otherwise(F.lit(0.0))
    return row.select(
        "tp",
        "n_candidates",
        "n_gold",
        pc.alias("pc"),
        pq.alias("pq"),
        F.when(pc + pq > 0, 2 * pc * pq / (pc + pq)).otherwise(F.lit(0.0)).alias("f1"),
    )


def q_tuned_schema_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A schema-based blocking tuned cell replayed THROUGH the config
    registry: ``configs.from_reference_schema('token_blocking', 'L1', 'D1')``
    decodes ``l1/schemaBased/TokenBlocking.java:32-41`` dataset 0 (the
    restaurants pair at recall level L1 — no purging, BlockFiltering grid
    35 -> ratio 0.9, CBS weights, RECIPROCAL_CARDINALITY_NODE_PRUNING) and
    drives P3 projection -> tuned blocking -> tuned cleaning end-to-end:
    profiles reduced to ONE attribute before blocking exactly as the
    driver's ``<dataset>_<attribute>`` inputs are (here the engine's
    ``title`` span kind stands in for the cell's ``Name`` column), sides =
    the even/odd doc_id split."""
    from continuousfilteringbenchmark_spark import configs
    from continuousfilteringbenchmark_spark.datamodel import (
        documents_to_docs,
        project_kind,
    )
    from continuousfilteringbenchmark_spark.operators import blocking as B

    cfg = configs.from_reference_schema("token_blocking", "L1", "D1")
    assert cfg.attribute == "Name" and not cfg.block_purging
    docs = documents_to_docs(_documents(spark, sf_dir))
    sided = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias("side"),
        project_kind("spans", "title").alias("text"),
    )
    blocks = B.standard_blocking(sided, "text")
    if cfg.bf_ratio is not None:
        blocks = B.block_filtering(blocks, cfg.bf_ratio, clean_clean=True)
    return configs.candidate_pairs_from_reference(blocks, cfg, clean_clean=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ordering is a certification rotation, not cosmetics: the
    correctness driver verifies a PREFIX of this dict (~50 queries/round),
    so entries are ordered least-recently-certified first. Round-5 prefix =
    this round's 4 additions (bucketed_scoring, tuned_dirty_workflow,
    tuned_schema_workflow, unique_mapping_pairs — the last now carrying its
    first exact oracle), then the 35 queries the r4 driver rotated out
    (certified r3 + re-verified locally in r4), then every query backed by
    a module this round touched (plans/pipeline.py consumers and the
    configs.py tuned replays), then minhash_dedup. Queries past the prefix
    hold green rows from round 4 (`CORRECTNESS_r04.json`) on code round 5
    does not change — a contract now ENFORCED by
    tests/test_rotation_contract.py, not just asserted here.

    The driver-side connected components in ``operators/cluster.py`` put
    every clustering/dedup query under that contract, so the seven of them
    that sat past the prefix (duplicated_ngram_spans, contamination_flags,
    repetition_signals, fs_er_clusters, dedup_assignments, exact_dedup,
    corpus_curation) moved to its end. To make room, seven r5-certified
    queries backed by no changed module (jedai_workflow through
    windowed_ingest) moved to the end of the registry, behind the
    r4-certified ones, so they come up last for re-certification.
    """
    return {
        # -- new this round (3 new queries + first exact oracle) ----------
        "bucketed_scoring": q_bucketed_scoring,
        "tuned_dirty_workflow": q_tuned_dirty_workflow,
        "tuned_schema_workflow": q_tuned_schema_workflow,
        "unique_mapping_pairs": q_unique_mapping_pairs,
        # -- rotated out by the r4 driver (r3-certified + r4 local sweep) --
        "epsilon_join_prefix": q_epsilon_join_prefix,
        "metablocking_js_wep": q_metablocking_js_wep,
        "metablocking_cbs_cnp": q_metablocking_cbs_cnp,
        "ngram_dedup_pairs": q_ngram_dedup_pairs,
        "knn_embeddings": q_knn_embeddings,
        "range_search_embeddings": q_range_search_embeddings,
        "qgrams_blocks": q_qgrams_blocks,
        "suffix_blocks": q_suffix_blocks,
        "metablocking_ecbs_wnp": q_metablocking_ecbs_wnp,
        "metablocking_arcs_cep": q_metablocking_arcs_cep,
        "topk_join_multiset": q_topk_join_multiset,
        "edit_distance_pairs": q_edit_distance_pairs,
        "span_invariant": q_span_invariant,
        "extended_suffix_blocks": q_extended_suffix_blocks,
        "blast_pairs": q_blast_pairs,
        "metablocking_rcnp": q_metablocking_rcnp,
        "metablocking_rwnp": q_metablocking_rwnp,
        "metablocking_dice_wep": q_metablocking_dice_wep,
        "metablocking_sizenorm_js_cnp": q_metablocking_sizenorm_js_cnp,
        "metablocking_ejs_cep": q_metablocking_ejs_cep,
        "qgrams_workflow": q_qgrams_workflow,
        "blocking_quality": q_blocking_quality,
        "embedding_dedup": q_embedding_dedup,
        "schema_based_ejoin": q_schema_based_ejoin,
        "incremental_blocking": q_incremental_blocking,
        "streaming_dedup": q_streaming_dedup,
        "continuous_er": q_continuous_er,
        "range_search_multiprobe": q_range_search_multiprobe,
        # -- backed by round-5-changed modules: re-certify ------------------
        "clean_clean_er": q_clean_clean_er,
        "best_match_pairs": q_best_match_pairs,
        "er_clusters": q_er_clusters,
        "cluster_diagnostics": q_cluster_diagnostics,
        "ari_components": q_ari_components,
        "golden_records": q_golden_records,
        "bcubed_per_doc": q_bcubed_per_doc,
        "tuned_workflow": q_tuned_workflow,
        "tuned_topk": q_tuned_topk,
        "tuned_ejoin": q_tuned_ejoin,
        "minhash_dedup": q_minhash_dedup,
        # -- backed by operators/cluster.py (driver-side CC): re-certify ---
        "duplicated_ngram_spans": q_duplicated_ngram_spans,
        "contamination_flags": q_contamination_flags,
        "repetition_signals": q_repetition_signals,
        "fs_er_clusters": q_fs_er_clusters,
        "dedup_assignments": q_dedup_assignments,
        "exact_dedup": q_exact_dedup,
        "corpus_curation": q_corpus_curation,
        # -- r4 driver-green on code round 5 does not change ----------------
        "sorted_neighborhood": q_sorted_neighborhood,
        "fs_agreements": q_fs_agreements,
        "fs_weights": q_fs_weights,
        "fs_scores": q_fs_scores,
        "fs_em_posterior": q_fs_em_posterior,
        "fs_gamma_weights": q_fs_gamma_weights,
        "fs_gamma_scores": q_fs_gamma_scores,
        "weighted_epsilon_join": q_weighted_epsilon_join,
        "phonetic_blocks": q_phonetic_blocks,
        "deepblocker_pairs": q_deepblocker_pairs,
        "knn_ivf_approx": q_knn_ivf_approx,
        "knn_sq8": q_knn_sq8,
        "knn_pq": q_knn_pq,
        "knn_ivfpq": q_knn_ivfpq,
        "simhash_dedup": q_simhash_dedup,
        "knn_ivf_embeddings": q_knn_ivf_embeddings,
        "media_features": q_media_features,
        "hyperplane_lsh": q_hyperplane_lsh,
        "shingle_count_vectors": q_shingle_count_vectors,
        "ngram_bool_vectors": q_ngram_bool_vectors,
        "crosspolytope_multiprobe": q_crosspolytope_multiprobe,
        "text_profile": q_text_profile,
        "lang_histogram": q_lang_histogram,
        "token_blocks": q_token_blocks,
        "block_purging": q_block_purging,
        "block_filtering": q_block_filtering,
        "range_search_lsh": q_range_search_lsh,
        "jaro_winkler_pairs": q_jaro_winkler_pairs,
        "candidate_pairs": q_candidate_pairs,
        "epsilon_join": q_epsilon_join,
        "topk_join": q_topk_join,
        # -- r5 driver-green, pushed out of the prefix; code unchanged ------
        "jedai_workflow": q_jedai_workflow,
        "topk_join_fivegram": q_topk_join_fivegram,
        "schema_based_topk": q_schema_based_topk,
        "extended_qgrams_blocks": q_extended_qgrams_blocks,
        "crosspolytope_lsh": q_crosspolytope_lsh,
        "crossmodal_candidates": q_crossmodal_candidates,
        "windowed_ingest": q_windowed_ingest,
    }


# --------------------------------------------------------------- oracles

# shared CTE fragments (DuckDB SQL) ---------------------------------------

# SET-semantics word tokens of lower(trim(text)); same regex class as the
# Spark tokenizer (functions/tokenize.py word_token_set)
_TOKS = r"""
toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[\W_]+'),
                              t -> t <> '')) AS tok
    FROM documents
  )
),
tsz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id)
"""

# dirty-ER block stats over the token-block table (comparisons = n(n-1)/2)
_BSTATS = r"""
bstats AS (
  SELECT tok AS block_key, count(*) AS bs,
         CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS comp
  FROM toks GROUP BY tok
)
"""

# parameter-free Block Purging cutoff (mirrors blocking.purging_threshold:
# per-level cumulative assignments + per-BLOCK-weighted cumulative
# comparisons; cutoff = largest justified cardinality — justified when the
# marginal trade-off beats smoothing 1.025 OR everything below has cc=0 —
# clamped to >= floor(25 * median per-block cardinality))
_PURGE = r"""
hist AS (SELECT comp, sum(bs) AS assignments, count(*) AS n_blocks
         FROM bstats GROUP BY comp),
cum AS (
  SELECT comp,
         sum(assignments)     OVER (ORDER BY comp) AS bc,
         sum(comp * n_blocks) OVER (ORDER BY comp) AS cc,
         row_number()         OVER (ORDER BY comp) AS rn
  FROM hist
),
cnd AS (
  SELECT comp, rn, bc,
         ((CAST(cc AS DOUBLE) * lag(bc) OVER (ORDER BY comp))
            < (1.025 * lag(cc) OVER (ORDER BY comp) * CAST(bc AS DOUBLE)))
         OR (lag(cc) OVER (ORDER BY comp) = 0) AS ok
  FROM cum
),
thr AS (
  SELECT greatest(
           coalesce((SELECT max(comp) FROM cnd WHERE ok AND rn > 1),
                    (SELECT min(comp) FROM cnd)),
           (SELECT floor(25.0 * median(comp)) FROM bstats)
         ) AS t
),
purged AS (
  SELECT t.tok AS block_key, t.doc_id
  FROM toks t JOIN bstats b ON b.block_key = t.tok CROSS JOIN thr
  WHERE b.comp <= thr.t
)
"""

# Block Filtering ratio=0.5 over the purged table (stats recomputed on it;
# rank by comparisons asc, block_key asc; keep round(n*0.5) smallest)
def _filter_sql(ratio: float = 0.5) -> str:
    """Block-filtering CTE over ``purged`` -> ``filtered`` (keep each doc in
    the ``ratio`` smallest of its blocks, ties by key)."""
    return f"""
pstats AS (
  SELECT block_key, CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS comp
  FROM purged GROUP BY block_key
),
ranked AS (
  SELECT p.doc_id, p.block_key,
         row_number() OVER (PARTITION BY p.doc_id
                            ORDER BY s.comp ASC, p.block_key ASC) AS rk,
         count(*)     OVER (PARTITION BY p.doc_id) AS nb
  FROM purged p JOIN pstats s USING (block_key)
),
filtered AS (
  SELECT doc_id, block_key FROM ranked
  WHERE rk <= CAST(round(CAST(nb AS DOUBLE) * {ratio}) AS INT)
)
"""


_FILTER = _filter_sql(0.5)

# english marker lexicon (functions/text.py _LANG_MARKERS)
_EN = "['the','and','of','to','in','is','that','with','for','was']"
_ES = "['el','la','de','que','los','las','una','por','con','para']"
_FR = "['le','la','les','des','est','une','dans','pour','qui','sur']"
_DE = "['der','die','das','und','ist','nicht','mit','ein','von','zu']"

# per-doc language/quality profile ingredients (bag tokens, duplicates kept)
_PROFILE = rf"""
bag AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(trim(text)), '[\W_]+'),
                     t -> t <> '') AS l
  FROM documents
),
prof AS (
  SELECT doc_id, text, l,
         len(l) AS n_toks,
         len(list_filter(l, t -> list_contains({_EN}, t))) AS s_en,
         len(list_filter(l, t -> list_contains({_ES}, t))) AS s_es,
         len(list_filter(l, t -> list_contains({_FR}, t))) AS s_fr,
         len(list_filter(l, t -> list_contains({_DE}, t))) AS s_de
  FROM bag
),
lang AS (
  SELECT *,
         greatest(s_en, s_es, s_fr, s_de) AS best,
         CASE WHEN s_en = greatest(s_en, s_es, s_fr, s_de)
                   AND greatest(s_en, s_es, s_fr, s_de) > 0 THEN 'en'
              WHEN s_es = greatest(s_en, s_es, s_fr, s_de)
                   AND greatest(s_en, s_es, s_fr, s_de) > 0 THEN 'es'
              WHEN s_fr = greatest(s_en, s_es, s_fr, s_de)
                   AND greatest(s_en, s_es, s_fr, s_de) > 0 THEN 'fr'
              WHEN s_de = greatest(s_en, s_es, s_fr, s_de)
                   AND greatest(s_en, s_es, s_fr, s_de) > 0 THEN 'de'
              ELSE 'und' END AS lang_pred
  FROM prof
)
"""

# char 3-gram SET of lower(trim(text)); short-string fallback keeps the
# whole string (functions/tokenize.py char_ngram_set)
_GRAMS3 = r"""
grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(CASE WHEN length(s) < 3 THEN [s]
                  ELSE list_distinct(list_transform(generate_series(1, length(s) - 2),
                                                    i -> substring(s, i, 3))) END) AS g
    FROM (SELECT doc_id, lower(trim(text)) AS s FROM documents)
  )
),
gsz AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id)
"""

# normalized embedding vectors as double lists
_NVEC = r"""
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
nv AS (
  SELECT vec_id,
         CASE WHEN nrm > 0 THEN list_transform(e, x -> x / nrm) ELSE e END AS u
  FROM (SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
        FROM v)
)
"""


# multiset word tokens: tok || occurrence-index (0-based count of equal
# tokens earlier in the bag) — P6 semantics (functions/tokenize.py
# word_token_multiset); duplicates reified so |bag| = len(l)
_MTOKS = r"""
bag AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '[\W_]+'),
                     t -> t <> '') AS l
  FROM documents
),
pos AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(l)),
                               i -> struct_pack(tok := l[i], pos := i))) AS s
  FROM bag
),
mtoks AS (
  SELECT doc_id,
         s.tok || CAST(row_number() OVER (PARTITION BY doc_id, s.tok
                                          ORDER BY s.pos) - 1 AS VARCHAR) AS tok
  FROM pos
),
msz AS (SELECT doc_id, count(*) AS sz FROM mtoks GROUP BY doc_id)
"""

# clean-clean token blocks (side A = even doc_id, B = odd) + CC purging
# (comparisons = n_a * n_b, assignments = n_a + n_b; same histogram scan as
# the dirty _PURGE — mirrors blocking.purging_threshold with smoothing 1.025)
_CC_PURGE = r"""
cctoks AS (
  SELECT DISTINCT doc_id, doc_id % 2 = 0 AS is_a, tok FROM (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[\W_]+'),
                              t -> t <> '')) AS tok
    FROM documents
  )
),
ccb AS (
  SELECT tok AS block_key,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS n_b
  FROM cctoks GROUP BY tok
),
ccbstats AS (
  SELECT block_key, (n_a + n_b) AS bs, CAST(n_a * n_b AS BIGINT) AS comp FROM ccb
),
cchist AS (SELECT comp, sum(bs) AS assignments, count(*) AS n_blocks
           FROM ccbstats GROUP BY comp),
cccum AS (
  SELECT comp,
         sum(assignments)     OVER (ORDER BY comp) AS bc,
         sum(comp * n_blocks) OVER (ORDER BY comp) AS cc,
         row_number()         OVER (ORDER BY comp) AS rn
  FROM cchist
),
cccnd AS (
  SELECT comp, rn, bc,
         ((CAST(cc AS DOUBLE) * lag(bc) OVER (ORDER BY comp))
            < (1.025 * lag(cc) OVER (ORDER BY comp) * CAST(bc AS DOUBLE)))
         OR (lag(cc) OVER (ORDER BY comp) = 0) AS ok
  FROM cccum
),
ccthr AS (
  SELECT greatest(
           coalesce((SELECT max(comp) FROM cccnd WHERE ok AND rn > 1),
                    (SELECT min(comp) FROM cccnd)),
           (SELECT floor(25.0 * median(comp)) FROM ccbstats)
         ) AS t
),
ccpurged AS (
  SELECT t.tok AS block_key, t.doc_id, t.is_a
  FROM cctoks t JOIN ccbstats b ON b.block_key = t.tok CROSS JOIN ccthr
  WHERE b.comp <= ccthr.t
)
"""


# ---- seeded-signature fragment builders ---------------------------------
# These replay the engine's md5-derived integer math (operators/lsh.py) in
# DuckDB SQL: token/plane hashes come from md5 hex substrings, universal
# hashes use coefficients small enough that every product stays exact in
# int64, so candidate sets match the Spark operators bit-for-bit.


def _minhash_sql(
    n: int = 5,
    threshold: float = 0.7,
    n_bands: int = 32,
    n_buckets: int = 4096,
    seed: int = 42,
) -> str:
    """CTE chain mirroring ``minhash_near_duplicates`` (char-n-gram set ->
    seeded minhash bands -> co-bucket candidates -> exact-Jaccard verify).
    Exposes ``mh_scored(left_id, right_id, score)``."""
    from continuousfilteringbenchmark_spark.operators.lsh import (
        _LARGE_PRIME,
        _MINHASH_P,
        _hash_params,
        rows_per_band,
    )

    r = rows_per_band(n_bands, threshold)
    n_hashes = n_bands * r
    a, b = _hash_params(n_hashes, seed)
    A = "[" + ",".join(str(int(v)) for v in a) + "]"
    B = "[" + ",".join(str(int(v)) for v in b) + "]"
    return f"""
mh_g AS (
  SELECT doc_id, CASE WHEN length(s) < {n} THEN [s]
         ELSE list_distinct(list_transform(generate_series(1, length(s) - {n - 1}),
                                           i -> substring(s, i, {n}))) END AS gl
  FROM (SELECT doc_id, lower(trim(text)) AS s FROM documents)
),
mh_sz AS (SELECT doc_id, len(gl) AS sz FROM mh_g),
mh_x AS (
  SELECT doc_id,
         list_transform(gl, g -> CAST('0x' || substring(md5(g), 1, 10) AS BIGINT)) AS xs
  FROM mh_g WHERE len(gl) > 0
),
mh_ab AS MATERIALIZED (
  SELECT ii.i AS i, ({A})[ii.i] AS a, ({B})[ii.i] AS b
  FROM generate_series(1, {n_hashes}) ii(i)
),
mh_sig AS (
  -- (token x hash-function) cross product with a grouped min: the
  -- vectorized shape DuckDB executes fast (per-row list lambdas rebuild the
  -- {n_hashes}-element coefficient literal per evaluation — 100x slower)
  SELECT t.doc_id, ab.i, min((ab.a * t.x + ab.b) % {_MINHASH_P}) AS s
  FROM (SELECT doc_id, unnest(xs) AS x FROM mh_x) t
  CROSS JOIN mh_ab ab
  GROUP BY t.doc_id, ab.i
),
mh_bkt AS (
  SELECT doc_id, CAST((i - 1) // {r} AS INT) AS band,
         ((sum(s) % {_MINHASH_P}) * {_LARGE_PRIME}) % {n_buckets} AS bucket
  FROM mh_sig GROUP BY doc_id, band
),
mh_cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM mh_bkt a
  JOIN mh_bkt b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
mh_tok AS (SELECT doc_id, unnest(gl) AS g FROM mh_g),
mh_common AS (
  SELECT c.left_id, c.right_id, count(*) AS cc
  FROM mh_cand c
  JOIN mh_tok a ON a.doc_id = c.left_id
  JOIN mh_tok b ON b.doc_id = c.right_id AND a.g = b.g
  GROUP BY c.left_id, c.right_id
),
mh_scored AS (
  SELECT m.left_id, m.right_id,
         CAST(m.cc AS DOUBLE) / (l.sz + r.sz - m.cc) AS score
  FROM mh_common m
  JOIN mh_sz l ON l.doc_id = m.left_id
  JOIN mh_sz r ON r.doc_id = m.right_id
  WHERE CAST(m.cc AS DOUBLE) / (l.sz + r.sz - m.cc) >= {threshold}
)"""


def _hyperplane_sql(
    n_tables: int,
    n_bits: int,
    seed: int = 5721840,
    dim: int = 64,
    center: bool = True,
    n_probes: int = 0,
) -> str:
    """CTE chain mirroring ``hyperplane_bands`` + ``lsh_candidates`` over the
    normalized embeddings (requires the ``nv``/``v`` CTEs from _NVEC).
    Exposes ``hp_cand(left_id, right_id)``. With ``n_probes`` > 0 it also
    replays the multiprobe sequence (flip the n least-confident bits, ranked
    by round(|dot|, 9) with bit-index tie-break — the identical ranking the
    numpy side computes) and joins probe buckets against base buckets with
    canonical least/greatest pair ordering."""
    if center:
        mean_cte = (
            f"hp_m AS (SELECT d.d, avg(v.e[d.d + 1]) AS m "
            f"FROM v CROSS JOIN generate_series(0, {dim - 1}) d(d) GROUP BY d.d)"
        )
    else:
        mean_cte = (
            f"hp_m AS (SELECT d.d, 0.0 AS m FROM generate_series(0, {dim - 1}) d(d))"
        )
    return f"""
{mean_cte},
hp_w AS (
  SELECT t.t, b.b, d.d,
         CAST('0x' || substring(md5('hp:{seed}:' || CAST(t.t AS VARCHAR) || ':'
                                    || CAST(b.b AS VARCHAR) || ':'
                                    || CAST(d.d AS VARCHAR)), 1, 10) AS BIGINT)
           / 1099511627776.0 - 0.5 AS w
  FROM generate_series(0, {n_tables - 1}) t(t)
  CROSS JOIN generate_series(0, {n_bits - 1}) b(b)
  CROSS JOIN generate_series(0, {dim - 1}) d(d)
),
hp_x AS (
  SELECT nv.vec_id, m.d, nv.u[m.d + 1] - m.m AS x
  FROM nv CROSS JOIN hp_m m
),
hp_dot AS (
  SELECT x.vec_id, w.t, w.b, sum(w.w * x.x) AS dot
  FROM hp_x x JOIN hp_w w ON w.d = x.d
  GROUP BY x.vec_id, w.t, w.b
),
hp_bkt AS (
  SELECT vec_id, t AS band,
         CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << b
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
  FROM hp_dot GROUP BY vec_id, t
),{'' if n_probes <= 0 else f'''
hp_rank AS (
  SELECT vec_id, t, b,
         row_number() OVER (PARTITION BY vec_id, t
                            ORDER BY round(abs(dot), 9) ASC, b ASC) AS rk
  FROM hp_dot
),
hp_probe AS (
  SELECT k.vec_id, k.band,
         xor(k.bucket, CAST(1 AS BIGINT) << r.b) AS bucket
  FROM hp_bkt k
  JOIN hp_rank r ON r.vec_id = k.vec_id AND r.t = k.band
  WHERE r.rk <= {min(n_probes, n_bits)}
  UNION ALL
  SELECT vec_id, band, bucket FROM hp_bkt
),'''}
hp_cand AS (
{f'''  SELECT DISTINCT least(p.vec_id, k.vec_id) AS left_id,
                  greatest(p.vec_id, k.vec_id) AS right_id
  FROM hp_probe p
  JOIN hp_bkt k ON k.band = p.band AND k.bucket = p.bucket
                AND k.vec_id <> p.vec_id''' if n_probes > 0 else '''  SELECT DISTINCT a.vec_id AS left_id, b.vec_id AS right_id
  FROM hp_bkt a
  JOIN hp_bkt b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id'''}
)"""


def _crosspolytope_sql(
    n_tables: int = 8,
    n_rotations: int = 2,
    proj_dim: int = 16,
    seed: int = 5721840,
    dim: int = 64,
    n_probes: int = 0,
) -> str:
    """CTE chain mirroring ``crosspolytope_bands`` + ``lsh_candidates``
    (requires _NVEC). Exposes ``cp_cand(left_id, right_id)``.

    ``n_probes > 0`` replays the single-substitution probe sequence: ranks
    by round(abs(pj), 9) (vertex AND margin — matching the Spark probe
    variant's rounded ordering), probes flip the weakest-margin rotation
    to its runner-up vertex, probe buckets join BASE buckets, canonical
    least/greatest pair order."""
    base = 2 * proj_dim
    if n_probes:
        return f"""
cp_w AS (
  SELECT t.t, r.r, p.p, d.d,
         CAST('0x' || substring(md5('cp:{seed}:' || CAST(t.t AS VARCHAR) || ':'
                                    || CAST(r.r AS VARCHAR) || ':'
                                    || CAST(p.p AS VARCHAR) || ':'
                                    || CAST(d.d AS VARCHAR)), 1, 10) AS BIGINT)
           / 1099511627776.0 - 0.5 AS w
  FROM generate_series(0, {n_tables - 1}) t(t)
  CROSS JOIN generate_series(0, {n_rotations - 1}) r(r)
  CROSS JOIN generate_series(0, {proj_dim - 1}) p(p)
  CROSS JOIN generate_series(0, {dim - 1}) d(d)
),
cp_proj AS (
  SELECT x.vec_id, w.t, w.r, w.p, sum(w.w * x.x) AS pj
  FROM (SELECT nv.vec_id, d.d, nv.u[d.d + 1] AS x
        FROM nv CROSS JOIN generate_series(0, {dim - 1}) d(d)) x
  JOIN cp_w w ON w.d = x.d
  GROUP BY x.vec_id, w.t, w.r, w.p
),
cp_rk AS (
  SELECT vec_id, t, r, p, pj, round(abs(pj), 9) AS m,
         row_number() OVER (PARTITION BY vec_id, t, r
                            ORDER BY round(abs(pj), 9) DESC, p ASC) AS rn
  FROM cp_proj
),
cp_best AS (
  SELECT b.vec_id, b.t, b.r,
         b.p * 2 + CASE WHEN b.pj < 0 THEN 1 ELSE 0 END AS v1,
         s.p * 2 + CASE WHEN s.pj < 0 THEN 1 ELSE 0 END AS v2,
         b.m - s.m AS margin
  FROM (SELECT * FROM cp_rk WHERE rn = 1) b
  JOIN (SELECT * FROM cp_rk WHERE rn = 2) s
    ON s.vec_id = b.vec_id AND s.t = b.t AND s.r = b.r
),
cp_base AS (
  SELECT vec_id, t AS band,
         CAST(sum(v1 * CAST(power({base}, r) AS BIGINT)) AS BIGINT) AS bucket
  FROM cp_best GROUP BY vec_id, t
),
cp_probe_rk AS (
  SELECT vec_id, t, r, v1, v2,
         row_number() OVER (PARTITION BY vec_id, t
                            ORDER BY margin ASC, r ASC) AS j
  FROM cp_best
),
cp_probes AS (
  SELECT p.vec_id, p.t AS band,
         b.bucket + (p.v2 - p.v1) * CAST(power({base}, p.r) AS BIGINT) AS bucket
  FROM cp_probe_rk p
  JOIN cp_base b ON b.vec_id = p.vec_id AND b.band = p.t
  WHERE p.j <= {n_probes}
),
cp_all AS (
  SELECT vec_id, band, bucket FROM cp_base
  UNION ALL
  SELECT vec_id, band, bucket FROM cp_probes
),
cp_cand AS (
  SELECT DISTINCT least(a.vec_id, b.vec_id) AS left_id,
                  greatest(a.vec_id, b.vec_id) AS right_id
  FROM cp_all a
  JOIN cp_base b ON a.band = b.band AND a.bucket = b.bucket
                AND a.vec_id <> b.vec_id
)"""
    return f"""
cp_w AS (
  SELECT t.t, r.r, p.p, d.d,
         CAST('0x' || substring(md5('cp:{seed}:' || CAST(t.t AS VARCHAR) || ':'
                                    || CAST(r.r AS VARCHAR) || ':'
                                    || CAST(p.p AS VARCHAR) || ':'
                                    || CAST(d.d AS VARCHAR)), 1, 10) AS BIGINT)
           / 1099511627776.0 - 0.5 AS w
  FROM generate_series(0, {n_tables - 1}) t(t)
  CROSS JOIN generate_series(0, {n_rotations - 1}) r(r)
  CROSS JOIN generate_series(0, {proj_dim - 1}) p(p)
  CROSS JOIN generate_series(0, {dim - 1}) d(d)
),
cp_proj AS (
  SELECT x.vec_id, w.t, w.r, w.p, sum(w.w * x.x) AS pj
  FROM (SELECT nv.vec_id, d.d, nv.u[d.d + 1] AS x
        FROM nv CROSS JOIN generate_series(0, {dim - 1}) d(d)) x
  JOIN cp_w w ON w.d = x.d
  GROUP BY x.vec_id, w.t, w.r, w.p
),
cp_v AS (
  SELECT vec_id, t, r, p * 2 + CASE WHEN pj < 0 THEN 1 ELSE 0 END AS vertex
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, t, r
                                     ORDER BY abs(pj) DESC, p ASC) AS rn
        FROM cp_proj)
  WHERE rn = 1
),
cp_bkt AS (
  SELECT vec_id, t AS band,
         CAST(sum(vertex * CAST(power({base}, r) AS BIGINT)) AS BIGINT) AS bucket
  FROM cp_v GROUP BY vec_id, t
),
cp_cand AS (
  SELECT DISTINCT a.vec_id AS left_id, b.vec_id AS right_id
  FROM cp_bkt a
  JOIN cp_bkt b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)"""


# SimHash fingerprints as two unsigned 32-bit halves (mirrors
# operators/lsh.py simhash64: md5 hex halves per token, +/-1 bit votes).
# The chunk blocking is lossless for hamming <= 3, so the oracle is the
# brute-force all-pairs filter. Requires _TOKS.
_SIMHASH = r"""
sh AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) AS hi,
         CAST('0x' || substring(md5(tok), 9, 8) AS BIGINT) AS lo
  FROM toks
),
shv AS (
  SELECT doc_id, ii.i,
         2 * sum(CASE WHEN ii.i < 32 THEN (lo >> ii.i) & 1
                      ELSE (hi >> (ii.i - 32)) & 1 END) - count(*) AS vote
  FROM sh CROSS JOIN generate_series(0, 63) ii(i)
  GROUP BY doc_id, ii.i
),
shfp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0 AND i < 32
                       THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT) AS fp_lo,
         CAST(sum(CASE WHEN vote > 0 AND i >= 32
                       THEN CAST(1 AS BIGINT) << (i - 32) ELSE 0 END) AS BIGINT) AS fp_hi
  FROM shv GROUP BY doc_id
)
"""

# Fellegi-Sunter shared fragments: token-blocking candidate pairs with the
# per-pair common-token count, joined to both docs' fields -> the agreement
# vector gamma + the exact-duplicate label, all in integer arithmetic
_FS_AGR = f"""{_TOKS},
            fs_pairs AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            agr AS (
              -- COALESCE(..., 0) mirrors the Spark side's _nulls_disagree
              -- contract: a NULL field value counts as DISagreement, it
              -- must not NULL-out the agreement bit (or drop the row from
              -- downstream sums)
              SELECT p.left_id, p.right_id,
                     COALESCE(CAST(l.lang = r.lang AS INT), 0) AS a_lang,
                     COALESCE(CAST(l.source = r.source AS INT), 0) AS a_source,
                     COALESCE(CAST(abs(l.n_chars - r.n_chars) * 5
                          <= greatest(l.n_chars, r.n_chars) AS INT), 0) AS a_len,
                     CAST(p.c * 2 >= (ls.sz + rs.sz - p.c) AS INT) AS a_jac,
                     COALESCE(CAST(lower(trim(l.text)) = lower(trim(r.text)) AS INT), 0)
                       AS is_match
              FROM fs_pairs p
              JOIN documents l ON l.doc_id = p.left_id
              JOIN documents r ON r.doc_id = p.right_id
              JOIN tsz ls ON ls.doc_id = p.left_id
              JOIN tsz rs ON rs.doc_id = p.right_id
            )"""

# one-row supervised m/u estimate with add-one smoothing (count ratios)
_FS_WTS_COLS = ",\n                   ".join(
    ["CAST(sum(is_match) AS BIGINT) AS n_match",
     "CAST(sum(1 - is_match) AS BIGINT) AS n_unmatch"]
    + [
        c
        for f in ("lang", "source", "len", "jac")
        for c in (
            f"CAST(sum(a_{f} * is_match) + 1 AS DOUBLE)"
            f" / CAST(sum(is_match) + 2 AS DOUBLE) AS m_{f}",
            f"CAST(sum(a_{f} * (1 - is_match)) + 1 AS DOUBLE)"
            f" / CAST(sum(1 - is_match) + 2 AS DOUBLE) AS u_{f}",
        )
    ]
)

# graded-gamma agreement CTE: same join spine as _FS_AGR, level-valued
# gamma columns (strictest CASE branch first — mirrors the Spark chain)
_FS_GAGR = f"""{_TOKS},
            fs_pairs AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            gagr AS (
              -- COALESCE / CASE-to-ELSE on NULL fields == Spark's
              -- _nulls_disagree (NULL field -> level 0)
              SELECT p.left_id, p.right_id,
                     COALESCE(CAST(l.lang = r.lang AS INT), 0) AS a_lang,
                     CASE WHEN abs(l.n_chars - r.n_chars) * 10
                               <= greatest(l.n_chars, r.n_chars) THEN 2
                          WHEN abs(l.n_chars - r.n_chars) * 10
                               <= 3 * greatest(l.n_chars, r.n_chars) THEN 1
                          ELSE 0 END AS a_len,
                     CASE WHEN p.c * 2 >= (ls.sz + rs.sz - p.c) THEN 2
                          WHEN p.c * 4 >= (ls.sz + rs.sz - p.c) THEN 1
                          ELSE 0 END AS a_jac,
                     COALESCE(CAST(lower(trim(l.text)) = lower(trim(r.text)) AS INT), 0)
                       AS is_match
              FROM fs_pairs p
              JOIN documents l ON l.doc_id = p.left_id
              JOIN documents r ON r.doc_id = p.right_id
              JOIN tsz ls ON ls.doc_id = p.left_id
              JOIN tsz rs ON rs.doc_id = p.right_id
            )"""

_FS_GAMMA_SPEC = {"lang": 2, "len": 3, "jac": 3}

# one-row per-level m/u estimate (per-level Laplace: denominator + L)
_FS_GWTS_COLS = ",\n                   ".join(
    ["CAST(sum(is_match) AS BIGINT) AS n_match",
     "CAST(sum(1 - is_match) AS BIGINT) AS n_unmatch"]
    + [
        c
        for f, L in _FS_GAMMA_SPEC.items()
        for lv in range(L)
        for c in (
            f"CAST(sum(CASE WHEN a_{f} = {lv} THEN is_match ELSE 0 END) + 1"
            f" AS DOUBLE) / CAST(sum(is_match) + {L} AS DOUBLE) AS m_{f}_{lv}",
            f"CAST(sum(CASE WHEN a_{f} = {lv} THEN 1 - is_match ELSE 0 END) + 1"
            f" AS DOUBLE) / CAST(sum(1 - is_match) + {L} AS DOUBLE) AS u_{f}_{lv}",
        )
    ]
)

# fixed-field-order product of per-level CASE terms
_FS_GLR = " * ".join(
    "(CASE "
    + " ".join(
        f"WHEN a.a_{f} = {lv} THEN w.m_{f}_{lv} / w.u_{f}_{lv}" for lv in range(L)
    )
    + " END)"
    for f, L in _FS_GAMMA_SPEC.items()
)

# phonetic-key digit translation with per-digit run collapse (no regex
# backreferences — RE2 parity with the Spark expression chain)
_PHONETIC_COLLAPSE_SQL = (
    "translate(substring(tok, 2, 1000000), 'abcdefghijklmnopqrstuvwxyz',"
    " '01230120022455012623010202')"
)
for _c in "0123456":
    _PHONETIC_COLLAPSE_SQL = (
        f"regexp_replace({_PHONETIC_COLLAPSE_SQL}, '{_c}{{2,}}', '{_c}', 'g')"
    )


def _pq_cte(seed: int, k_sub: int = 16) -> str:
    """PQ codebook/encode/reconstruction CTE block over `nv` (embeddings,
    d=64, m=8 subspaces, ``k_sub`` codewords): sampled codebook = the
    k_sub rows with the smallest md5("id:seed") keys; per-subspace
    L2-nearest code (tie: smallest); recon = concatenated codewords in
    subspace order."""
    return f"""sampr AS (
              SELECT u,
                     row_number() OVER (
                       ORDER BY CAST('0x' || substring(
                                  md5(CAST(vec_id AS VARCHAR) || ':{seed}'), 1, 10)
                                AS BIGINT) ASC,
                                CAST(vec_id AS VARCHAR) ASC) - 1 AS j
              FROM nv
            ),
            samp AS (SELECT u, j FROM sampr WHERE j < {k_sub}),
            dists AS (
              SELECT n.vec_id, ii.i, s.j,
                     list_sum(list_transform(generate_series(1, 8),
                       dd -> (n.u[ii.i * 8 + dd] - s.u[ii.i * 8 + dd])
                           * (n.u[ii.i * 8 + dd] - s.u[ii.i * 8 + dd]))) AS dist
              FROM nv n
              CROSS JOIN generate_series(0, 7) ii(i)
              CROSS JOIN samp s
            ),
            pqcodes AS (
              SELECT vec_id, i, j AS code FROM (
                SELECT vec_id, i, j,
                       row_number() OVER (PARTITION BY vec_id, i
                                          ORDER BY dist ASC, j ASC) AS rn
                FROM dists
              ) WHERE rn = 1
            ),
            rec AS (
              SELECT cd.vec_id,
                     flatten(list(list_slice(s.u, cd.i * 8 + 1, cd.i * 8 + 8)
                                  ORDER BY cd.i)) AS recon
              FROM pqcodes cd JOIN samp s ON s.j = cd.code
              GROUP BY cd.vec_id
            )"""


# per-pair likelihood-ratio CTE (fixed field order, left-associated
# product), over `agr` and the one-row `wts` — shared by fs_scores and
# fs_er_clusters
_FS_LR = """lrt AS (
              SELECT a.left_id, a.right_id,
                   (CASE WHEN a.a_lang = 1 THEN w.m_lang / w.u_lang
                         ELSE (CAST(1 AS DOUBLE) - w.m_lang)
                              / (CAST(1 AS DOUBLE) - w.u_lang) END)
                 * (CASE WHEN a.a_source = 1 THEN w.m_source / w.u_source
                         ELSE (CAST(1 AS DOUBLE) - w.m_source)
                              / (CAST(1 AS DOUBLE) - w.u_source) END)
                 * (CASE WHEN a.a_len = 1 THEN w.m_len / w.u_len
                         ELSE (CAST(1 AS DOUBLE) - w.m_len)
                              / (CAST(1 AS DOUBLE) - w.u_len) END)
                 * (CASE WHEN a.a_jac = 1 THEN w.m_jac / w.u_jac
                         ELSE (CAST(1 AS DOUBLE) - w.m_jac)
                              / (CAST(1 AS DOUBLE) - w.u_jac) END) AS lr
              FROM agr a CROSS JOIN wts w
            )"""

# per-pattern class likelihoods from dyadic-rational init weights, in the
# same fixed field order as the Spark expression (left-associated product)
_FS_P1 = " * ".join(
    f"(CASE WHEN a_{f} = 1 THEN CAST(0.875 AS DOUBLE)"
    f" ELSE CAST(0.125 AS DOUBLE) END)"
    for f in ("lang", "source", "len", "jac")
)
_FS_P0 = " * ".join(
    f"(CASE WHEN a_{f} = 1 THEN CAST(0.125 AS DOUBLE)"
    f" ELSE CAST(0.875 AS DOUBLE) END)"
    for f in ("lang", "source", "len", "jac")
)

# the full dirty-ER clustering chain (token blocking -> purging ->
# filtering(0.5) -> pairs -> Jaccard >= 0.5 -> transitive closure ->
# min-id clusters + singletons), shared by er_clusters / golden_records /
# bcubed_per_doc; requires WITH RECURSIVE
_ER_CC = f"""{_TOKS}, {_BSTATS}, {_PURGE}, {_FILTER},
            cpairs AS (
              SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
              FROM filtered a
              JOIN filtered b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
            ),
            common AS (
              SELECT p.left_id, p.right_id, count(*) AS c
              FROM cpairs p
              JOIN toks tl ON tl.doc_id = p.left_id
              JOIN toks tr ON tr.doc_id = p.right_id AND tl.tok = tr.tok
              GROUP BY p.left_id, p.right_id
            ),
            matches AS (
              SELECT c.left_id, c.right_id
              FROM common c
              JOIN tsz l ON l.doc_id = c.left_id
              JOIN tsz r ON r.doc_id = c.right_id
              WHERE CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) >= 0.5
            ),
            sym AS (
              SELECT left_id AS src, right_id AS dst FROM matches
              UNION ALL
              SELECT right_id, left_id FROM matches
            ),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            reach AS (
              SELECT node AS a, node AS b FROM nodes
              UNION
              SELECT r.a, e.dst FROM reach r JOIN sym e ON e.src = r.b
            ),
            cc AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
            assign AS (
              SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
            )"""


def _unique_mapping_sql(rounds: int = 48) -> str:
    """EXACT oracle for the greedy 1:1 matching fixpoint: the iterated
    local-dominance rounds unrolled as ``rounds`` chained NON-recursive
    CTEs (DuckDB's recursive CTEs allow only one self-reference per step,
    which cannot express the two endpoint anti-joins — chaining can).
    Every round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    round references its predecessor three times, so inlining would
    re-evaluate the chain 3^rounds times (measured: fd exhaustion well
    before round 12 without the hint).

    Exactness is self-checking, not assumed: a fixed unroll equals the
    fixpoint iff the remainder drains within the budget, so the final
    SELECT appends a poison row (left_id = 'NOT_CONVERGED') whenever
    ``rem{rounds}`` is non-empty — an under-budgeted oracle hash-mismatches
    loudly instead of silently dropping the tail. The sf0.01 fixture
    converges in 34 rounds / 230 pairs (pinned by
    tests/test_matching.py); 48 is the ~1.4x budget. Round 1 of the same
    unroll is the long-certified ``best_match_pairs`` oracle."""
    head = f"""
            WITH {_CC_PURGE},
            cpairs AS (
              SELECT DISTINCT a.doc_id AS lid, b.doc_id AS rid
              FROM ccpurged a
              JOIN ccpurged b ON a.block_key = b.block_key AND a.is_a AND NOT b.is_a
            ),
            sz AS (SELECT doc_id, count(DISTINCT tok) AS sz FROM cctoks GROUP BY doc_id),
            common AS (
              SELECT p.lid, p.rid, count(*) AS c
              FROM cpairs p
              JOIN cctoks tl ON tl.doc_id = p.lid
              JOIN cctoks tr ON tr.doc_id = p.rid AND tl.tok = tr.tok
              GROUP BY p.lid, p.rid
            ),
            rem0 AS MATERIALIZED (
              SELECT CAST(c.lid AS VARCHAR) AS left_id,
                     CAST(c.rid AS VARCHAR) AS right_id,
                     CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) AS score
              FROM common c
              JOIN sz l ON l.doc_id = c.lid
              JOIN sz r ON r.doc_id = c.rid
              WHERE CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) >= 0.5
            )"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
            rk{i} AS MATERIALIZED (
              SELECT left_id, right_id, score,
                     row_number() OVER (PARTITION BY left_id
                                        ORDER BY score DESC, left_id ASC,
                                                 right_id ASC) AS rl,
                     row_number() OVER (PARTITION BY right_id
                                        ORDER BY score DESC, left_id ASC,
                                                 right_id ASC) AS rr
              FROM rem{i - 1}
            ),
            dom{i} AS MATERIALIZED (
              SELECT left_id, right_id, score FROM rk{i} WHERE rl = 1 AND rr = 1
            ),
            rem{i} AS MATERIALIZED (
              SELECT r.left_id, r.right_id, r.score FROM rem{i - 1} r
              WHERE r.left_id  NOT IN (SELECT left_id  FROM dom{i})
                AND r.right_id NOT IN (SELECT right_id FROM dom{i})
            )""")
    final = "\n            UNION ALL ".join(
        f"SELECT left_id, right_id, score FROM dom{i}"
        for i in range(1, rounds + 1)
    )
    poison = f"""
            UNION ALL
            SELECT 'NOT_CONVERGED', 'NOT_CONVERGED', CAST(count(*) AS DOUBLE)
            FROM rem{rounds} HAVING count(*) > 0"""
    return head + "".join(steps) + "\n            " + final + poison


def oracle_sql() -> dict[str, str]:
    d = {
        "exact_dedup": r"""
            SELECT doc_id,
                   md5(lower(trim(text))) AS content_hash,
                   count(*) OVER (PARTITION BY md5(lower(trim(text)))) > 1 AS is_duplicate,
                   min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep_id
            FROM documents
        """,
        # streaming stateful dedup, one micro-batch: keeper = lexicographic
        # min doc_id (the operator compares STRING ids — "10" < "2") per
        # content hash; keep = is-the-keeper
        "streaming_dedup": r"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   md5(lower(trim(text))) AS content_hash,
                   CAST(doc_id AS VARCHAR) = min(CAST(doc_id AS VARCHAR))
                     OVER (PARTITION BY md5(lower(trim(text)))) AS keep,
                   min(CAST(doc_id AS VARCHAR))
                     OVER (PARTITION BY md5(lower(trim(text)))) AS keep_id
            FROM documents
        """,
        # continuous ER: streaming ingest + incremental cluster maintenance
        # must converge to the batch chain — all co-token pairs -> exact
        # Jaccard >= 0.5 -> transitive closure, min-id clusters, singletons
        "continuous_er": f"""
            WITH RECURSIVE {_TOKS},
            common AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            matches AS (
              SELECT c.left_id, c.right_id
              FROM common c
              JOIN tsz l ON l.doc_id = c.left_id
              JOIN tsz r ON r.doc_id = c.right_id
              WHERE CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) >= 0.5
            ),
            sym AS (
              SELECT left_id AS src, right_id AS dst FROM matches
              UNION ALL
              SELECT right_id, left_id FROM matches
            ),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            reach AS (
              SELECT node AS a, node AS b FROM nodes
              UNION
              SELECT r.a, e.dst FROM reach r JOIN sym e ON e.src = r.b
            ),
            cc AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
            SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
        """,
        "token_blocks": f"""
            WITH {_TOKS}
            SELECT tok AS block_key, count(*) AS n_docs FROM toks GROUP BY tok
        """,
        "candidate_pairs": f"""
            WITH {_TOKS}
            SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
            FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        """,
        "block_purging": f"""
            WITH {_TOKS}, {_BSTATS}, {_PURGE}
            SELECT block_key, doc_id FROM purged
        """,
        "block_filtering": f"""
            WITH {_TOKS}, {_BSTATS}, {_PURGE}, {_FILTER}
            SELECT block_key, doc_id FROM filtered
        """,
        "epsilon_join": f"""
            WITH {_TOKS},
            common AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT c.left_id, c.right_id,
                   CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) AS score
            FROM common c
            JOIN tsz l ON l.doc_id = c.left_id
            JOIN tsz r ON r.doc_id = c.right_id
            WHERE CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) >= 0.5
        """,
        "epsilon_join_prefix": f"""
            WITH {_TOKS},
            common AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT c.left_id, c.right_id,
                   CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) AS score
            FROM common c
            JOIN tsz l ON l.doc_id = c.left_id
            JOIN tsz r ON r.doc_id = c.right_id
            WHERE CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) >= 0.5
        """,
        "topk_join": f"""
            WITH {_TOKS},
            pc AS (
              SELECT a.doc_id AS tgt_id, b.doc_id AS src_id, count(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            sc AS (
              SELECT tgt_id, src_id,
                     CAST(c AS DOUBLE)
                       / sqrt(CAST(ss.sz AS DOUBLE) * CAST(ts.sz AS DOUBLE)) AS score
              FROM pc
              JOIN tsz ts ON ts.doc_id = tgt_id
              JOIN tsz ss ON ss.doc_id = src_id
            ),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY tgt_id
                                           ORDER BY score DESC, src_id ASC) AS rn
              FROM sc
            ),
            kth AS (
              SELECT tgt_id, max(CASE WHEN rn = 3 THEN score END) AS kv
              FROM rk GROUP BY tgt_id
            ),
            kept AS (
              SELECT s.src_id, s.tgt_id, s.score
              FROM sc s JOIN kth k USING (tgt_id)
              WHERE k.kv IS NULL OR s.score >= k.kv
            )
            SELECT least(src_id, tgt_id) AS left_id,
                   greatest(src_id, tgt_id) AS right_id,
                   max(score) AS score
            FROM kept
            GROUP BY least(src_id, tgt_id), greatest(src_id, tgt_id)
        """,
        "metablocking_js_wep": f"""
            WITH {_TOKS},
            bn AS (SELECT doc_id, count(DISTINCT tok) AS nb FROM toks GROUP BY doc_id),
            pb AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS cbs
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            wt AS (
              SELECT left_id, right_id,
                     CAST(cbs AS DOUBLE) / (l.nb + r.nb - cbs) AS weight
              FROM pb
              JOIN bn l ON l.doc_id = left_id
              JOIN bn r ON r.doc_id = right_id
            ),
            m AS (SELECT avg(weight) AS mw FROM wt)
            SELECT left_id, right_id, weight
            FROM wt CROSS JOIN m WHERE weight >= mw
        """,
        "metablocking_cbs_cnp": f"""
            WITH {_TOKS},
            wt AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                     CAST(count(*) AS DOUBLE) AS weight
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            ne AS (
              SELECT left_id AS node, left_id, right_id, weight, right_id AS other
              FROM wt
              UNION ALL
              SELECT right_id AS node, left_id, right_id, weight, left_id AS other
              FROM wt
            ),
            flags AS (
              SELECT left_id, right_id, weight,
                     CASE WHEN row_number() OVER (PARTITION BY node
                                                  ORDER BY weight DESC, other ASC) <= 3
                          THEN 1 ELSE 0 END AS pass
              FROM ne
            )
            SELECT left_id, right_id, weight
            FROM flags
            GROUP BY left_id, right_id, weight
            HAVING sum(pass) >= 1
        """,
        "er_clusters": f"""
            WITH RECURSIVE {_ER_CC}
            SELECT doc_id, cluster_id FROM assign
        """,
        "ngram_dedup_pairs": f"""
            WITH {_GRAMS3},
            common AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS c
              FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT c.left_id, c.right_id,
                   CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) AS score
            FROM common c
            JOIN gsz l ON l.doc_id = c.left_id
            JOIN gsz r ON r.doc_id = c.right_id
            WHERE CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) >= 0.7
        """,
        "text_profile": f"""
            WITH {_PROFILE},
            q AS (
              SELECT doc_id, lang_pred, n_toks,
                     coalesce(CAST(list_sum(list_transform(
                         regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]+'),
                         p -> greatest(CAST(ceil(CAST(length(p) AS DOUBLE) / 4) AS INT), 1)
                     )) AS INT), 0) AS n_bpe,
                     CASE WHEN length(text) > 0
                          THEN CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE)
                               / length(text)
                          ELSE 0.0 END AS alpha_ratio,
                     CASE WHEN n_toks > 0
                          THEN CAST(len(list_filter(l, t -> list_contains({_EN}, t))) AS DOUBLE)
                               / n_toks
                          ELSE 0.0 END AS stop_ratio,
                     CASE WHEN n_toks > 0
                          THEN CAST(list_sum(list_transform(l, t -> length(t))) AS DOUBLE)
                               / n_toks
                          ELSE 0.0 END AS mean_wlen,
                     md5(array_to_string(l, ' ')) AS fp
              FROM lang
            )
            SELECT doc_id, lang_pred,
                   n_toks AS n_tokens,
                   n_bpe,
                   round(0.3 * (CASE WHEN n_toks BETWEEN 10 AND 10000 THEN 1.0
                                     WHEN n_toks > 0 THEN 0.5 ELSE 0.0 END)
                         + 0.3 * alpha_ratio
                         + 0.2 * least(stop_ratio * 4, 1.0)
                         + 0.2 * (CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0
                                       THEN 1.0 ELSE 0.5 END), 6) AS quality,
                   fp
            FROM q
        """,
        "lang_histogram": f"""
            WITH {_PROFILE}
            SELECT lang_pred, count(*) AS n_docs FROM lang GROUP BY lang_pred
        """,
        "knn_embeddings": f"""
            WITH {_NVEC},
            sc AS (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     list_sum(list_transform(generate_series(1, len(q.u)),
                                             i -> q.u[i] * c.u[i])) AS score
              FROM nv q JOIN nv c ON q.vec_id <> c.vec_id
            ),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, corpus_id ASC) AS rn
              FROM sc
            ),
            kth AS (
              SELECT query_id, max(CASE WHEN rn = 5 THEN score END) AS kv
              FROM rk GROUP BY query_id
            )
            SELECT s.query_id, s.corpus_id, s.score
            FROM sc s JOIN kth k USING (query_id)
            WHERE k.kv IS NULL OR s.score >= k.kv
        """,
        "range_search_embeddings": f"""
            WITH {_NVEC}
            SELECT q.vec_id AS left_id, c.vec_id AS right_id,
                   list_sum(list_transform(generate_series(1, len(q.u)),
                                           i -> q.u[i] * c.u[i])) AS score
            FROM nv q JOIN nv c ON q.vec_id < c.vec_id
            WHERE list_sum(list_transform(generate_series(1, len(q.u)),
                                          i -> q.u[i] * c.u[i])) >= 0.35
        """,
        "qgrams_blocks": f"""
            WITH {_TOKS}
            SELECT DISTINCT doc_id,
                   unnest(CASE WHEN length(tok) < 6 THEN [tok]
                          ELSE list_transform(generate_series(1, length(tok) - 5),
                                              i -> substring(tok, i, 6)) END) AS block_key
            FROM toks
        """,
        "suffix_blocks": f"""
            WITH {_TOKS},
            sfx AS (
              SELECT DISTINCT doc_id,
                     unnest(CASE WHEN length(tok) < 6 THEN [tok]
                            ELSE list_transform(generate_series(1, length(tok) - 5),
                                                i -> substring(tok, i, length(tok))) END)
                       AS block_key
              FROM toks
            ),
            freq AS (SELECT block_key, count(*) AS f FROM sfx GROUP BY block_key)
            SELECT s.block_key, s.doc_id
            FROM sfx s JOIN freq USING (block_key) WHERE freq.f <= 53
        """,
        "clean_clean_er": f"""
            WITH {_CC_PURGE},
            cpairs AS (
              SELECT DISTINCT a.doc_id AS lid, b.doc_id AS rid
              FROM ccpurged a
              JOIN ccpurged b ON a.block_key = b.block_key AND a.is_a AND NOT b.is_a
            ),
            sz AS (SELECT doc_id, count(DISTINCT tok) AS sz FROM cctoks GROUP BY doc_id),
            common AS (
              SELECT p.lid, p.rid, count(*) AS c
              FROM cpairs p
              JOIN cctoks tl ON tl.doc_id = p.lid
              JOIN cctoks tr ON tr.doc_id = p.rid AND tl.tok = tr.tok
              GROUP BY p.lid, p.rid
            )
            SELECT CAST(c.lid AS VARCHAR) AS left_id,
                   CAST(c.rid AS VARCHAR) AS right_id,
                   CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) AS score
            FROM common c
            JOIN sz l ON l.doc_id = c.lid
            JOIN sz r ON r.doc_id = c.rid
            WHERE CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) >= 0.5
        """,
        "metablocking_ecbs_wnp": f"""
            WITH {_TOKS},
            nb AS (SELECT doc_id, count(DISTINCT tok) AS nb FROM toks GROUP BY doc_id),
            nblocks AS (SELECT count(DISTINCT tok) AS b FROM toks),
            wt AS (
              SELECT p.left_id, p.right_id,
                     p.cbs * log10(CAST(nblocks.b AS DOUBLE) / l.nb)
                           * log10(CAST(nblocks.b AS DOUBLE) / r.nb) AS weight
              FROM (
                SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                       CAST(count(*) AS DOUBLE) AS cbs
                FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
              ) p
              JOIN nb l ON l.doc_id = p.left_id
              JOIN nb r ON r.doc_id = p.right_id
              CROSS JOIN nblocks
            ),
            ne AS (
              SELECT left_id AS node, left_id, right_id, weight FROM wt
              UNION ALL
              SELECT right_id AS node, left_id, right_id, weight FROM wt
            ),
            flags AS (
              SELECT left_id, right_id, weight,
                     CASE WHEN weight >= avg(weight) OVER (PARTITION BY node)
                          THEN 1 ELSE 0 END AS pass
              FROM ne
            )
            SELECT left_id, right_id, weight
            FROM flags GROUP BY left_id, right_id, weight HAVING sum(pass) >= 1
        """,
        "metablocking_arcs_cep": f"""
            WITH {_TOKS},
            card AS (
              SELECT tok AS block_key,
                     CAST(count(*) AS DOUBLE) * (count(*) - 1) / 2 AS cardinality
              FROM toks GROUP BY tok
            ),
            wt AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                     round(sum(1.0 / c.cardinality), 9) AS weight
              FROM toks a
              JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              JOIN card c ON c.block_key = a.tok
              GROUP BY a.doc_id, b.doc_id
            ),
            rk AS (
              SELECT left_id, right_id, weight,
                     row_number() OVER (ORDER BY weight DESC, left_id ASC,
                                        right_id ASC) AS rn
              FROM wt
            )
            SELECT left_id, right_id, weight
            FROM rk WHERE rn <= 500
        """,
        "topk_join_multiset": f"""
            WITH {_MTOKS},
            pc AS (
              SELECT a.doc_id AS tgt_id, b.doc_id AS src_id, count(*) AS c
              FROM mtoks a JOIN mtoks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            sc AS (
              SELECT tgt_id, src_id,
                     CAST(c AS DOUBLE)
                       / sqrt(CAST(ss.sz AS DOUBLE) * CAST(ts.sz AS DOUBLE)) AS score
              FROM pc
              JOIN msz ts ON ts.doc_id = tgt_id
              JOIN msz ss ON ss.doc_id = src_id
            ),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY tgt_id
                                           ORDER BY score DESC, src_id ASC) AS rn
              FROM sc
            ),
            kth AS (
              SELECT tgt_id, max(CASE WHEN rn = 5 THEN score END) AS kv
              FROM rk GROUP BY tgt_id
            ),
            kept AS (
              SELECT s.src_id, s.tgt_id, s.score
              FROM sc s JOIN kth k USING (tgt_id)
              WHERE k.kv IS NULL OR s.score >= k.kv
            )
            SELECT least(src_id, tgt_id) AS left_id,
                   greatest(src_id, tgt_id) AS right_id,
                   max(score) AS score
            FROM kept
            GROUP BY least(src_id, tgt_id), greatest(src_id, tgt_id)
        """,
        "edit_distance_pairs": f"""
            WITH {_TOKS}, {_BSTATS}, {_PURGE}, {_FILTER},
            cpairs AS (
              SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
              FROM filtered a
              JOIN filtered b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
            ),
            pref AS (
              SELECT doc_id, substring(lower(trim(text)), 1, 40) AS p FROM documents
            ),
            sc AS (
              SELECT c.left_id, c.right_id,
                     CASE WHEN greatest(length(l.p), length(r.p)) = 0 THEN 1.0
                          ELSE 1.0 - CAST(levenshtein(l.p, r.p) AS DOUBLE)
                               / greatest(length(l.p), length(r.p)) END AS score
              FROM cpairs c
              JOIN pref l ON l.doc_id = c.left_id
              JOIN pref r ON r.doc_id = c.right_id
            )
            SELECT left_id, right_id, score FROM sc WHERE score >= 0.8
        """,
        "jaro_winkler_pairs": f"""
            WITH {_TOKS}, {_BSTATS}, {_PURGE}, {_FILTER},
            cpairs AS (
              SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
              FROM filtered a
              JOIN filtered b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
            ),
            pref AS (
              SELECT doc_id, substring(lower(trim(text)), 1, 40) AS p FROM documents
            ),
            sc AS (
              SELECT c.left_id, c.right_id,
                     round(jaro_winkler_similarity(l.p, r.p), 12) AS score
              FROM cpairs c
              JOIN pref l ON l.doc_id = c.left_id
              JOIN pref r ON r.doc_id = c.right_id
            )
            SELECT left_id, right_id, score FROM sc WHERE score >= 0.95
        """,
        "span_invariant": r"""
            WITH lift AS (
              SELECT doc_id,
                     str_split(text, ' ') AS w,
                     doc_id % 3 = 0 AS has_media
              FROM documents
            ),
            parts AS (
              SELECT doc_id,
                     'title' || chr(31) || array_to_string(w[1:6], ' ')
                       || chr(31) || chr(1) || chr(31) || '0' AS p_title,
                     CASE WHEN has_media
                          THEN 'media' || chr(31) || chr(1) || chr(31)
                               || 'ref://img/' || CAST(doc_id AS VARCHAR)
                               || chr(31) || '1' || chr(2)
                          ELSE '' END AS p_media,
                     'body' || chr(31)
                       || (CASE WHEN len(w) > 6
                                THEN array_to_string(w[7:], ' ') ELSE '' END)
                       || chr(31) || chr(1) || chr(31)
                       || (CASE WHEN has_media THEN '2' ELSE '1' END) AS p_body
              FROM lift
            )
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   md5(p_title || chr(2) || p_media || p_body) AS span_hash
            FROM parts
        """,
        "extended_suffix_blocks": f"""
            WITH {_TOKS},
            sub AS (
              SELECT DISTINCT doc_id,
                     unnest(CASE WHEN length(tok) < 6 THEN [tok]
                            ELSE flatten(list_transform(generate_series(6, length(tok)),
                                   ln -> list_transform(
                                           generate_series(1, length(tok) - ln + 1),
                                           i -> substring(tok, i, ln)))) END) AS block_key
              FROM toks
            ),
            freq AS (SELECT block_key, count(*) AS f FROM sub GROUP BY block_key)
            SELECT s.block_key, s.doc_id
            FROM sub s JOIN freq USING (block_key) WHERE freq.f <= 39
        """,
        "blast_pairs": f"""
            WITH {_TOKS},
            nb AS (SELECT doc_id, count(DISTINCT tok) AS nb FROM toks GROUP BY doc_id),
            nblocks AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS b FROM toks),
            pb AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                     CAST(count(*) AS DOUBLE) AS cbs
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            terms AS (
              SELECT p.left_id, p.right_id,
                     p.cbs AS o11, l.nb - p.cbs AS o12, r.nb - p.cbs AS o21,
                     nblocks.b - l.nb - r.nb + p.cbs AS o22, nblocks.b AS b
              FROM pb p
              JOIN nb l ON l.doc_id = p.left_id
              JOIN nb r ON r.doc_id = p.right_id
              CROSS JOIN nblocks
            ),
            wt AS (
              SELECT left_id, right_id,
                     round(CASE WHEN (o11 + o12) * (o21 + o22) * (o11 + o21) * (o12 + o22) > 0
                                THEN b * ((o11 * o22 - o12 * o21) * (o11 * o22 - o12 * o21))
                                     / ((o11 + o12) * (o21 + o22) * (o11 + o21) * (o12 + o22))
                                ELSE 0.0 END, 9) AS weight
              FROM terms
            ),
            mx AS (
              SELECT node, max(weight) AS m FROM (
                SELECT left_id AS node, weight FROM wt
                UNION ALL
                SELECT right_id AS node, weight FROM wt
              ) GROUP BY node
            )
            SELECT w.left_id, w.right_id, w.weight
            FROM wt w
            JOIN mx l ON l.node = w.left_id
            JOIN mx r ON r.node = w.right_id
            WHERE w.weight >= 0.35 * (l.m + r.m) / 2.0
        """,
        "metablocking_dice_wep": f"""
            WITH {_TOKS},
            wt AS (
              SELECT p.left_id, p.right_id,
                     2.0 * p.cbs / (l.sz + r.sz) AS weight
              FROM (
                SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                       CAST(count(*) AS DOUBLE) AS cbs
                FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
              ) p
              JOIN tsz l ON l.doc_id = p.left_id
              JOIN tsz r ON r.doc_id = p.right_id
            ),
            m AS (SELECT avg(weight) AS mw FROM wt)
            SELECT left_id, right_id, weight
            FROM wt CROSS JOIN m WHERE weight >= mw
        """,
        "metablocking_sizenorm_js_cnp": f"""
            WITH {_TOKS},
            bsz AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
            psn AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                     sum(1.0 / s.n) AS sn
              FROM toks a
              JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              JOIN bsz s ON s.tok = a.tok
              GROUP BY a.doc_id, b.doc_id
            ),
            esn AS (
              SELECT t.doc_id, sum(1.0 / s.n) AS sn_e
              FROM toks t JOIN bsz s ON s.tok = t.tok GROUP BY t.doc_id
            ),
            wt AS (
              SELECT p.left_id, p.right_id,
                     round(p.sn / (l.sn_e + r.sn_e - p.sn), 9) AS weight
              FROM psn p
              JOIN esn l ON l.doc_id = p.left_id
              JOIN esn r ON r.doc_id = p.right_id
            ),
            ne AS (
              SELECT left_id AS node, left_id, right_id, weight, right_id AS other
              FROM wt
              UNION ALL
              SELECT right_id AS node, left_id, right_id, weight, left_id AS other
              FROM wt
            ),
            flags AS (
              SELECT left_id, right_id, weight,
                     CASE WHEN row_number() OVER (PARTITION BY node
                                                  ORDER BY weight DESC, other ASC) <= 3
                          THEN 1 ELSE 0 END AS pass
              FROM ne
            )
            SELECT left_id, right_id, weight
            FROM flags
            GROUP BY left_id, right_id, weight
            HAVING sum(pass) >= 1
        """,
        "metablocking_rwnp": f"""
            WITH {_TOKS},
            wt AS (
              SELECT p.left_id, p.right_id,
                     p.cbs / (l.sz + r.sz - p.cbs) AS weight
              FROM (
                SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                       CAST(count(*) AS DOUBLE) AS cbs
                FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
              ) p
              JOIN tsz l ON l.doc_id = p.left_id
              JOIN tsz r ON r.doc_id = p.right_id
            ),
            ne AS (
              SELECT left_id AS node, left_id, right_id, weight FROM wt
              UNION ALL
              SELECT right_id AS node, left_id, right_id, weight FROM wt
            ),
            flags AS (
              SELECT left_id, right_id, weight,
                     CASE WHEN weight >= avg(weight) OVER (PARTITION BY node)
                          THEN 1 ELSE 0 END AS pass
              FROM ne
            )
            SELECT left_id, right_id, weight
            FROM flags GROUP BY left_id, right_id, weight HAVING sum(pass) >= 2
        """,
        "metablocking_rcnp": f"""
            WITH {_TOKS},
            wt AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                     CAST(count(*) AS DOUBLE) AS weight
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            ne AS (
              SELECT left_id AS node, left_id, right_id, weight, right_id AS other
              FROM wt
              UNION ALL
              SELECT right_id AS node, left_id, right_id, weight, left_id AS other
              FROM wt
            ),
            flags AS (
              SELECT left_id, right_id, weight,
                     CASE WHEN row_number() OVER (PARTITION BY node
                                                  ORDER BY weight DESC, other ASC) <= 3
                          THEN 1 ELSE 0 END AS pass
              FROM ne
            )
            SELECT left_id, right_id, weight
            FROM flags
            GROUP BY left_id, right_id, weight
            HAVING sum(pass) >= 2
        """,
        "metablocking_ejs_cep": f"""
            WITH {_TOKS},
            nb AS (SELECT doc_id, count(DISTINCT tok) AS nb FROM toks GROUP BY doc_id),
            pb AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                     CAST(count(*) AS DOUBLE) AS cbs
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            vsz AS (SELECT CAST(greatest(count(*), 1) AS DOUBLE) AS v FROM pb),
            deg AS (
              SELECT node, count(*) AS deg FROM (
                SELECT left_id AS node FROM pb
                UNION ALL
                SELECT right_id AS node FROM pb
              ) GROUP BY node
            ),
            wt AS (
              SELECT p.left_id, p.right_id,
                     round(p.cbs / (l.nb + r.nb - p.cbs)
                           * log10(vsz.v / dl.deg)
                           * log10(vsz.v / dr.deg), 9) AS weight
              FROM pb p
              JOIN nb l ON l.doc_id = p.left_id
              JOIN nb r ON r.doc_id = p.right_id
              JOIN deg dl ON dl.node = p.left_id
              JOIN deg dr ON dr.node = p.right_id
              CROSS JOIN vsz
            ),
            rk AS (
              SELECT left_id, right_id, weight,
                     row_number() OVER (ORDER BY weight DESC, left_id ASC,
                                        right_id ASC) AS rn
              FROM wt
            )
            SELECT left_id, right_id, weight FROM rk WHERE rn <= 500
        """,
        "qgrams_workflow": f"""
            WITH {_TOKS},
            qb AS (
              SELECT DISTINCT doc_id,
                     unnest(CASE WHEN length(tok) < 6 THEN [tok]
                            ELSE list_transform(generate_series(1, length(tok) - 5),
                                                i -> substring(tok, i, 6)) END) AS block_key
              FROM toks
            ),
            qstats AS (
              SELECT block_key,
                     CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS comp
              FROM qb GROUP BY block_key
            ),
            qranked AS (
              SELECT p.doc_id, p.block_key,
                     row_number() OVER (PARTITION BY p.doc_id
                                        ORDER BY s.comp ASC, p.block_key ASC) AS rk,
                     count(*)     OVER (PARTITION BY p.doc_id) AS nb
              FROM qb p JOIN qstats s USING (block_key)
            ),
            qf AS (
              SELECT doc_id, block_key FROM qranked
              WHERE rk <= CAST(round(CAST(nb AS DOUBLE) * 0.5) AS INT)
            ),
            fnb AS (SELECT doc_id, count(DISTINCT block_key) AS nb FROM qf GROUP BY doc_id),
            fb AS (SELECT CAST(count(DISTINCT block_key) AS DOUBLE) AS b FROM qf),
            wt AS (
              SELECT p.left_id, p.right_id,
                     round(p.cbs * log10(fb.b / l.nb) * log10(fb.b / r.nb), 9) AS weight
              FROM (
                SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                       CAST(count(*) AS DOUBLE) AS cbs
                FROM qf a JOIN qf b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
              ) p
              JOIN fnb l ON l.doc_id = p.left_id
              JOIN fnb r ON r.doc_id = p.right_id
              CROSS JOIN fb
            ),
            m AS (SELECT round(avg(weight), 9) AS mw FROM wt)
            SELECT left_id, right_id, weight
            FROM wt CROSS JOIN m WHERE weight >= mw
        """,
        "blocking_quality": f"""
            WITH {_TOKS}, {_BSTATS}, {_PURGE}, {_FILTER},
            cand AS (
              SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
              FROM filtered a
              JOIN filtered b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
            ),
            nh AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
            gold AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id
              FROM nh a JOIN nh b ON a.h = b.h AND a.doc_id < b.doc_id
            ),
            counts AS (
              SELECT (SELECT count(*) FROM cand JOIN gold USING (left_id, right_id)) AS tp,
                     (SELECT count(*) FROM cand) AS n_candidates,
                     (SELECT count(*) FROM gold) AS n_gold
            )
            SELECT tp, n_candidates, n_gold,
                   CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END AS pc,
                   CASE WHEN n_candidates > 0 THEN tp / n_candidates ELSE 0.0 END AS pq,
                   CASE WHEN (CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END)
                           + (CASE WHEN n_candidates > 0 THEN tp / n_candidates ELSE 0.0 END) > 0
                        THEN 2 * (CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END)
                               * (CASE WHEN n_candidates > 0 THEN tp / n_candidates ELSE 0.0 END)
                             / ((CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END)
                                + (CASE WHEN n_candidates > 0 THEN tp / n_candidates ELSE 0.0 END))
                        ELSE 0.0 END AS f1
            FROM counts
        """,
        "schema_based_ejoin": r"""
            WITH tt AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     lower(trim(array_to_string((str_split(text, ' '))[1:6], ' '))) AS s
              FROM documents
            ),
            toks AS (
              SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(s, '[\W_]+'),
                                          t -> t <> '')) AS tok
                FROM tt
              )
            ),
            tsz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT c.left_id, c.right_id,
                   CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) AS score
            FROM common c
            JOIN tsz l ON l.doc_id = c.left_id
            JOIN tsz r ON r.doc_id = c.right_id
            WHERE CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) >= 0.5
        """,
        "incremental_blocking": f"""
            WITH {_TOKS}
            SELECT DISTINCT
                   least(CAST(a.doc_id AS VARCHAR), CAST(b.doc_id AS VARCHAR)) AS left_id,
                   greatest(CAST(a.doc_id AS VARCHAR), CAST(b.doc_id AS VARCHAR)) AS right_id
            FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        """,
        "minhash_dedup": f"""
            WITH {_minhash_sql(n=5, threshold=0.7)}
            SELECT left_id, right_id, score FROM mh_scored
        """,
        "dedup_assignments": f"""
            WITH RECURSIVE {_minhash_sql(n=5, threshold=0.7)},
            sym AS (
              SELECT left_id AS src, right_id AS dst FROM mh_scored
              UNION ALL
              SELECT right_id, left_id FROM mh_scored
            ),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            reach AS (
              SELECT node AS a, node AS b FROM nodes
              UNION
              SELECT r.a, e.dst FROM reach r JOIN sym e ON e.src = r.b
            ),
            cc AS (SELECT a AS doc_id, min(b) AS gid FROM reach GROUP BY a)
            SELECT d.doc_id,
                   coalesce(cc.gid, d.doc_id) AS group_id,
                   coalesce(cc.gid, d.doc_id) = d.doc_id AS keep
            FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
        """,
        "windowed_ingest": f"""
            WITH {_PROFILE},
            ev AS (
              SELECT ((1767225600 + doc_id) // 300) * 300 AS window_start,
                     lang_pred, length(text) AS n_chars
              FROM lang
            )
            SELECT window_start,
                   window_start + 300 AS window_end,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_en,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM ev GROUP BY window_start
        """,
        "crossmodal_candidates": f"""
            WITH {_TOKS},
            tp AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
            ),
            mt AS (
              SELECT doc_id,
                     md5(array_to_string((str_split(text, ' '))[1:6], ' ')) AS ref
              FROM documents
            ),
            mp AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id
              FROM mt a JOIN mt b ON a.ref = b.ref AND a.doc_id < b.doc_id
            )
            SELECT DISTINCT left_id, right_id
            FROM (SELECT * FROM tp UNION ALL SELECT * FROM mp)
        """,
        "corpus_curation": f"""
            WITH RECURSIVE
            nh AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
            ek AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS keep_id
                   FROM nh),
            s1 AS (SELECT doc_id FROM ek WHERE doc_id = keep_id),
            {_minhash_sql(n=5, threshold=0.7)},
            mh1 AS (
              SELECT m.left_id, m.right_id
              FROM mh_scored m
              JOIN s1 a ON a.doc_id = m.left_id
              JOIN s1 b ON b.doc_id = m.right_id
            ),
            sym AS (
              SELECT left_id AS src, right_id AS dst FROM mh1
              UNION ALL
              SELECT right_id, left_id FROM mh1
            ),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            reach AS (
              SELECT node AS a, node AS b FROM nodes
              UNION
              SELECT r.a, e.dst FROM reach r JOIN sym e ON e.src = r.b
            ),
            cc AS (SELECT a AS doc_id, min(b) AS gid FROM reach GROUP BY a),
            {_PROFILE},
            q AS (
              SELECT doc_id, lang_pred,
                     round(0.3 * (CASE WHEN n_toks BETWEEN 10 AND 10000 THEN 1.0
                                       WHEN n_toks > 0 THEN 0.5 ELSE 0.0 END)
                           + 0.3 * (CASE WHEN length(text) > 0
                                         THEN CAST(length(regexp_replace(lower(text),
                                                   '[^a-z ]', '', 'g')) AS DOUBLE)
                                              / length(text)
                                         ELSE 0.0 END)
                           + 0.2 * least((CASE WHEN n_toks > 0
                                               THEN CAST(s_en AS DOUBLE) / n_toks
                                               ELSE 0.0 END) * 4, 1.0)
                           + 0.2 * (CASE WHEN n_toks > 0
                                         AND CAST(list_sum(list_transform(l, t -> length(t)))
                                                  AS DOUBLE) / n_toks >= 3.0
                                         AND CAST(list_sum(list_transform(l, t -> length(t)))
                                                  AS DOUBLE) / n_toks <= 10.0
                                         THEN 1.0 ELSE 0.5 END), 6) AS quality
              FROM lang
            ),
            base AS (
              SELECT q.doc_id, q.lang_pred, q.quality, ek.keep_id,
                     CASE WHEN ek.doc_id <> ek.keep_id
                          THEN coalesce(cck.gid, ek.keep_id)
                          ELSE coalesce(cc.gid, q.doc_id) END AS rep_id
              FROM q
              JOIN ek ON ek.doc_id = q.doc_id
              LEFT JOIN cc ON cc.doc_id = q.doc_id
              LEFT JOIN cc cck ON cck.doc_id = ek.keep_id
            ),
            dec AS (
              SELECT doc_id,
                     CASE WHEN doc_id <> keep_id THEN 'exact_dup'
                          WHEN rep_id <> doc_id THEN 'near_dup'
                          WHEN lang_pred <> 'en' THEN 'lang'
                          WHEN quality < 0.81 THEN 'low_quality'
                          ELSE 'ok' END AS reason,
                     rep_id, lang_pred, quality
              FROM base
            )
            SELECT doc_id, reason = 'ok' AS keep, reason, rep_id,
                   lang_pred, quality
            FROM dec
        """,
        "simhash_dedup": f"""
            WITH {_TOKS}, {_SIMHASH}
            SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                   CAST(bit_count(xor(a.fp_hi, b.fp_hi))
                        + bit_count(xor(a.fp_lo, b.fp_lo)) AS INT) AS hamming
            FROM shfp a JOIN shfp b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.fp_hi, b.fp_hi))
                  + bit_count(xor(a.fp_lo, b.fp_lo)) <= 3
        """,
        "hyperplane_lsh": f"""
            WITH {_NVEC}, {_hyperplane_sql(n_tables=8, n_bits=12)}
            SELECT left_id, right_id FROM hp_cand
        """,
        "crosspolytope_lsh": f"""
            WITH {_NVEC}, {_crosspolytope_sql(n_tables=8, n_rotations=2, proj_dim=16)}
            SELECT left_id, right_id FROM cp_cand
        """,
        "crosspolytope_multiprobe": f"""
            WITH {_NVEC}, {_crosspolytope_sql(n_tables=4, n_rotations=2,
                                              proj_dim=16, n_probes=2)}
            SELECT left_id, right_id FROM cp_cand
        """,
        "range_search_multiprobe": f"""
            WITH {_NVEC}, {_hyperplane_sql(n_tables=8, n_bits=6, n_probes=3)}
            SELECT c.left_id, c.right_id,
                   list_sum(list_transform(generate_series(1, len(a.u)),
                                           i -> a.u[i] * b.u[i])) AS score
            FROM hp_cand c
            JOIN nv a ON a.vec_id = c.left_id
            JOIN nv b ON b.vec_id = c.right_id
            WHERE list_sum(list_transform(generate_series(1, len(a.u)),
                                          i -> a.u[i] * b.u[i])) >= 0.35
        """,
        "range_search_lsh": f"""
            WITH {_NVEC}, {_hyperplane_sql(n_tables=16, n_bits=4)}
            SELECT c.left_id, c.right_id,
                   list_sum(list_transform(generate_series(1, len(a.u)),
                                           i -> a.u[i] * b.u[i])) AS score
            FROM hp_cand c
            JOIN nv a ON a.vec_id = c.left_id
            JOIN nv b ON b.vec_id = c.right_id
            WHERE list_sum(list_transform(generate_series(1, len(a.u)),
                                          i -> a.u[i] * b.u[i])) >= 0.35
        """,
        "embedding_dedup": f"""
            WITH RECURSIVE {_NVEC}, {_hyperplane_sql(n_tables=16, n_bits=4)},
            prs AS (
              SELECT c.left_id AS src, c.right_id AS dst
              FROM hp_cand c
              JOIN nv a ON a.vec_id = c.left_id
              JOIN nv b ON b.vec_id = c.right_id
              WHERE list_sum(list_transform(generate_series(1, len(a.u)),
                                            i -> a.u[i] * b.u[i])) >= 0.35
            ),
            sym AS (
              SELECT src, dst FROM prs
              UNION ALL
              SELECT dst, src FROM prs
            ),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            reach AS (
              SELECT node AS a, node AS b FROM nodes
              UNION
              SELECT r.a, e.dst FROM reach r JOIN sym e ON e.src = r.b
            ),
            cc AS (SELECT a AS vec_id, min(b) AS gid FROM reach GROUP BY a)
            SELECT v.vec_id,
                   coalesce(cc.gid, v.vec_id) AS group_id,
                   coalesce(cc.gid, v.vec_id) = v.vec_id AS keep
            FROM v LEFT JOIN cc ON cc.vec_id = v.vec_id
        """,
        "knn_ivf_embeddings": f"""
            WITH {_NVEC},
            sc AS (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     list_sum(list_transform(generate_series(1, len(q.u)),
                                             i -> q.u[i] * c.u[i])) AS score
              FROM nv q JOIN nv c ON q.vec_id <> c.vec_id
            ),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, corpus_id ASC) AS rn
              FROM sc
            )
            SELECT query_id, corpus_id, score FROM rk WHERE rn <= 5
        """,
        # the approximate IVF regime replayed exactly: sampled-member
        # centroids (16 smallest md5(id:seed) keys), nearest-cell corpus
        # sharding, 4-of-16 query probing, per-query exact re-rank — the
        # same md5->int40 idiom and list_sum dot-product fold the other
        # oracles already certify bit-for-bit
        "knn_ivf_approx": f"""
            WITH {_NVEC},
            keyed AS (
              SELECT vec_id, u,
                     CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR) || ':42'),
                                            1, 10) AS BIGINT) AS s
              FROM nv
            ),
            cent AS (
              SELECT row_number() OVER (ORDER BY s ASC,
                                        CAST(vec_id AS VARCHAR) ASC) - 1 AS cell,
                     u AS cu
              FROM (SELECT * FROM keyed
                    ORDER BY s ASC, CAST(vec_id AS VARCHAR) ASC LIMIT 16)
            ),
            asg AS (
              SELECT n.vec_id, c.cell, n.u,
                     row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY list_sum(list_transform(generate_series(1, len(n.u)),
                                                        i -> n.u[i] * c.cu[i])) DESC,
                                c.cell ASC) AS rn
              FROM nv n CROSS JOIN cent c
            ),
            sc AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     list_sum(list_transform(generate_series(1, len(q.u)),
                                             i -> q.u[i] * c.u[i])) AS score
              FROM (SELECT * FROM asg WHERE rn <= 4) q
              JOIN (SELECT * FROM asg WHERE rn = 1) c USING (cell)
              WHERE q.vec_id <> c.vec_id
            ),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, corpus_id ASC) AS rn
              FROM sc
            )
            SELECT query_id, corpus_id, score FROM rk WHERE rn <= 5
        """,
        "extended_qgrams_blocks": f"""
            WITH {_TOKS},
            eqg_full AS (
              SELECT doc_id,
                     CASE WHEN length(tok) < 6 THEN tok
                          ELSE array_to_string(
                                 list_transform(generate_series(1, length(tok) - 5),
                                                i -> substring(tok, i, 6)), '') END
                       AS block_key
              FROM toks
            ),
            eqg_gl AS (
              SELECT doc_id,
                     list_transform(generate_series(1, length(tok) - 5),
                                    i -> substring(tok, i, 6)) AS gl
              FROM toks WHERE length(tok) >= 6
            ),
            -- leave-one-out keys exist only when ceil(0.95*L) <= L-1 (L >= 20)
            eqg_l1o AS (
              SELECT doc_id,
                     array_to_string(list_concat(gl[1 : ii.i - 1],
                                                 gl[ii.i + 1 : len(gl)]), '') AS block_key
              FROM eqg_gl CROSS JOIN generate_series(1, 64) ii(i)
              WHERE ii.i <= len(gl) AND ceil(0.95 * len(gl)) <= len(gl) - 1
            )
            SELECT DISTINCT doc_id, block_key FROM (
              SELECT * FROM eqg_full UNION ALL SELECT * FROM eqg_l1o
            ) WHERE block_key <> ''
        """,
        "media_features": """
            SELECT m.media_ref, 'image' AS media_type,
                   CAST(ii.i AS INT) AS pos,
                   CAST('0x' || substring(md5(repeat(md5(m.media_ref), 4)
                                              || ':' || CAST(ii.i AS VARCHAR)),
                                          1, 10) AS BIGINT)
                     / 1099511627776.0 AS value
            FROM (SELECT DISTINCT 'ref://img/' || CAST(doc_id AS VARCHAR) AS media_ref
                  FROM documents WHERE doc_id % 3 = 0) m
            CROSS JOIN generate_series(0, 15) ii(i)
        """,
        "jedai_workflow": f"""
            WITH {_TOKS}, {_BSTATS}, {_PURGE}, {_FILTER},
            fnb AS (SELECT doc_id, count(*) AS nb FROM filtered GROUP BY doc_id),
            kval AS (
              SELECT greatest(1, CAST(floor(
                       CAST((SELECT count(*) FROM filtered) AS DOUBLE)
                       / greatest((SELECT count(DISTINCT doc_id) FROM filtered), 1)
                       + 0.5) AS BIGINT) - 1) AS k
            ),
            wt AS (
              SELECT p.left_id, p.right_id,
                     CAST(p.cbs AS DOUBLE) / (l.nb + r.nb - p.cbs) AS weight
              FROM (
                SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS cbs
                FROM filtered a
                JOIN filtered b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
              ) p
              JOIN fnb l ON l.doc_id = p.left_id
              JOIN fnb r ON r.doc_id = p.right_id
            ),
            ne AS (
              SELECT left_id AS node, left_id, right_id, weight, right_id AS other
              FROM wt
              UNION ALL
              SELECT right_id AS node, left_id, right_id, weight, left_id AS other
              FROM wt
            ),
            flags AS (
              SELECT left_id, right_id, weight,
                     CASE WHEN row_number() OVER (PARTITION BY node
                                                  ORDER BY weight DESC, other ASC)
                               <= (SELECT k FROM kval)
                          THEN 1 ELSE 0 END AS pass
              FROM ne
            )
            SELECT left_id, right_id, weight
            FROM flags
            GROUP BY left_id, right_id, weight
            HAVING sum(pass) >= 1
        """,
        "topk_join_fivegram": r"""
            WITH f5 AS (
              SELECT doc_id, CASE WHEN length(s) < 5 THEN [s]
                     ELSE list_transform(generate_series(1, length(s) - 4),
                                         i -> substring(s, i, 5)) END AS gl
              FROM (SELECT doc_id, lower(trim(text)) AS s FROM documents)
            ),
            fpos AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(gl)),
                                           i -> struct_pack(tok := gl[i], pos := i))) AS s
              FROM f5
            ),
            m5 AS (
              SELECT doc_id,
                     s.tok || CAST(row_number() OVER (PARTITION BY doc_id, s.tok
                                                      ORDER BY s.pos) - 1 AS VARCHAR) AS tok
              FROM fpos
            ),
            m5sz AS (SELECT doc_id, count(*) AS sz FROM m5 GROUP BY doc_id),
            pc AS (
              SELECT a.doc_id AS tgt_id, b.doc_id AS src_id, count(*) AS c
              FROM m5 a JOIN m5 b ON a.tok = b.tok AND a.doc_id <> b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            sc AS (
              SELECT tgt_id, src_id,
                     CAST(c AS DOUBLE)
                       / sqrt(CAST(ss.sz AS DOUBLE) * CAST(ts.sz AS DOUBLE)) AS score
              FROM pc
              JOIN m5sz ts ON ts.doc_id = tgt_id
              JOIN m5sz ss ON ss.doc_id = src_id
            ),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY tgt_id
                                           ORDER BY score DESC, src_id ASC) AS rn
              FROM sc
            ),
            kth AS (
              SELECT tgt_id, max(CASE WHEN rn = 5 THEN score END) AS kv
              FROM rk GROUP BY tgt_id
            ),
            kept AS (
              SELECT s.src_id, s.tgt_id, s.score
              FROM sc s JOIN kth k USING (tgt_id)
              WHERE k.kv IS NULL OR s.score >= k.kv
            )
            SELECT least(src_id, tgt_id) AS left_id,
                   greatest(src_id, tgt_id) AS right_id,
                   max(score) AS score
            FROM kept
            GROUP BY least(src_id, tgt_id), greatest(src_id, tgt_id)
        """,
        "schema_based_topk": r"""
            WITH tt AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     lower(trim(array_to_string((str_split(text, ' '))[1:6], ' '))) AS s
              FROM documents
            ),
            toks AS (
              SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(s, '[\W_]+'),
                                          t -> t <> '')) AS tok
                FROM tt
              )
            ),
            tsz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
            pc AS (
              SELECT a.doc_id AS tgt_id, b.doc_id AS src_id, count(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            sc AS (
              SELECT tgt_id, src_id,
                     CAST(c AS DOUBLE)
                       / sqrt(CAST(ss.sz AS DOUBLE) * CAST(ts.sz AS DOUBLE)) AS score
              FROM pc
              JOIN tsz ts ON ts.doc_id = tgt_id
              JOIN tsz ss ON ss.doc_id = src_id
            ),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY tgt_id
                                           ORDER BY score DESC, src_id ASC) AS rn
              FROM sc
            ),
            kth AS (
              SELECT tgt_id, max(CASE WHEN rn = 3 THEN score END) AS kv
              FROM rk GROUP BY tgt_id
            ),
            kept AS (
              SELECT s.src_id, s.tgt_id, s.score
              FROM sc s JOIN kth k USING (tgt_id)
              WHERE k.kv IS NULL OR s.score >= k.kv
            )
            SELECT least(src_id, tgt_id) AS left_id,
                   greatest(src_id, tgt_id) AS right_id,
                   max(score) AS score
            FROM kept
            GROUP BY least(src_id, tgt_id), greatest(src_id, tgt_id)
        """,
        # P9 shingling count vectors: char-4-gram bag of lower(trim(text))
        # (short-string fallback keeps the whole string, matching
        # tokenize.char_ngrams); vocabulary ids follow the total sort order.
        "shingle_count_vectors": r"""
            WITH g AS (
              SELECT doc_id, CASE WHEN length(s) < 4 THEN [s]
                     ELSE list_transform(generate_series(1, length(s) - 3),
                                         i -> substring(s, i, 4)) END AS gl
              FROM (SELECT doc_id, lower(trim(text)) AS s FROM documents)
            ),
            ex AS (SELECT doc_id, unnest(gl) AS tok FROM g),
            vocab AS (
              SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS vocab_id
              FROM (SELECT DISTINCT tok FROM ex)
            )
            SELECT e.doc_id, v.vocab_id, count(*) AS cnt
            FROM ex e JOIN vocab v USING (tok)
            GROUP BY e.doc_id, v.vocab_id
        """,
        # P10 boolean vectors: same vocabulary, presence-only rows
        "ngram_bool_vectors": r"""
            WITH g AS (
              SELECT doc_id, CASE WHEN length(s) < 4 THEN [s]
                     ELSE list_transform(generate_series(1, length(s) - 3),
                                         i -> substring(s, i, 4)) END AS gl
              FROM (SELECT doc_id, lower(trim(text)) AS s FROM documents)
            ),
            ex AS (
              SELECT DISTINCT doc_id, tok
              FROM (SELECT doc_id, unnest(gl) AS tok FROM g)
            ),
            vocab AS (
              SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS vocab_id
              FROM (SELECT DISTINCT tok FROM ex)
            )
            SELECT e.doc_id, v.vocab_id
            FROM ex e JOIN vocab v USING (tok)
        """,
        # the registry-decoded "D9 at L2" operating point: purging ->
        # BlockFiltering(0.625) -> JS weights -> reciprocal CNP with the
        # derived per-node budget (same kval/ne/flags chain as
        # jedai_workflow; reciprocal = pass at BOTH endpoints)
        # D4 cell of the tuned ε-join grid: Jaccard >= 0.58 over word-set
        # tokens, clean-clean even/odd split
        "tuned_ejoin": f"""
            WITH {_TOKS},
            pc AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok
              WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT p.left_id, p.right_id,
                   CAST(p.c AS DOUBLE) / (l.sz + r.sz - p.c) AS score
            FROM pc p
            JOIN tsz l ON l.doc_id = p.left_id
            JOIN tsz r ON r.doc_id = p.right_id
            WHERE CAST(p.c AS DOUBLE) / (l.sz + r.sz - p.c)
                  >= CAST(0.58 AS DOUBLE)
        """,
        # D1 cell of the tuned kNN grid: K=1, reversed (d1=even is the
        # QUERY side, d2=odd the indexed source), DICE over fourgram
        # multisets; emission in fixed (d1, d2) order
        "tuned_topk": r"""
            WITH f4 AS (
              SELECT doc_id, CASE WHEN length(s) < 4 THEN [s]
                     ELSE list_transform(generate_series(1, length(s) - 3),
                                         i -> substring(s, i, 4)) END AS gl
              FROM (SELECT doc_id, lower(trim(text)) AS s FROM documents)
            ),
            fpos AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(gl)),
                                           i -> struct_pack(tok := gl[i], pos := i))) AS s
              FROM f4
            ),
            m4 AS (
              SELECT doc_id,
                     s.tok || CAST(row_number() OVER (PARTITION BY doc_id, s.tok
                                                      ORDER BY s.pos) - 1 AS VARCHAR) AS tok
              FROM fpos
            ),
            m4sz AS (SELECT doc_id, count(*) AS sz FROM m4 GROUP BY doc_id),
            pc AS (
              SELECT a.doc_id AS tgt_id, b.doc_id AS src_id, count(*) AS c
              FROM m4 a JOIN m4 b ON a.tok = b.tok
              WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
              GROUP BY a.doc_id, b.doc_id
            ),
            sc AS (
              SELECT tgt_id, src_id,
                     2.0 * CAST(c AS DOUBLE)
                       / (CAST(ss.sz AS DOUBLE) + CAST(ts.sz AS DOUBLE)) AS score
              FROM pc
              JOIN m4sz ts ON ts.doc_id = tgt_id
              JOIN m4sz ss ON ss.doc_id = src_id
            ),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY tgt_id
                                           ORDER BY score DESC, src_id ASC) AS rn
              FROM sc
            ),
            kth AS (
              SELECT tgt_id, max(CASE WHEN rn = 1 THEN score END) AS kv
              FROM rk GROUP BY tgt_id
            )
            SELECT s.tgt_id AS left_id, s.src_id AS right_id, s.score
            FROM sc s JOIN kth k USING (tgt_id)
            WHERE k.kv IS NULL OR s.score >= k.kv
        """,
        "tuned_workflow": f"""
            WITH {_TOKS}, {_BSTATS}, {_PURGE}, {_filter_sql(0.625)},
            fnb AS (SELECT doc_id, count(*) AS nb FROM filtered GROUP BY doc_id),
            kval AS (
              SELECT greatest(1, CAST(floor(
                       CAST((SELECT count(*) FROM filtered) AS DOUBLE)
                       / greatest((SELECT count(DISTINCT doc_id) FROM filtered), 1)
                       + 0.5) AS BIGINT) - 1) AS k
            ),
            wt AS (
              SELECT p.left_id, p.right_id,
                     CAST(p.cbs AS DOUBLE) / (l.nb + r.nb - p.cbs) AS weight
              FROM (
                SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS cbs
                FROM filtered a
                JOIN filtered b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
              ) p
              JOIN fnb l ON l.doc_id = p.left_id
              JOIN fnb r ON r.doc_id = p.right_id
            ),
            ne AS (
              SELECT left_id AS node, left_id, right_id, weight, right_id AS other
              FROM wt
              UNION ALL
              SELECT right_id AS node, left_id, right_id, weight, left_id AS other
              FROM wt
            ),
            flags AS (
              SELECT left_id, right_id, weight,
                     CASE WHEN row_number() OVER (PARTITION BY node
                                                  ORDER BY weight DESC, other ASC)
                               <= (SELECT k FROM kval)
                          THEN 1 ELSE 0 END AS pass
              FROM ne
            )
            SELECT left_id, right_id, weight
            FROM flags
            GROUP BY left_id, right_id, weight
            HAVING sum(pass) >= 2
        """,
        # der cell l2/der/TokenBlocking.java:43-50 dataset 0: Dirty purging,
        # BF ratio 0.125, CBS weights (exact integer-valued doubles, so the
        # WEP mean is order-independent), unilateral (orientation-blind)
        # BlocksPerformance vs the exact-duplicate gold partition
        "tuned_dirty_workflow": f"""
            WITH {_TOKS}, {_BSTATS}, {_PURGE}, {_filter_sql(0.125)},
            wt AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                     CAST(count(*) AS DOUBLE) AS weight
              FROM filtered a
              JOIN filtered b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            m AS (SELECT avg(weight) AS mw FROM wt),
            cand AS (
              SELECT DISTINCT least(left_id, right_id) AS left_id,
                     greatest(left_id, right_id) AS right_id
              FROM wt CROSS JOIN m WHERE weight >= mw
            ),
            nh AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
            gold AS (
              SELECT least(a.doc_id, b.doc_id) AS left_id,
                     greatest(a.doc_id, b.doc_id) AS right_id
              FROM nh a JOIN nh b ON a.h = b.h AND a.doc_id < b.doc_id
            ),
            counts AS (
              SELECT (SELECT count(*) FROM cand JOIN gold USING (left_id, right_id)) AS tp,
                     (SELECT count(*) FROM cand) AS n_candidates,
                     (SELECT count(*) FROM gold) AS n_gold
            )
            SELECT tp, n_candidates, n_gold,
                   CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END AS pc,
                   CASE WHEN n_candidates > 0 THEN tp / n_candidates ELSE 0.0 END AS pq,
                   CASE WHEN (CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END)
                           + (CASE WHEN n_candidates > 0 THEN tp / n_candidates ELSE 0.0 END) > 0
                        THEN 2 * (CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END)
                               * (CASE WHEN n_candidates > 0 THEN tp / n_candidates ELSE 0.0 END)
                             / ((CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END)
                                + (CASE WHEN n_candidates > 0 THEN tp / n_candidates ELSE 0.0 END))
                        ELSE 0.0 END AS f1
            FROM counts
        """,
        # schema cell l1/schemaBased/TokenBlocking.java:32-41 dataset 0: P3
        # title projection (first-6-words span, the lift's attribute), sides
        # even/odd, no purging, BF 0.9 over clean-clean block stats
        # (comparisons = n_a * n_b), CBS weights, RCNP with the derived
        # per-node budget k = max(1, floor(BC/|E| + .5) - 1)
        "tuned_schema_workflow": r"""
            WITH tt AS (
              SELECT doc_id,
                     lower(trim(array_to_string((str_split(text, ' '))[1:6], ' '))) AS s
              FROM documents
            ),
            -- ids as VARCHAR from here on: the docs lift carries string
            -- doc_ids, so the engine's RCNP tie-break is LEXICOGRAPHIC
            sbtoks AS (
              SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id,
                     doc_id % 2 = 0 AS is_a, tok FROM (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(s, '[\W_]+'),
                                          t -> t <> '')) AS tok
                FROM tt
              )
            ),
            sbstats AS (
              SELECT tok AS block_key,
                     CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END)
                          * sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS comp
              FROM sbtoks GROUP BY tok
            ),
            sbranked AS (
              SELECT t.doc_id, t.is_a, t.tok AS block_key,
                     row_number() OVER (PARTITION BY t.doc_id
                                        ORDER BY s.comp ASC, t.tok ASC) AS rk,
                     count(*)     OVER (PARTITION BY t.doc_id) AS nb
              FROM sbtoks t JOIN sbstats s ON s.block_key = t.tok
            ),
            sbf AS (
              SELECT doc_id, is_a, block_key FROM sbranked
              WHERE rk <= CAST(round(CAST(nb AS DOUBLE) * 0.9) AS INT)
            ),
            kval AS (
              SELECT greatest(1, CAST(floor(
                       CAST((SELECT count(*) FROM sbf) AS DOUBLE)
                       / greatest((SELECT count(DISTINCT doc_id) FROM sbf), 1)
                       + 0.5) AS BIGINT) - 1) AS k
            ),
            wt AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                     CAST(count(*) AS DOUBLE) AS weight
              FROM sbf a
              JOIN sbf b ON a.block_key = b.block_key AND a.is_a AND NOT b.is_a
              GROUP BY a.doc_id, b.doc_id
            ),
            ne AS (
              SELECT left_id AS node, left_id, right_id, weight, right_id AS other
              FROM wt
              UNION ALL
              SELECT right_id AS node, left_id, right_id, weight, left_id AS other
              FROM wt
            ),
            flags AS (
              SELECT left_id, right_id, weight,
                     CASE WHEN row_number() OVER (PARTITION BY node
                                                  ORDER BY weight DESC, other ASC)
                               <= (SELECT k FROM kval)
                          THEN 1 ELSE 0 END AS pass
              FROM ne
            )
            SELECT left_id, right_id, weight
            FROM flags
            GROUP BY left_id, right_id, weight
            HAVING sum(pass) >= 2
        """,
        # N7 DeepBlocker stand-in: feature-hashing tuple embedding (exact
        # BIGINT coordinate sums over md5-derived token vectors — order
        # independent, so the GROUP BY replays Spark's shuffle agg exactly)
        # -> L2 normalize -> tie-inclusive top-5 cosine self-pairing (same
        # rk/kth pattern as knn_embeddings)
        "deepblocker_pairs": f"""
            WITH {_TOKS},
            te AS (
              SELECT doc_id, d.d,
                     sum(CAST('0x' || substring(md5('te:' || tok || ':'
                                                    || CAST(d.d AS VARCHAR)),
                                                1, 10) AS BIGINT)
                         - 549755813888) AS e
              FROM toks CROSS JOIN generate_series(0, 15) d(d)
              GROUP BY doc_id, d.d
            ),
            tev AS (
              SELECT doc_id, list(CAST(e AS DOUBLE) ORDER BY d) AS e
              FROM te GROUP BY doc_id
            ),
            tnv AS (
              SELECT doc_id,
                     CASE WHEN nrm > 0 THEN list_transform(e, x -> x / nrm)
                          ELSE e END AS u
              FROM (SELECT doc_id, e,
                           sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
                    FROM tev)
            ),
            sc AS (
              SELECT q.doc_id AS query_id, c.doc_id AS corpus_id,
                     list_sum(list_transform(generate_series(1, len(q.u)),
                                             i -> q.u[i] * c.u[i])) AS score
              FROM tnv q JOIN tnv c ON q.doc_id <> c.doc_id
            ),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, corpus_id ASC) AS rn
              FROM sc
            ),
            kth AS (
              SELECT query_id, max(CASE WHEN rn = 5 THEN score END) AS kv
              FROM rk GROUP BY query_id
            )
            SELECT s.query_id, s.corpus_id, s.score
            FROM sc s JOIN kth k USING (query_id)
            WHERE k.kv IS NULL OR s.score >= k.kv
        """,
        # grams grouped by STRING here vs xxhash64 on the Spark side —
        # identical equality classes absent a 64-bit collision
        "duplicated_ngram_spans": """
            WITH wtoks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)),
                                                       '[\\W_]+'),
                                 t -> t <> '') AS ts
              FROM documents
            ),
            wins AS (
              SELECT doc_id, w.pos AS pos, w.gram AS gram FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ts) - 8 + 2),
                              i -> {'pos': i - 1,
                                    'gram': array_to_string(
                                        list_slice(ts, i, i + 8 - 1), ' ')})) AS w
                FROM wtoks WHERE len(ts) >= 8
              )
            ),
            flagged AS (
              SELECT gram FROM wins
              GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
            ),
            hits AS (
              SELECT doc_id, pos FROM wins
              WHERE gram IN (SELECT gram FROM flagged)
            ),
            isl0 AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id
                                                    ORDER BY pos) + 8
                          THEN 1 ELSE 0 END AS nw
              FROM hits
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM isl0
            )
            SELECT doc_id, min(pos)::INT AS start_tok,
                   (max(pos) + 8 - 1)::INT AS end_tok,
                   count(*)::BIGINT AS n_windows
            FROM isl GROUP BY doc_id, island
        """,
        "contamination_flags": """
            WITH wtoks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)),
                                                       '[\\W_]+'),
                                 t -> t <> '') AS ts
              FROM documents
            ),
            wins AS (
              SELECT doc_id, w.gram AS gram FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ts) - 4 + 2),
                              i -> {'gram': array_to_string(
                                        list_slice(ts, i, i + 4 - 1), ' ')})) AS w
                FROM wtoks WHERE len(ts) >= 4
              )
            ),
            bgrams AS (
              SELECT DISTINCT gram FROM wins WHERE doc_id % 25 = 0
            ),
            hits AS (
              SELECT doc_id, count(DISTINCT gram)::BIGINT AS n_hits
              FROM wins
              WHERE doc_id % 25 <> 0 AND gram IN (SELECT gram FROM bgrams)
              GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   (coalesce(h.n_hits, 0) > 0) AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 25 <> 0) d
            LEFT JOIN hits h USING (doc_id)
        """,
        "repetition_signals": """
            WITH wtoks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)),
                                                       '[\\W_]+'),
                                 t -> t <> '') AS ts
              FROM documents
            ),
            stats AS (
              SELECT doc_id, len(ts)::INT AS n_tokens,
                     len(list_distinct(ts))::INT AS n_distinct
              FROM wtoks
            ),
            wins AS (
              SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                     i -> array_to_string(list_slice(ts, i, i + 1), ' '))) AS gram
              FROM wtoks WHERE len(ts) >= 2
            ),
            top AS (
              SELECT doc_id, max(c)::BIGINT AS top_cnt FROM (
                SELECT doc_id, gram, count(*) AS c FROM wins
                GROUP BY doc_id, gram
              ) GROUP BY doc_id
            )
            SELECT s.doc_id, s.n_tokens,
                   CASE WHEN s.n_tokens > 0
                        THEN round(1.0 - s.n_distinct / s.n_tokens::DOUBLE, 6)
                        ELSE 0.0 END AS dup_token_frac,
                   coalesce(t.top_cnt, 0)::BIGINT AS top_ngram_count,
                   CASE WHEN s.n_tokens > 0
                        THEN round(least(coalesce(t.top_cnt, 0) * 2
                                         / s.n_tokens::DOUBLE, 1.0), 6)
                        ELSE 0.0 END AS top_ngram_frac,
                   (coalesce(t.top_cnt, 0) >= 2 AND
                    (CASE WHEN s.n_tokens > 0
                          THEN round(least(coalesce(t.top_cnt, 0) * 2
                                           / s.n_tokens::DOUBLE, 1.0), 6)
                          ELSE 0.0 END) > 0.2) AS repetitive
            FROM stats s LEFT JOIN top t USING (doc_id)
        """,
        "sorted_neighborhood": """
            WITH ranked AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY k, doc_id) - 1 AS rnk
              FROM (
                SELECT doc_id,
                       array_to_string(
                         list_filter(regexp_split_to_array(lower(trim(text)),
                                                           '[\\W_]+'),
                                     t -> t <> ''), ' ') AS k
                FROM documents
              )
            )
            SELECT least(a.doc_id, b.doc_id) AS id1,
                   greatest(a.doc_id, b.doc_id) AS id2
            FROM ranked a JOIN ranked b
              ON b.rnk > a.rnk AND b.rnk < a.rnk + 4
        """,
        # Fellegi-Sunter stage 1: agreement vectors over the token-blocking
        # candidate pairs. Every agreement is integer arithmetic (equality,
        # cross-multiplied length tolerance, cross-multiplied Jaccard) so
        # the comparison vector gamma is bit-exact in any engine.
        "fs_agreements": f"""
            WITH {_FS_AGR}
            SELECT left_id, right_id, a_lang, a_source, a_len, a_jac FROM agr
        """,
        # stage 2: supervised m/u from the exact-duplicate label relation
        # (add-one smoothing); one row of count-ratio doubles
        "fs_weights": f"""
            WITH {_FS_AGR}
            SELECT {_FS_WTS_COLS} FROM agr
        """,
        # stage 3: likelihood ratio = fixed-field-order product of m/u or
        # (1-m)/(1-u) terms; the weight row is a single-row cross join
        "fs_scores": f"""
            WITH {_FS_AGR},
            wts AS (SELECT {_FS_WTS_COLS} FROM agr),
            {_FS_LR}
            SELECT left_id, right_id, lr FROM lrt
        """,
        # stage 4: one EM E-step per agreement pattern from dyadic-rational
        # init (m=7/8, u=1/8, lambda=1/2 - exactly representable doubles)
        "fs_em_posterior": f"""
            WITH {_FS_AGR},
            pat AS (
              SELECT a_lang, a_source, a_len, a_jac, count(*) AS n
              FROM agr GROUP BY a_lang, a_source, a_len, a_jac
            )
            SELECT a_lang, a_source, a_len, a_jac, n,
                   (CAST(0.5 AS DOUBLE) * {_FS_P1})
                   / ((CAST(0.5 AS DOUBLE) * {_FS_P1})
                      + CAST(0.5 AS DOUBLE) * {_FS_P0}) AS posterior
            FROM pat
        """,
        # survivorship: one golden record per ER cluster — representative =
        # longest normalized text (tie: min id), categorical mode with
        # lexicographic tie-break, integer provenance stats
        "golden_records": f"""
            WITH RECURSIVE {_ER_CC},
            mem AS (
              SELECT a.cluster_id, d.doc_id, lower(trim(d.text)) AS norm,
                     d.lang, d.source, d.n_chars
              FROM assign a JOIN documents d ON d.doc_id = a.doc_id
            ),
            stats AS (
              SELECT cluster_id, count(*) AS n_members,
                     CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                     min(doc_id) AS min_doc_id
              FROM mem GROUP BY cluster_id
            ),
            rep AS (
              SELECT cluster_id, doc_id AS rep_id, norm AS rep_text,
                     row_number() OVER (PARTITION BY cluster_id
                                        ORDER BY length(norm) DESC, doc_id ASC) AS rn
              FROM mem
            ),
            lc AS (SELECT cluster_id, lang, count(*) AS c
                   FROM mem GROUP BY cluster_id, lang),
            lp AS (SELECT cluster_id, lang,
                          row_number() OVER (PARTITION BY cluster_id
                                             ORDER BY c DESC, lang ASC) AS rn
                   FROM lc),
            srcc AS (SELECT cluster_id, source, count(*) AS c
                     FROM mem GROUP BY cluster_id, source),
            srcp AS (SELECT cluster_id, source,
                            row_number() OVER (PARTITION BY cluster_id
                                               ORDER BY c DESC, source ASC) AS rn
                     FROM srcc)
            SELECT s.cluster_id, r.rep_id, r.rep_text,
                   l.lang AS canon_lang, p.source AS canon_source,
                   s.n_members, s.sum_chars, s.min_doc_id
            FROM stats s
            JOIN rep r ON r.cluster_id = s.cluster_id AND r.rn = 1
            JOIN lp l ON l.cluster_id = s.cluster_id AND l.rn = 1
            JOIN srcp p ON p.cluster_id = s.cluster_id AND p.rn = 1
        """,
        # B-cubed contingency of the ER clustering vs the exact-duplicate
        # gold partition — all-integer per-doc surface
        "bcubed_per_doc": f"""
            WITH RECURSIVE {_ER_CC},
            gold AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY lower(trim(text))) AS gold_id
              FROM documents
            ),
            bj AS (
              SELECT a.doc_id, a.cluster_id AS c, g.gold_id AS g
              FROM assign a JOIN gold g ON g.doc_id = a.doc_id
            ),
            csz AS (SELECT c, count(*) AS c_size FROM bj GROUP BY c),
            gsz AS (SELECT g, count(*) AS g_size FROM bj GROUP BY g),
            ov AS (SELECT c, g, count(*) AS overlap FROM bj GROUP BY c, g)
            SELECT bj.doc_id, csz.c_size, gsz.g_size, ov.overlap
            FROM bj
            JOIN csz USING (c) JOIN gsz USING (g) JOIN ov USING (c, g)
        """,
        # Adjusted-Rand integer components of er_clusters vs the
        # exact-duplicate gold partition (x*(x-1) is even -> // 2 lossless)
        "ari_components": f"""
            WITH RECURSIVE {_ER_CC},
            gold AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY lower(trim(text))) AS gold_id
              FROM documents
            ),
            bj AS (
              SELECT a.doc_id, a.cluster_id AS c, g.gold_id AS g
              FROM assign a JOIN gold g ON g.doc_id = a.doc_id
            ),
            cells AS (
              SELECT CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS sum_pairs_cells
              FROM (SELECT count(*) AS n FROM bj GROUP BY c, g)
            ),
            sysp AS (
              SELECT CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS sum_pairs_sys
              FROM (SELECT count(*) AS n FROM bj GROUP BY c)
            ),
            goldp AS (
              SELECT CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS sum_pairs_gold
              FROM (SELECT count(*) AS n FROM bj GROUP BY g)
            ),
            nn AS (SELECT count(*) AS n_docs FROM bj)
            SELECT nn.n_docs, cells.sum_pairs_cells, sysp.sum_pairs_sys,
                   goldp.sum_pairs_gold
            FROM nn CROSS JOIN cells CROSS JOIN sysp CROSS JOIN goldp
        """,
        # per-cluster density + source purity over the er_clusters chain
        # (matches/assign CTEs shared with er_clusters)
        "cluster_diagnostics": f"""
            WITH RECURSIVE {_ER_CC},
            cstats AS (
              SELECT cluster_id, count(*) AS n_members
              FROM assign GROUP BY cluster_id HAVING count(*) > 1
            ),
            cedges AS (
              SELECT a.cluster_id, count(*) AS n_edges
              FROM matches m JOIN assign a ON a.doc_id = m.left_id
              GROUP BY a.cluster_id
            ),
            srcn AS (
              SELECT cluster_id, max(n) AS max_source_n FROM (
                SELECT a.cluster_id, d.source, count(*) AS n
                FROM assign a JOIN documents d ON d.doc_id = a.doc_id
                GROUP BY a.cluster_id, d.source
              ) GROUP BY cluster_id
            )
            SELECT s.cluster_id, s.n_members,
                   coalesce(e.n_edges, 0) AS n_edges,
                   CAST((s.n_members * (s.n_members - 1)) // 2 AS BIGINT)
                     AS n_possible,
                   n.max_source_n
            FROM cstats s
            LEFT JOIN cedges e ON e.cluster_id = s.cluster_id
            JOIN srcn n ON n.cluster_id = s.cluster_id
        """,
        # phonetic blocks: Soundex-flavored key = first letter + first 3
        # collapsed non-zero digits of the letter->digit translation, rpad
        # to 4; alphabetic tokens only. Run collapse is one regexp_replace
        # per digit (RE2 has no backreferences)
        "phonetic_blocks": f"""
            WITH {_TOKS},
            ph AS (
              SELECT DISTINCT doc_id,
                     rpad(substring(tok, 1, 1) ||
                          substring(
                            regexp_replace({_PHONETIC_COLLAPSE_SQL},
                                           '0', '', 'g'),
                            1, 3),
                          4, '0') AS block_key
              FROM toks
              WHERE regexp_matches(tok, '^[a-z]+$')
            )
            SELECT block_key, count(*) AS n_docs FROM ph GROUP BY block_key
        """,
        # SQ8 quantized kNN: per-dim (min, range) over the normalized
        # corpus -> uint8 codes -> integer centered-code dot, top-4k per
        # query (tie: corpus_id) -> exact cosine re-rank to top-5
        "knn_sq8": f"""
            WITH {_NVEC},
            expl0 AS (
              SELECT vec_id,
                     unnest(list_transform(generate_series(1, len(u)),
                                           i -> {{'i': i, 'x': u[i]}})) AS e
              FROM nv
            ),
            expl AS (SELECT vec_id, e.i AS i, e.x AS x FROM expl0),
            dims AS (SELECT i, min(x) AS mn, max(x) AS mx FROM expl GROUP BY i),
            codes AS (
              SELECT e.vec_id, e.i,
                     CASE WHEN d.mx - d.mn = 0 THEN 0
                          ELSE CAST(greatest(0, least(255,
                               floor(((e.x - d.mn) / (d.mx - d.mn)) * 256.0)))
                               AS INT)
                     END AS q
              FROM expl e JOIN dims d USING (i)
            ),
            qdot AS (
              SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
                     CAST(sum(CAST(a.q - 128 AS BIGINT) * (b.q - 128)) AS BIGINT)
                       AS qscore
              FROM codes a JOIN codes b ON a.i = b.i AND a.vec_id <> b.vec_id
              GROUP BY a.vec_id, b.vec_id
            ),
            topm AS (
              SELECT query_id, corpus_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY qscore DESC, corpus_id ASC) AS rm
              FROM qdot
            ),
            rr AS (
              SELECT t.query_id, t.corpus_id,
                     list_sum(list_transform(generate_series(1, len(q.u)),
                                             i -> q.u[i] * c.u[i])) AS score
              FROM topm t
              JOIN nv q ON q.vec_id = t.query_id
              JOIN nv c ON c.vec_id = t.corpus_id
              WHERE t.rm <= 20
            )
            SELECT query_id, corpus_id, score FROM (
              SELECT rr.*, row_number() OVER (PARTITION BY query_id
                                              ORDER BY score DESC, corpus_id ASC) AS rn
              FROM rr
            ) WHERE rn <= 5
        """,
        # unique-mapping matching, round 1: locally dominant pairs of the
        # clean-clean scored pair table — best incident pair of BOTH
        # endpoints under the total order (score DESC, left_id, right_id)
        "best_match_pairs": f"""
            WITH {_CC_PURGE},
            cpairs AS (
              SELECT DISTINCT a.doc_id AS lid, b.doc_id AS rid
              FROM ccpurged a
              JOIN ccpurged b ON a.block_key = b.block_key AND a.is_a AND NOT b.is_a
            ),
            sz AS (SELECT doc_id, count(DISTINCT tok) AS sz FROM cctoks GROUP BY doc_id),
            common AS (
              SELECT p.lid, p.rid, count(*) AS c
              FROM cpairs p
              JOIN cctoks tl ON tl.doc_id = p.lid
              JOIN cctoks tr ON tr.doc_id = p.rid AND tl.tok = tr.tok
              GROUP BY p.lid, p.rid
            ),
            scored AS (
              SELECT CAST(c.lid AS VARCHAR) AS left_id,
                     CAST(c.rid AS VARCHAR) AS right_id,
                     CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) AS score
              FROM common c
              JOIN sz l ON l.doc_id = c.lid
              JOIN sz r ON r.doc_id = c.rid
              WHERE CAST(c.c AS DOUBLE) / (l.sz + r.sz - c.c) >= 0.5
            ),
            ranked AS (
              SELECT left_id, right_id, score,
                     row_number() OVER (PARTITION BY left_id
                                        ORDER BY score DESC, left_id ASC,
                                                 right_id ASC) AS rl,
                     row_number() OVER (PARTITION BY right_id
                                        ORDER BY score DESC, left_id ASC,
                                                 right_id ASC) AS rr
              FROM scored
            )
            SELECT left_id, right_id, score FROM ranked
            WHERE rl = 1 AND rr = 1
        """,
        # rarity-weighted Jaccard ε-join: integer weights w = N div df,
        # exact integer sums, one final IEEE division per pair
        "weighted_epsilon_join": f"""
            WITH {_TOKS},
            nn AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
            dfq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
            wt AS (SELECT d.tok, CAST(nn.n // d.df AS BIGINT) AS w
                   FROM dfq d CROSS JOIN nn),
            dw AS (
              SELECT t.doc_id, CAST(sum(w.w) AS BIGINT) AS tw
              FROM toks t JOIN wt w ON w.tok = t.tok GROUP BY t.doc_id
            ),
            cw AS (
              SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                     CAST(sum(w.w) AS BIGINT) AS c
              FROM toks a
              JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              JOIN wt w ON w.tok = a.tok
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT c.left_id, c.right_id,
                   CAST(c.c AS DOUBLE) / (l.tw + r.tw - c.c) AS score
            FROM cw c
            JOIN dw l ON l.doc_id = c.left_id
            JOIN dw r ON r.doc_id = c.right_id
            WHERE CAST(c.c AS DOUBLE) / (l.tw + r.tw - c.c) >= 0.4
        """,
        # PQ kNN: sampled codebook (16 smallest-md5 rows), per-subspace
        # L2-nearest encode (tie: smallest code), ADC approximate score =
        # dot(query, reconstruction), top-20 per query, exact re-rank to 5
        "knn_pq": f"""
            WITH {_NVEC},
            {_pq_cte(42)},
            qdot AS (
              SELECT q.vec_id AS query_id, r.vec_id AS corpus_id,
                     list_sum(list_transform(generate_series(1, 64),
                       p -> q.u[p] * r.recon[p])) AS qscore
              FROM nv q JOIN rec r ON q.vec_id <> r.vec_id
            ),
            topm AS (
              SELECT query_id, corpus_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY qscore DESC, corpus_id ASC) AS rm
              FROM qdot
            ),
            rr AS (
              SELECT t.query_id, t.corpus_id,
                     list_sum(list_transform(generate_series(1, len(q.u)),
                                             i -> q.u[i] * c.u[i])) AS score
              FROM topm t
              JOIN nv q ON q.vec_id = t.query_id
              JOIN nv c ON c.vec_id = t.corpus_id
              WHERE t.rm <= 20
            )
            SELECT query_id, corpus_id, score FROM (
              SELECT rr.*, row_number() OVER (PARTITION BY query_id
                                              ORDER BY score DESC, corpus_id ASC) AS rn
              FROM rr
            ) WHERE rn <= 5
        """,
        # IVF-PQ: seed-42 sampled centroids route (corpus 1 cell, queries
        # probe 4 of 16); seed-43 PQ codebook (64 codewords — measured
        # recall gate: 16 codewords bottomed recall at ~0.6 even on
        # clustered corpora, 64 reaches 0.99; tests/test_dense.py) scores
        # dot(query, recon) inside probed cells; top-40 per query re-rank
        # exactly to top-5
        "knn_ivfpq": f"""
            WITH {_NVEC},
            keyed AS (
              SELECT vec_id, u,
                     CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR) || ':42'),
                                            1, 10) AS BIGINT) AS s
              FROM nv
            ),
            cent AS (
              SELECT row_number() OVER (ORDER BY s ASC,
                                        CAST(vec_id AS VARCHAR) ASC) - 1 AS cell,
                     u AS cu
              FROM (SELECT * FROM keyed
                    ORDER BY s ASC, CAST(vec_id AS VARCHAR) ASC LIMIT 16)
            ),
            asg AS (
              SELECT n.vec_id, c.cell, n.u,
                     row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY list_sum(list_transform(generate_series(1, len(n.u)),
                                                        i -> n.u[i] * c.cu[i])) DESC,
                                c.cell ASC) AS rn
              FROM nv n CROSS JOIN cent c
            ),
            {_pq_cte(43, 64)},
            sc AS (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     list_sum(list_transform(generate_series(1, 64),
                                             p -> q.u[p] * r.recon[p])) AS qscore
              FROM (SELECT * FROM asg WHERE rn <= 4) q
              JOIN (SELECT * FROM asg WHERE rn = 1) c USING (cell)
              JOIN rec r ON r.vec_id = c.vec_id
              WHERE q.vec_id <> c.vec_id
            ),
            topm AS (
              SELECT query_id, corpus_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY qscore DESC, corpus_id ASC) AS rm
              FROM sc
            ),
            rr AS (
              SELECT t.query_id, t.corpus_id,
                     list_sum(list_transform(generate_series(1, len(q.u)),
                                             i -> q.u[i] * c.u[i])) AS score
              FROM topm t
              JOIN nv q ON q.vec_id = t.query_id
              JOIN nv c ON c.vec_id = t.corpus_id
              WHERE t.rm <= 40
            )
            SELECT query_id, corpus_id, score FROM (
              SELECT rr.*, row_number() OVER (PARTITION BY query_id
                                              ORDER BY score DESC, corpus_id ASC) AS rn
              FROM rr
            ) WHERE rn <= 5
        """,
        # end-to-end Fellegi-Sunter linkage: agreement vectors -> supervised
        # m/u -> lr >= 50 decision -> transitive closure, min-id clusters +
        # singletons
        "fs_er_clusters": f"""
            WITH RECURSIVE {_FS_AGR},
            wts AS (SELECT {_FS_WTS_COLS} FROM agr),
            {_FS_LR},
            fsm AS (SELECT left_id, right_id FROM lrt WHERE lr >= 50.0),
            sym AS (
              SELECT left_id AS src, right_id AS dst FROM fsm
              UNION ALL
              SELECT right_id, left_id FROM fsm
            ),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            reach AS (
              SELECT node AS a, node AS b FROM nodes
              UNION
              SELECT r.a, e.dst FROM reach r JOIN sym e ON e.src = r.b
            ),
            cc AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
            SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
        """,
        # graded-gamma FS: per-level m/u (per-level Laplace smoothing)
        "fs_gamma_weights": f"""
            WITH {_FS_GAGR}
            SELECT {_FS_GWTS_COLS} FROM gagr
        """,
        # graded-gamma FS: fixed-field-order product of per-level terms
        "fs_gamma_scores": f"""
            WITH {_FS_GAGR},
            wts AS (SELECT {_FS_GWTS_COLS} FROM gagr)
            SELECT a.left_id, a.right_id, {_FS_GLR} AS lr
            FROM gagr a CROSS JOIN wts w
        """,
    }
    # the bucket-grid engine scores EXACTLY the clean_clean_er semantics —
    # one oracle certifying a third physical engine (plans/bucketed.py)
    d["bucketed_scoring"] = d["clean_clean_er"]
    d["unique_mapping_pairs"] = _unique_mapping_sql()
    return d
