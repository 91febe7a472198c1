"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 against the
driver-provided parquet tables (documents / events / embeddings). Column
names are aliased identically on both sides — the driver's comparator sorts
columns by name and hashes values.

Portability rules used throughout (Spark <-> DuckDB):
  * counts / sums cast to BIGINT on both sides (DuckDB SUM(int) is HUGEINT);
  * no raw doubles in output except explicitly rounded ones;
  * md5 (both engines) instead of sha1 (Spark-only) for content keys;
  * window ties always broken by a unique id for determinism.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.lineage import cut_lineage


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def docs_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View the documents table as single-turn transcripts — the bridge from
    the driver corpus to the engine's input contract."""
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def docs_as_multiturn_transcripts(
    spark: SparkSession,
    sf_dir: str,
    words_per_turn: int = 12,
    replicate: int = 1,
    mutate: bool = False,
) -> DataFrame:
    """Documents chunked into ~words_per_turn-word turns — a deterministic
    multi-turn transcript corpus whose size scales with the sf dir. With
    ``replicate`` > 1, each doc is cloned under distinct conv_ids: exact
    copies by default (planted exact duplicates, exercising the cascade's
    dedup-before-kernel fast path), or with ``mutate=True`` each replica
    gets a per-replica token salt (planted NEAR duplicates, every doc
    unique -> the full MinHash kernel runs on all of them; use this for
    compute-bound scaling runs). All native (split + slice + posexplode)."""
    docs = _t(spark, sf_dir, "documents")
    if replicate > 1:
        # spread the replication across tasks: the source parquet is a
        # single partition, and the crossJoin + chunk transform inherit its
        # partitioning — without this the whole corpus is generated by ONE
        # task before any downstream shuffle
        docs = docs.repartition(64)
        docs = docs.crossJoin(
            spark.range(replicate).select(F.col("id").alias("rep"))
        ).select(
            F.concat_ws("#", F.col("doc_id").cast("string"), F.col("rep")).alias("doc_key"),
            (
                F.when(
                    F.lit(mutate) & (F.col("rep") > 0),
                    F.concat_ws(" ", "text", F.concat(F.lit("varianttok"), F.col("rep"))),
                ).otherwise(F.col("text"))
            ).alias("text"),
            "rep",
        )
    else:
        docs = docs.select(F.col("doc_id").cast("string").alias("doc_key"), "text")
    w = words_per_turn
    # let-binding trick: wrap the split in a 1-element array so the lambda
    # var w0 is evaluated once per row (the naive form re-splits per chunk)
    chunks = (
        f"transform(array(split(trim(text), '\\\\s+')), w0 -> "
        f"transform(sequence(0, greatest(cast(ceil(size(w0) / {w}.0) as int) - 1, 0)), "
        f"i -> concat_ws(' ', slice(w0, i * {w} + 1, {w}))))[0]"
    )
    return docs.select(
        F.col("doc_key").alias("conv_id"),
        F.posexplode(F.expr(chunks)).alias("turn_idx", "text"),
    ).select(
        "conv_id",
        F.col("turn_idx").cast("int"),
        F.lit("user").alias("role"),
        "text",
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


# --------------------------------------------------------------------------
# S1/A4 stage-0 assembly analog over events: conversation per user, turns
# ordered by (ts, event_id)   [SURVEY S1; dupe_analysis.py:160-232]
# --------------------------------------------------------------------------
def q_stage0_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.col("user_id").cast("long").alias("conv_id"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("turns")
        )
        .select(
            "conv_id",
            F.concat_ws(
                "\n", F.transform(F.col("turns"), lambda t: t["event_type"])
            ).alias("doc_text"),
            F.size("turns").cast("long").alias("n_turns"),
        )
    )


SQL_STAGE0 = """
SELECT CAST(user_id AS BIGINT) AS conv_id,
       string_agg(event_type, chr(10) ORDER BY ts, event_id) AS doc_text,
       CAST(count(*) AS BIGINT) AS n_turns
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# A1 collision-group prefilter  [dupe_analysis.py:391-407]
# --------------------------------------------------------------------------
def q_a1_collision_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("n_chars").isNotNull())
        .groupBy(F.col("n_chars").cast("long").alias("size_key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .filter(F.col("n_members") > 1)
    )


SQL_A1 = """
SELECT CAST(n_chars AS BIGINT) AS size_key, CAST(count(*) AS BIGINT) AS n_members
FROM documents WHERE n_chars IS NOT NULL
GROUP BY n_chars HAVING count(*) > 1
"""


# --------------------------------------------------------------------------
# J1 semi-join to collision groups  [dupe_analysis.py:395-406]
# --------------------------------------------------------------------------
def q_j1_semi_join_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    hot = (
        docs.groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter("c > 1")
        .select("n_chars")
    )
    return docs.join(hot, "n_chars", "left_semi").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("size_key"),
    )


SQL_J1 = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS size_key
FROM documents
WHERE n_chars IN (SELECT n_chars FROM documents GROUP BY n_chars HAVING count(*) > 1)
"""


# --------------------------------------------------------------------------
# J5 anti-join: rows NOT in any collision group  [deduplicate.py:593-597]
# --------------------------------------------------------------------------
def q_j5_anti_join_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    hot = (
        docs.groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter("c > 1")
        .select("n_chars")
    )
    return docs.join(hot, "n_chars", "left_anti").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


SQL_J5 = """
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
WHERE n_chars NOT IN (SELECT n_chars FROM documents GROUP BY n_chars HAVING count(*) > 1)
"""


# --------------------------------------------------------------------------
# A2 duplicate-group report  [dupe_analysis.py:532-562]
# --------------------------------------------------------------------------
def q_a2_dup_group_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("event_id").cast("long").alias("cluster_id"),
        )
        .filter(F.col("n_members") > 1)
    )


SQL_A2 = """
SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(event_id) AS BIGINT) AS cluster_id
FROM events GROUP BY user_id, event_type HAVING count(*) > 1
"""


# --------------------------------------------------------------------------
# G1 exact content clusters  [dupe_analysis.py:545-552]
# --------------------------------------------------------------------------
def q_g1_exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn("content_key", F.md5("text"))
    w = Window.partitionBy("content_key")
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.count(F.lit(1)).over(w).alias("_n"),
            F.min("doc_id").over(w).cast("long").alias("cluster_id"),
        )
        .filter(F.col("_n") > 1)
        .select("doc_id", "cluster_id")
    )


SQL_G1 = """
WITH keyed AS (SELECT doc_id, md5(text) AS content_key FROM documents),
grp AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY content_key) AS n,
         min(doc_id) OVER (PARTITION BY content_key) AS cluster_id
  FROM keyed)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(cluster_id AS BIGINT) AS cluster_id
FROM grp WHERE n > 1
"""


# --------------------------------------------------------------------------
# J4 merge-dedup union  [dupe_analysis.py:454-469]
# --------------------------------------------------------------------------
def q_j4_union_dedup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    batch1 = docs.filter(F.col("doc_id") % 2 == 0)
    batch2 = docs  # overlaps batch1 — first-writer-wins on doc_id
    return (
        batch1.unionByName(batch2)
        .dropDuplicates(["doc_id"])
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
    )


SQL_J4 = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(min(n_chars) AS BIGINT) AS n_chars
FROM (
  SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, n_chars FROM documents
) GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# O1 canonical election  [deduplicate.py:269-323]
# --------------------------------------------------------------------------
def q_o1_canonical_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "source",
        F.when(F.row_number().over(w) == 1, F.lit("keep"))
        .otherwise(F.lit("delete"))
        .alias("action"),
    )


SQL_O1 = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
       CASE WHEN row_number() OVER (PARTITION BY lang, source
                                    ORDER BY n_chars DESC, doc_id ASC) = 1
            THEN 'keep' ELSE 'delete' END AS action
FROM documents
"""


# --------------------------------------------------------------------------
# O3/top-k: top-3 events by value per type  [deduplicate.py:697 sorted output]
# --------------------------------------------------------------------------
def q_o3_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.select(
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
        .withColumn("rnk", F.col("rnk").cast("long"))
    )


SQL_O3 = """
SELECT CAST(event_id AS BIGINT) AS event_id, event_type, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT event_id, event_type,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rnk
  FROM events)
WHERE rnk <= 3
"""


# --------------------------------------------------------------------------
# F1 exclude filter  [dupe_analysis.py:29-30, 179-181]
# --------------------------------------------------------------------------
def q_f1_exclude_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(
        (~F.col("source").isin("src0")) & (F.col("lang") != "zh")
    ).select(F.col("doc_id").cast("long").alias("doc_id"))


SQL_F1 = """
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
WHERE source NOT IN ('src0') AND lang != 'zh'
"""


# --------------------------------------------------------------------------
# A3/A4 hierarchical rollup [deduplicate.py:133-200]: stats per prefix of a
# synthesized source/lang/doc hierarchy, all depths in one shuffle
# --------------------------------------------------------------------------
def q_a4_group_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        F.concat_ws(
            "/", "source", "lang", F.col("doc_id").cast("string")
        ).alias("conv_id"),
        F.col("n_chars").cast("long").alias("total_len"),
    )
    from deduplicate_spark.operators.rollup import prefix_explode

    return (
        prefix_explode(docs)
        .groupBy("group_prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("total_len").cast("long").alias("total_len_sum"),
        )
    )


SQL_A4 = """
WITH base AS (
  SELECT source || '/' || lang || '/' || CAST(doc_id AS VARCHAR) AS conv_id,
         CAST(n_chars AS BIGINT) AS total_len
  FROM documents),
exploded AS (
  SELECT b.total_len, u.group_prefix
  FROM base b,
       unnest(list_transform(
         range(1, greatest(len(string_split(b.conv_id, '/')) - 1, 1) + 1),
         n -> array_to_string(string_split(b.conv_id, '/')[1:n], '/')
       )) AS u(group_prefix))
SELECT group_prefix, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(total_len) AS BIGINT) AS total_len_sum
FROM exploded GROUP BY group_prefix
"""


# --------------------------------------------------------------------------
# Text analysis: token count  (training-data pipeline op)
# --------------------------------------------------------------------------
def q_tx_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )


SQL_TX_TOKENS = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
FROM documents
"""


# --------------------------------------------------------------------------
# Text analysis: quality heuristics (length / word stats / stopword ratio)
# --------------------------------------------------------------------------
def q_tx_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    stop = F.regexp_count("text", F.lit(r"\b(the|a)\b"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars_m"),
        toks.cast("long").alias("n_tokens"),
        stop.cast("long").alias("n_stopwords"),
        (F.length("text") >= 100).alias("long_enough"),
    )


SQL_TX_QUALITY = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_m,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '\b(the|a)\b')) AS BIGINT) AS n_stopwords,
       length(text) >= 100 AS long_enough
FROM documents
"""


# --------------------------------------------------------------------------
# Dedup: word-3-gram Jaccard near-dup pairs (native arrays both engines).
# Candidate prefilter: each doc publishes its K lexicographically-smallest
# gram md5s (a deterministic MinHash); candidates = docs sharing any
# published key (equi-join). P(miss a true J>=0.6 pair) = (1-J)^K < 1e-3 at
# K=8. Both the old inequality join (BNL, O(n^2)) and length-bucketing
# (near-quadratic within buckets) die at scale; this stays ~linear.
# Hot-key cap (VERDICT r2 #3): a min-gram shared by g > _MINGRAM_HOT docs
# would emit g^2/2 candidate rows from the self-join — those grams emit
# STAR candidates (min doc x other members, O(g)) instead, the same
# two-tier rule as the LSH band stage. The rule is implemented identically
# in the SQL oracle, so engine and oracle stay in lockstep at ANY scale,
# not just below the cap.
# --------------------------------------------------------------------------
_JACCARD_THRESHOLD = 0.6
_MINGRAM_K = 8
_MINGRAM_HOT = 64


def q_dd_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count-based Jaccard: gram ARRAYS never enter a shuffle. Each doc's
    # distinct grams are hashed to longs and exploded once; candidate pairs
    # (from the min-gram prefilter) are joined to the exploded table twice
    # — first on a's doc_id, then on the composite (b, gram_hash), which
    # distributes hot grams across pairs — and Jaccard falls out of
    # |A∩B| / (|A| + |B| - |A∩B|). Shuffled rows are 3 longs wide instead
    # of two whole-document gram arrays.
    docs = _t(spark, sf_dir, "documents")
    # MEASURED gates, one cheap count/sum over the source parquet (same
    # philosophy as run_pipeline.corpus_stats): (a) forced-SMJ insurance on
    # the corpus-sized self-join only when the corpus is big (the r4 form
    # read the DedupConfig class default, which no caller could flip —
    # ADVICE r4); (b) the small-corpus parallelism floor — a bench-scale
    # documents table is ONE parquet split, so without a spread the whole
    # trigram/md5/xxhash64 gram kernel runs on one core (measured at sf0.1:
    # single-task stages bounding the query wall); the repartition moves
    # only the raw text the gate just measured. Big corpora take neither
    # branch: many splits give the scan its parallelism for free.
    from deduplicate_spark.operators.skew import (
        bucket_pairs,
        maybe_merge_hint,
        resolve_gates,
        text_stats,
    )

    _cfg = DedupConfig()
    _smj = resolve_gates(*text_stats(docs), _cfg).forced_smj
    # scan-parallelism floor: the gram computation (split + md5 + xxhash64
    # per gram) is CPU-bound, and a single-file documents table yields
    # file-split parallelism only (a 148 MB file = 2 splits — measured at
    # a 500k-doc corpus: the gram stage ran 2-wide for 66 s). Spread the
    # scan whenever it has fewer splits than cores; at real scale the scan
    # already has >= cores splits and no exchange is added.
    _npart = docs.rdd.getNumPartitions()
    _want = spark.sparkContext.defaultParallelism
    if _npart < _want:
        docs = docs.repartition(max(_cfg.shuffle_partitions, _want))
    grams = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        # trigrams via arrays_zip of three shifted slices of ONE split:
        # the let-binding trick (wrap the split in a 1-element array so the
        # lambda var w0 binds it) evaluates the regex split once per row —
        # the previous form repeated the split in all three slice arguments
        # (3 regex passes per row), and the naive transform(sequence(...))
        # form re-splits per element (O(words^2) per doc, measured 6x
        # slower at sf0.1).
        F.array_distinct(
            F.expr(
                "transform(array(split(trim(text), '\\\\s+')), w0 -> "
                "transform(arrays_zip("
                "slice(w0, 1, greatest(size(w0) - 2, 1)), "
                "slice(w0, 2, greatest(size(w0) - 2, 1)), "
                "slice(w0, 3, greatest(size(w0) - 2, 1))), "
                "s -> concat_ws(' ', s['0'], s['1'], s['2'])))[0]"
            )
        ).alias("grams"),
    )
    # hash the gram strings down to narrow per-doc features BEFORE the
    # lineage cut: the cut then holds (long, int, array<long>, 8 md5s) per
    # doc instead of whole string-gram arrays (~3x the text), the doc is
    # parsed exactly once, and n_grams comes straight off the distinct
    # array — the old exploded.groupBy(doc_id).count() shuffled the entire
    # exploded gram table (~15x the corpus at scale) to recompute a number
    # the array already knows.
    feats = cut_lineage(
        grams.select(
            "doc_id",
            F.size("grams").alias("n_grams"),
            F.transform("grams", lambda g: F.xxhash64(g)).alias("gh"),
            F.slice(
                F.array_sort(F.transform("grams", lambda g: F.md5(g))), 1, _MINGRAM_K
            ).alias("min_grams"),
        ),
        eager=False,
    )
    sizes = feats.select("doc_id", "n_grams")
    # one collision bucket per min-gram; hot grams take the star tier
    cand = bucket_pairs(
        feats.select("doc_id", F.explode("min_grams").alias("min_gram")),
        "min_gram",
        allpairs_max=_MINGRAM_HOT,
        id_col="doc_id",
        forced_smj=_smj,
    )

    # size-ratio prefilter BEFORE any gram data moves: J = inter/union <=
    # min(n_a, n_b) / max(n_a, n_b) (inter <= min, union >= max), so pairs
    # whose size ratio is under the threshold cannot pass the final filter
    # — dropped here with two narrow joins instead of carrying their grams.
    # The epsilon keeps the bound a strict superset under float rounding.
    n_a = sizes.select(F.col("doc_id").alias("a"), F.col("n_grams").alias("n_a"))
    n_b = sizes.select(F.col("doc_id").alias("b"), F.col("n_grams").alias("n_b"))
    sized = (
        cand.join(maybe_merge_hint(n_a, _smj), "a")
        .join(maybe_merge_hint(n_b, _smj), "b")
        .filter(
            F.least("n_a", "n_b") / F.greatest("n_a", "n_b")
            >= F.lit(_JACCARD_THRESHOLD) - F.lit(1e-9)
        )
    )
    # |A ∩ B| natively per pair over the hashed-gram ARRAYS (~n_grams longs
    # per row, one hash-set probe pass in codegen). The former plan joined
    # cand to the exploded gram table per a-side gram — |cand| x ~n_grams
    # shuffled rows (measured at a 50k-doc word-salad corpus: 2.5M
    # candidates exploded to 100M rows, 13.3s of a 23s query) — then
    # re-aggregated the count the arrays already know.
    gh_a = feats.select(F.col("doc_id").alias("a"), F.col("gh").alias("_gha"))
    gh_b = feats.select(F.col("doc_id").alias("b"), F.col("gh").alias("_ghb"))
    return (
        sized.join(maybe_merge_hint(gh_a, _smj), "a")
        .join(maybe_merge_hint(gh_b, _smj), "b")
        .withColumn("n_inter", F.size(F.array_intersect("_gha", "_ghb")))
        .filter(
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            >= _JACCARD_THRESHOLD
        )
        .select("a", "b")
    )


SQL_DD_NGRAM = rf"""
WITH grams AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_distinct(list_transform(
           range(0, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 1)),
           i -> array_to_string((regexp_split_to_array(trim(text), '\s+'))[i+1:i+3], ' ')
         )) AS grams
  FROM documents),
keyed AS (
  SELECT g.doc_id, u.min_gram
  FROM grams g,
       unnest(list_sort(list_transform(g.grams, x -> md5(x)))[1:{_MINGRAM_K}]) AS u(min_gram)),
tagged AS (
  SELECT doc_id, min_gram,
         count(*) OVER (PARTITION BY min_gram) AS g_n,
         min(doc_id) OVER (PARTITION BY min_gram) AS g_rep
  FROM keyed),
cand AS (
  SELECT l.doc_id AS a, r.doc_id AS b
  FROM tagged l JOIN tagged r USING (min_gram)
  WHERE l.doc_id < r.doc_id AND l.g_n <= {_MINGRAM_HOT}
  UNION
  SELECT g_rep AS a, doc_id AS b
  FROM tagged WHERE g_n > {_MINGRAM_HOT} AND doc_id != g_rep)
SELECT c.a, c.b FROM cand c
JOIN grams ga ON ga.doc_id = c.a
JOIN grams gb ON gb.doc_id = c.b
WHERE len(list_intersect(ga.grams, gb.grams)) * 1.0
      / len(list_distinct(list_concat(ga.grams, gb.grams))) >= {_JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k  (embeddings table)
# --------------------------------------------------------------------------
_ANN_K = 5
_ANN_QUERIES = 5


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact cosine top-k via the vectorized brute-force kernel (fold-order
    # numpy scoring + per-batch top-k; bit-identical cosines and ranks to
    # the former zip_with/aggregate column, which was interpreted per array
    # element). exclude_self reproduces the pre-window vec_id != q_id filter.
    from deduplicate_spark.functions.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    queries = emb.filter(F.col("vec_id") < _ANN_QUERIES).select(
        F.col("vec_id").alias("q_id"), "v"
    )
    top = brute_force_topk(
        emb, queries, k=_ANN_K, id_col="vec_id", vec_col="v",
        query_id_col="q_id", exclude_self=True,
    )
    return top.select("q_id", "neighbor_id", F.col("rnk").cast("long"))


SQL_ANN = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < {_ANN_QUERIES}),
scored AS (
  SELECT q.q_id, e.vec_id,
         list_cosine_similarity(q.qv, e.embedding) AS cs
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.q_id),
ranked AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rnk
  FROM scored)
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS neighbor_id,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_ANN_K}
"""


# --------------------------------------------------------------------------
# Similarity search: IVF-partitioned ANN top-k (embeddings table).
# The inverted-file scale path beside the SRP-LSH one: corpus vectors are
# assigned to coarse cells by a zero-shuffle literal-centroid projection,
# queries probe their nprobe nearest cells, exact re-rank touches only the
# probed cells. Quantizer = the n_cells smallest-id vectors (deterministic
# + SQL-expressible, so the whole approximate path is hash-comparable);
# production swaps in the sampled k-means|| quantizer (same contract).
# Output is (q_id, neighbor_id, rnk) — ranks, not float cosines, so the
# compare hashes integers (same convention as ann_cosine_topk).
# --------------------------------------------------------------------------
_IVF_CELLS = 8
_IVF_NPROBE = 2


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduplicate_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < _ANN_QUERIES).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    top = ivf_topk(emb, queries, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE, k=_ANN_K)
    return top.select(
        "q_id", F.col("neighbor_id").cast("long"), F.col("rnk").cast("long")
    )


SQL_ANN_IVF = f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cv
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS})),
vassign AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
qprobe AS (
  SELECT q_id, qv, cell FROM (
    SELECT e.vec_id AS q_id, e.embedding AS qv, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < {_ANN_QUERIES}) WHERE rn <= {_IVF_NPROBE}),
scored AS (
  SELECT q.q_id, v.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, v.embedding) AS cs
  FROM qprobe q JOIN vassign v USING (cell)
  WHERE v.vec_id != q.q_id),
ranked AS (
  SELECT q_id, neighbor_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, neighbor_id ASC) AS rnk
  FROM scored)
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_ANN_K}
"""


# --------------------------------------------------------------------------
# Text analysis: language-ID (marker n-gram heuristic, argmax per doc)
# --------------------------------------------------------------------------
def q_tx_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduplicate_spark.functions.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        lang_id("text").alias("lang_pred"),
    )


def _sql_lang_id() -> str:
    # built from the SAME marker table the Spark function uses, so the two
    # sides cannot drift; tie-break mirrors F.array_max over (score, lang)
    # structs: score DESC then lang DESC
    from deduplicate_spark.functions.text import _LANG_MARKERS

    unions = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, '{lang}' AS lang, "
        f"len(regexp_extract_all(lower(text), '{pat}')) AS score FROM documents"
        for lang, pat in _LANG_MARKERS.items()
    )
    return f"""
WITH s AS (
{unions}),
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
  FROM s)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
FROM ranked WHERE rn = 1
"""


SQL_TX_LANG_ID = _sql_lang_id()


# --------------------------------------------------------------------------
# Text analysis: document fingerprint groups (normalized-content exact key).
# Spark groups on the 64-bit xxhash64 fingerprint (the scale key — 8 bytes
# shuffled, never the text); the oracle groups on the normalized text
# itself. The two partitions coincide unless xxhash64 collides — which the
# pipeline's collision guard would catch loudly (pipeline.corpus_stats).
# --------------------------------------------------------------------------
def q_tx_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduplicate_spark.functions.text import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        doc_fingerprint("text").alias("_fp"),
    )
    groups = fp.groupBy("_fp").agg(
        F.min("doc_id").alias("group_rep"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return fp.join(groups, "_fp").select("doc_id", "group_rep", "n_members")


SQL_TX_FINGERPRINT = r"""
WITH fp AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt
  FROM documents),
g AS (
  SELECT nt, min(doc_id) AS group_rep, CAST(count(*) AS BIGINT) AS n_members
  FROM fp GROUP BY nt)
SELECT f.doc_id, g.group_rep, g.n_members FROM fp f JOIN g USING (nt)
"""


# --------------------------------------------------------------------------
# Dedup: embedding-cosine near-dup pairs via the SRP-LSH bucketed path.
# Planted corpus (same recipe as the replica turns): every vec_id spawns
# two replicas with the IDENTICAL vector. Identical vectors get identical
# SRP signatures in every table — bucket recall is exactly 1 by
# construction, deterministically — so the approximate scale path is
# hash-comparable against the oracle's exact threshold pairs. Natural
# cross-doc pairs top out at cosine ~0.51 on the driver corpus (measured,
# both sf), far under the 0.95 threshold: any such pair that lands in a
# shared SRP bucket is removed by the exact re-rank on BOTH sides.
# --------------------------------------------------------------------------
_EMB_DUP_THRESHOLD = 0.95
_EMB_REPLICAS = 2


def q_dd_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduplicate_spark.functions.similarity import embedding_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding").alias("d")).first().d
    reps = spark.range(_EMB_REPLICAS).select(F.col("id").alias("rep"))
    planted = emb.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") * 10 + F.col("rep")).cast("long").alias("vec_id"),
        "embedding",
    )
    pairs = embedding_dup_pairs(planted, dim=dim, threshold=_EMB_DUP_THRESHOLD)
    return pairs.select(F.col("a").cast("long"), F.col("b").cast("long"))


SQL_DD_EMBEDDING_PAIRS = f"""
WITH planted AS (
  SELECT vec_id * 10 + r AS vid, embedding
  FROM embeddings CROSS JOIN range(0, {_EMB_REPLICAS}) t(r))
SELECT CAST(a.vid AS BIGINT) AS a, CAST(b.vid AS BIGINT) AS b
FROM planted a JOIN planted b ON a.vid < b.vid
WHERE list_cosine_similarity(a.embedding, b.embedding) >= {_EMB_DUP_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Non-SQL-expressible ops (rows-only driver check): the engine itself
# --------------------------------------------------------------------------
_PLANT_REPLICAS = 3
_PLANT_TOKENS = 200
_PLANT_SALT_TOKENS = 3  # tokens mutated per replica -> J_token = 197/203 ~ 0.97


def _planted_replica_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared planted-near-dup corpus behind the dd_minhash_clusters /
    dd_simhash_pairs / dd_actions oracles: each doc_id spawns
    _PLANT_REPLICAS single-turn conversations of _PLANT_TOKENS md5 tokens
    with only the first _PLANT_SALT_TOKENS salted per replica. Replica
    pairs have char-shingle J ~ 0.95 (always LSH candidates, SimHash
    hamming far under the bound); different doc_ids share zero tokens
    (never candidates). Every replica has n_turns=1 and IDENTICAL
    total_len (md5 tokens are fixed-width), so every downstream contract
    is pure arithmetic: cluster_id = canonical = min conv_id = doc_id*10
    (conv_ids zero-padded to width 12 so string min == numeric min)."""
    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    reps = spark.range(_PLANT_REPLICAS).select(F.col("id").alias("rep"))
    token_expr = (
        f"concat_ws(' ', transform(sequence(0, {_PLANT_TOKENS - 1}), i -> "
        f"CASE WHEN i < {_PLANT_SALT_TOKENS} THEN md5(concat(doc_id, ':', rep, ':', i)) "
        f"ELSE md5(concat(doc_id, ':', i)) END))"
    )
    return ids.crossJoin(reps).select(
        F.lpad((F.col("doc_id") * 10 + F.col("rep")).cast("string"), 12, "0").alias(
            "conv_id"
        ),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.expr(token_expr).alias("text"),
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def q_dd_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash/LSH/SimHash/CC near-dup pipeline, HASH-CHECKED against a
    pure-arithmetic SQL oracle (VERDICT r2 #4 — was rows-only).

    Construction makes the expected clusters derivable without running any
    MinHash in SQL: each doc_id spawns _PLANT_REPLICAS near-dup replicas
    whose text is 200 md5(doc_id:i) tokens with only the first
    _PLANT_SALT_TOKENS salted per replica (replica pairs have char-shingle
    J ~ 0.95 >> threshold; P[no LSH band matches] ~ (1-J^r)^b ~ 1e-30),
    while DIFFERENT doc_ids share zero tokens (J ~ 0 -> never candidates).
    The engine must therefore cluster replicas exactly by source doc:
    cluster_id = min replica id = doc_id * 10 (conv_ids are zero-padded to
    width 12 so the engine's min-STRING label equals the numeric min)."""
    from deduplicate_spark.pipeline import run_pipeline

    turns = _planted_replica_turns(spark, sf_dir)
    res = run_pipeline(spark, turns, DedupConfig())
    return res.clusters.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


SQL_DD_MINHASH_CLUSTERS = f"""
SELECT CAST(doc_id AS BIGINT) * 10 + r.rep AS doc_id,
       CAST(doc_id AS BIGINT) * 10 AS cluster_id
FROM documents
CROSS JOIN (SELECT unnest(range(0, {_PLANT_REPLICAS})) AS rep) r
"""


def q_dd_minhash_clusters_perm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same planted-replica clustering contract as dd_minhash_clusters
    (which runs the library default, ``minhash_mode='oph'`` since r5), run
    under the classic 128-permutation Broder estimator — so BOTH signature
    modes stay driver-certified against the identical arithmetic oracle.
    The oracle is kernel-independent: replica pairs are always LSH
    candidates under either estimator (per-component match probability is
    the same Jaccard, P[missed] ~ (1-J^r)^b ~ 1e-30), different doc_ids
    share zero tokens. Reference semantics analog: dupe_analysis.py
    hash-group equivalence, kernel-independent."""
    from deduplicate_spark.pipeline import run_pipeline

    turns = _planted_replica_turns(spark, sf_dir)
    res = run_pipeline(spark, turns, DedupConfig(minhash_mode="perm"))
    return res.clusters.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_dd_streaming_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked STREAMING equivalence (VERDICT r5 #4): the planted
    replica corpus is fed through the incremental foreachBatch surface
    (streaming/incremental.process_batch) in _PLANT_REPLICAS slices —
    replica k arrives in epoch k, so every near-dup pair SPANS batches and
    can only be found via the persisted LSH bucket state, never inside a
    single batch. Connected components over the accumulated pair state must
    then equal the batch pipeline's arithmetic contract (cluster = the
    replicas of one source doc, label = min conv_id = doc_id*10), i.e. the
    SAME oracle as dd_minhash_clusters. Reference analog: merged stores
    must link duplicates across stores (test_dupe_analysis.py:377-467) —
    here the 'stores' are epochs of one growing state."""
    import tempfile

    from deduplicate_spark.streaming.incremental import (
        IncrementalState,
        current_clusters,
        process_batch,
    )

    turns = _planted_replica_turns(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="dd_streaming_equiv_")
    state = IncrementalState(
        docs_path=f"{root}/docs",
        signatures_path=f"{root}/sigs",
        pairs_path=f"{root}/pairs",
    )
    cfg = DedupConfig()
    rep = F.col("conv_id").cast("long") % 10
    for k in range(_PLANT_REPLICAS):
        process_batch(
            spark, turns.filter(rep == k), state, cfg,
            first_batch=(k == 0), epoch=k,
        )
    out = current_clusters(spark, state, cfg).select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    # materialize before deleting the throwaway state root — repeated
    # correctness runs otherwise leak five state tables' worth of parquet
    # under /tmp per invocation (ADVICE r6)
    out = cut_lineage(out, eager=True)
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    return out


def q_dd_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-config (default DedupConfig) pipeline ACTIONS, hash-checked
    against a pure-arithmetic SQL oracle (VERDICT r4 #4 — the last
    rows-only query). Same planted-replica corpus as dd_minhash_clusters;
    because every replica has n_turns=1 and identical total_len, the
    canonical election (n_turns desc, total_len desc, conv_id asc) always
    falls through to the conv_id tie-break -> canonical = min conv_id =
    doc_id*10, and the keep/delete derivation (the reference's end
    product, deduplicate.py:691-718) is rep==0 ? keep : delete."""
    from deduplicate_spark.pipeline import run_pipeline

    turns = _planted_replica_turns(spark, sf_dir)
    res = run_pipeline(spark, turns, DedupConfig())
    return res.actions.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("canonical_conv_id").cast("long").alias("canonical_doc_id"),
        "action",
    )


SQL_DD_ACTIONS = f"""
SELECT CAST(doc_id AS BIGINT) * 10 + r.rep AS doc_id,
       CAST(doc_id AS BIGINT) * 10 AS cluster_id,
       CAST(doc_id AS BIGINT) * 10 AS canonical_doc_id,
       CASE WHEN r.rep = 0 THEN 'keep' ELSE 'delete' END AS action
FROM documents
CROSS JOIN (SELECT unnest(range(0, {_PLANT_REPLICAS})) AS rep) r
"""


def q_dd_actions_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """complete_hash-mode actions WITH a full SQL oracle (VERDICT r1 #8):
    exact-only clusters + canonical election are SQL-expressible, so this
    turns the engine's strict mode (dupe_analysis.py:622-633 analog) into a
    hash-checked row. Dupes are planted by unioning a re-keyed copy of the
    corpus (the raw table has no exact text dupes at small sf). The re-key
    offset is DATA-DERIVED (max(doc_id) + 1_000_000, integer arithmetic so
    Spark and DuckDB agree bit-for-bit) — a fixed offset would collide with
    real ids at scale factors where doc_id reaches it (ADVICE r2)."""
    from deduplicate_spark.pipeline import run_pipeline

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )
    off = docs.agg((F.max("doc_id") + F.lit(1_000_000)).alias("_off"))
    both = docs.unionByName(
        docs.crossJoin(F.broadcast(off)).select(
            (F.col("doc_id") + F.col("_off")).alias("doc_id"), "text"
        )
    )
    turns = both.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    res = run_pipeline(spark, turns, DedupConfig(complete_hash=True))
    return res.actions.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("canonical_conv_id").cast("long").alias("canonical_doc_id"),
        "action",
    )


# cluster label and canonical are the component's min conv_id, which is a
# STRING min in the engine — the oracle reproduces the varchar ordering
SQL_DD_ACTIONS_EXACT = """
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text
  FROM documents WHERE length(trim(text)) > 0),
both_t AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1000000 FROM base), text FROM base),
grp AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY text) AS n,
         min(CAST(doc_id AS VARCHAR)) OVER (PARTITION BY text) AS canon_str
  FROM both_t)
SELECT doc_id,
       CAST(canon_str AS BIGINT) AS cluster_id,
       CAST(canon_str AS BIGINT) AS canonical_doc_id,
       CASE WHEN CAST(doc_id AS VARCHAR) = canon_str THEN 'keep' ELSE 'delete' END AS action
FROM grp WHERE n > 1
"""


def q_dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates -> SimHash Hamming confirmation, HASH-CHECKED against
    a pure-arithmetic SQL oracle (VERDICT r3 #3 — was rows-only).

    Same planting recipe as dd_minhash_clusters: replicas of a doc differ in
    _PLANT_SALT_TOKENS of _PLANT_TOKENS md5 tokens, so replica pairs have
    shingle Jaccard ~0.95 (bands collide, SimHash hamming far below the
    confirm bound — the corpus is a deterministic function of doc_id, so
    the margin is fixed, not sampled), while docs from different doc_ids
    share zero tokens and are never LSH candidates. The confirmed pair set
    is therefore exactly the replica pairs {(10*id+i, 10*id+j) : i<j}.
    The hamming column is intentionally not emitted — its exact value is
    kernel detail; the CONTRACT is the confirmed pair set."""
    from deduplicate_spark.operators.assembly import assemble_docs
    from deduplicate_spark.operators.lsh import candidate_pairs
    from deduplicate_spark.operators.minhash import compute_signatures
    from deduplicate_spark.operators.simhash import confirm_pairs

    cfg = DedupConfig()
    turns = _planted_replica_turns(spark, sf_dir)
    docs = assemble_docs(turns, cfg)
    sigs = compute_signatures(docs, cfg)
    cand = candidate_pairs(sigs, cfg)
    return confirm_pairs(cand, sigs, config=cfg).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
    )


SQL_DD_SIMHASH_PAIRS = f"""
SELECT CAST(doc_id AS BIGINT) * 10 + r1.rep AS a,
       CAST(doc_id AS BIGINT) * 10 + r2.rep AS b
FROM documents
CROSS JOIN (SELECT unnest(range(0, {_PLANT_REPLICAS})) AS rep) r1
CROSS JOIN (SELECT unnest(range(0, {_PLANT_REPLICAS})) AS rep) r2
WHERE r1.rep < r2.rep
"""


def q_dd_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing + suffix-array LCS substring pass, HASH-CHECKED against an
    arithmetic SQL oracle (same planting idea as dd_minhash_clusters):
    per doc_id, two convs (10*id, 10*id+1) share a ~400-char core block
    (>= substring_min_len=256 -> winnowing guarantees a shared fingerprint
    and the LCS verifier confirms) wrapped in per-conv unique md5 padding;
    different doc_ids share no tokens, so cross-doc LCS is bounded by ~2
    token lengths (~66 chars) << 256. Expected pairs are therefore exactly
    {(10*id, 10*id+1)}."""
    from deduplicate_spark.operators.assembly import assemble_docs
    from deduplicate_spark.operators.substring import substring_pairs

    cfg = DedupConfig(enable_substring_pass=True)
    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    reps = spark.range(2).select(F.col("id").alias("rep"))
    core = "concat_ws(' ', transform(sequence(0, 11), i -> md5(concat(doc_id, ':core:', i))))"
    pad = (
        "concat_ws(' ', transform(sequence(0, 5), "
        "j -> md5(concat(doc_id, ':', rep, ':pad:', j))))"
    )
    turns = ids.crossJoin(reps).select(
        F.lpad((F.col("doc_id") * 10 + F.col("rep")).cast("string"), 12, "0").alias(
            "conv_id"
        ),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.expr(f"concat({pad}, ' ', {core}, ' ', {pad})").alias("text"),
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    docs = assemble_docs(turns, cfg)
    return substring_pairs(docs, cfg).select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b")
    )


SQL_DD_SUBSTRING_PAIRS = """
SELECT CAST(doc_id AS BIGINT) * 10 AS a, CAST(doc_id AS BIGINT) * 10 + 1 AS b
FROM documents
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "stage0_assemble": q_stage0_assemble,
        "a1_collision_groups": q_a1_collision_groups,
        "j1_semi_join_collisions": q_j1_semi_join_collisions,
        "j5_anti_join_unique": q_j5_anti_join_unique,
        "a2_dup_group_report": q_a2_dup_group_report,
        "g1_exact_clusters": q_g1_exact_clusters,
        "j4_union_dedup_merge": q_j4_union_dedup_merge,
        "o1_canonical_election": q_o1_canonical_election,
        "a4_group_rollup": q_a4_group_rollup,
        "o3_topk_per_group": q_o3_topk_per_group,
        "f1_exclude_filter": q_f1_exclude_filter,
        "tx_token_count": q_tx_token_count,
        "tx_quality": q_tx_quality,
        "dd_ngram_jaccard_pairs": q_dd_ngram_jaccard_pairs,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "tx_lang_id": q_tx_lang_id,
        "tx_fingerprint_groups": q_tx_fingerprint_groups,
        "dd_embedding_pairs": q_dd_embedding_pairs,
        "dd_actions_exact": q_dd_actions_exact,
        "dd_minhash_clusters": q_dd_minhash_clusters,
        "dd_minhash_clusters_perm": q_dd_minhash_clusters_perm,
        "dd_streaming_equiv": q_dd_streaming_equiv,
        "dd_substring_pairs": q_dd_substring_pairs,
        "dd_simhash_pairs": q_dd_simhash_pairs,
        "dd_actions": q_dd_actions,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "stage0_assemble": SQL_STAGE0,
        "a1_collision_groups": SQL_A1,
        "j1_semi_join_collisions": SQL_J1,
        "j5_anti_join_unique": SQL_J5,
        "a2_dup_group_report": SQL_A2,
        "g1_exact_clusters": SQL_G1,
        "j4_union_dedup_merge": SQL_J4,
        "o1_canonical_election": SQL_O1,
        "a4_group_rollup": SQL_A4,
        "o3_topk_per_group": SQL_O3,
        "f1_exclude_filter": SQL_F1,
        "tx_token_count": SQL_TX_TOKENS,
        "tx_quality": SQL_TX_QUALITY,
        "dd_ngram_jaccard_pairs": SQL_DD_NGRAM,
        "ann_cosine_topk": SQL_ANN,
        "ann_ivf_topk": SQL_ANN_IVF,
        "tx_lang_id": SQL_TX_LANG_ID,
        "tx_fingerprint_groups": SQL_TX_FINGERPRINT,
        "dd_embedding_pairs": SQL_DD_EMBEDDING_PAIRS,
        "dd_actions_exact": SQL_DD_ACTIONS_EXACT,
        "dd_minhash_clusters": SQL_DD_MINHASH_CLUSTERS,
        "dd_minhash_clusters_perm": SQL_DD_MINHASH_CLUSTERS,
        "dd_streaming_equiv": SQL_DD_MINHASH_CLUSTERS,
        "dd_substring_pairs": SQL_DD_SUBSTRING_PAIRS,
        "dd_simhash_pairs": SQL_DD_SIMHASH_PAIRS,
        "dd_actions": SQL_DD_ACTIONS,
    }
