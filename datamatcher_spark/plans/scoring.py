"""Stage 2 — candidate-pair generation + vectorized scoring.

blocks(block_key, url) → pairs(url_a, url_b) → edges(url_a, url_b, score)

Pair generation is a block-local self-join with canonical ordering
(``a.url < b.url`` — the dedup trick SURVEY §2.3 maps from the
reference's duplicate-group probe, core/data_source.py:231-270), then a
``distinct`` so a pair blocked by several keys (domain AND a band) is
scored once. Features are joined onto the slim pair table afterwards —
pairs carry two strings, not two documents, through the wide shuffle.

Scoring mirrors the reference's fuzzy fallback (J4, utils/
fuzzy_matcher.py:50-100) at scale: cheap prefilters first (length delta,
the reference's candidate prune at :79-87), then batched Jaro-Winkler on
normalized titles (Arrow UDF) and exact token-set Jaccard on text tokens
(JVM). An edge is accepted when either signal clears its threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datamatcher_spark.functions.minhash import jaccard_distinct_sets_expr
from datamatcher_spark.functions.similarity import jaro_winkler_udf
from datamatcher_spark.plans.config import PipelineConfig


def candidate_pairs(blocks: DataFrame) -> DataFrame:
    """Distinct canonical (uid_a < uid_b) pairs sharing ≥1 block key.

    ONE shuffle: groupBy(block_key) gathers each block's member ids
    (bounded by the stage-1 size caps), then the pair combinations are
    enumerated JVM-side with nested array transforms — measured ~2×
    faster and far better-scaling than the equivalent sort-merge
    self-join, which sorted the exploded block table twice. Pairs are 16
    bytes (two hashed ids), so the distinct and every join after it
    shuffle fixed-width rows, never url strings."""
    members = blocks.groupBy("block_key").agg(
        F.array_sort(F.collect_set("uid")).alias("uids")
    )
    # index-pair enumeration over 1-based positions: element_at is an
    # O(1) array read, where the previous slice-per-position form copied
    # a suffix array for every left element (the word_shingles_expr
    # lesson — measured 2.5 s → 1.65 s at 4M pairs, identical pair set).
    # Both sequences ascend under the sz >= 2 guard (1 ≤ sz−1 and
    # i+1 ≤ sz), never hitting sequence()'s descending mode; a size-1
    # block yields no pairs.
    uids, sz = F.col("uids"), F.size(F.col("uids"))
    combos = F.when(sz >= 2, F.flatten(
        F.transform(
            F.sequence(F.lit(1), sz - 1),
            lambda i: F.transform(
                F.sequence(i + 1, sz),
                lambda j: F.struct(
                    F.element_at(uids, i).alias("uid_a"),
                    F.element_at(uids, j).alias("uid_b"),
                ),
            ),
        )
    ))
    return (
        members.select(F.explode(combos).alias("p"))
        .select("p.uid_a", "p.uid_b")
        .distinct()
    )


def score_pairs(pairs: DataFrame, feats: DataFrame, cfg: PipelineConfig,
                docs: int) -> DataFrame:
    """Join features onto pairs and score. Returns every scored pair with
    its score and accept flag (lineage wants the full histogram, not just
    accepted edges). ``docs`` is the row count of ``feats`` (the block
    stage records it), which picks the feature-join strategy.

    The pair table is slim (16 B/row) but every row costs real CPU
    downstream (array Jaccard + the Arrow JW kernel), so it must be
    partitioned by COMPUTE, not bytes: AQE's size-based coalescing sees
    ~44 MB at 2.7M pairs and hands the whole scoring stage 8-9
    partitions — at 8 cores that is two ragged task waves (measured
    score-stage scaling eff 0.45-0.55 at 2→8), while an explicit
    repartition to the session's shuffle parallelism restores even
    packing. The feature joins broadcast, so this partitioning carries
    straight through the scoring projections."""
    n = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    pairs = pairs.repartition(n)
    fa = feats.select(
        F.col("uid").alias("uid_a"),
        F.col("title_norm").alias("title_a"),
        F.col("tok_hashes").alias("tokens_a"),
    )
    fb = feats.select(
        F.col("uid").alias("uid_b"),
        F.col("title_norm").alias("title_b"),
        F.col("tok_hashes").alias("tokens_b"),
    )
    # Explicit join strategy — never trust the static size estimate here:
    # feats comes from parquet whose stats undercount the in-memory
    # token-hash arrays ~20×, so the planner happily broadcasts a table
    # that explodes the driver (observed at 480k docs / 4 GB heap). The
    # caller's doc count chooses: small corpus → broadcast both sides;
    # otherwise shuffle-hash on uid (the 10^12-doc plan — co-partitioned
    # with the pair stream, no sort on the big side).
    if docs <= cfg.broadcast_feature_rows:
        fa, fb = F.broadcast(fa), F.broadcast(fb)
    else:
        fa, fb = fa.hint("shuffle_hash"), fb.hint("shuffle_hash")
    scored = (
        pairs.join(fa, "uid_a").join(fb, "uid_b")
        # cheap prune before the Arrow UDF — Catalyst pushes this below
        # the Python stage so pruned pairs never cross to Python
        .filter(
            F.abs(F.length("title_a") - F.length("title_b"))
            <= cfg.length_delta_prefilter
        )
        .withColumn("jw_title", jaro_winkler_udf("title_a", "title_b"))
        # tok_hashes is sorted-distinct by construction (features()), so
        # the |A|+|B|−|∩| form is exact — no re-distinct, no union array
        .withColumn(
            "jaccard_text",
            jaccard_distinct_sets_expr(F.col("tokens_a"), F.col("tokens_b")),
        )
        .withColumn("score", F.greatest("jw_title", "jaccard_text"))
        .withColumn(
            "accepted",
            (F.col("jw_title") >= cfg.jw_title_threshold)
            | (F.col("jaccard_text") >= cfg.jaccard_text_threshold),
        )
        .select("uid_a", "uid_b", "jw_title", "jaccard_text", "score", "accepted")
    )
    return scored
