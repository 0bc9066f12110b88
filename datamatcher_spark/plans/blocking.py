"""Stage 1 — deterministic blocking with explicit skew handling.

pages(url, warc_ts, html, text, lang) →
  features(uid, url, title_norm, tok_hashes, block_keys) [one pass per doc]
  blocks(block_key, uid)                                 [exploded keys]

Block keys per row: the normalized domain (``dom:<host>``) and b LSH band
keys (``lsh:<band>:<hash>``) over MinHash signatures of word shingles —
the web-scale analogue of the reference's normalized-business-key +
EAN-variant index (core/data_source.py:117-202): expand the cheap side
into every key under which a match could appear, then hash-join.

Skew policy (SURVEY §4.1): a head domain like a big news site would make
the block-local self-join quadratic. Blocks over the size cap are
*truncated out of the pair-generation path and logged to lineage* —
near-dups inside them are still recovered through their LSH band keys,
which group by content, not domain, and have naturally bounded size
(band cap logged the same way). The caps bound every surviving block,
so the logged census is the whole policy: pair generation's
``groupBy(block_key)`` (map-side partial ``collect_set``) needs no salt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datamatcher_spark.functions.minhash import (
    lsh_band_keys_expr,
    minhash_signature_udf,
    shingle_hashes_expr,
    tokens_expr,
    word_shingles_expr,
)
from datamatcher_spark.norm.keys import norm_domain_expr, normalize_for_fuzzy_expr
from datamatcher_spark.plans.config import PipelineConfig

TITLE_RE = r"(?is)<title>(.*?)</title>"


def uid_expr(url: Column, bits: int = 64) -> Column:
    """Fixed-width doc id from the url. Every wide shuffle downstream
    (pair generation, feature joins, CC) moves 8- or 16-byte ids instead
    of url strings — measured 2-4× on shuffle-bound stages.

    ``bits=128`` (``PipelineConfig.uid_bits``) widens to a two-seed
    xxhash64 struct for 10^12-doc scale, where 64-bit birthday collisions
    become material (~2.7% probability of ≥1 collision at 10^12). The
    struct is orderable, hashable and join-able exactly like the long, so
    every downstream operator (array_sort/collect_set, canonical a < b,
    greatest/least in CC) is width-agnostic."""
    if bits == 64:
        return F.xxhash64(url)
    # second lane: domain-separate by a constant FIRST input. Spark's
    # multi-column xxhash64 chains the running hash as the seed, so a
    # trailing constant — xxhash64(url, 1) — is a pure function of
    # xxhash64(url): any h1 collision implies an h2 collision, degrading
    # the struct to 64-bit resistance. With the constant first, the url
    # bytes are hashed under seed xxhash64(1) ≠ 42 — an independent lane.
    return F.struct(
        F.xxhash64(url).alias("h1"), F.xxhash64(F.lit(1), url).alias("h2")
    )


def features(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The one per-doc projection of the block stage:
    (uid, url, title_norm, tok_hashes, block_keys).

    ``pages`` is filtered by language and tokenized once; the token array
    feeds both the scoring tokens and the shingle → MinHash → band-key
    chain, so no document is scanned or tokenized twice.

    Tokens are stored as SORTED DISTINCT 64-bit hashes, not strings: the
    pairwise Jaccard then intersects long arrays (no string hashing, no
    per-row string allocation — the JVM array_intersect on string tokens
    was the single most expensive operator in the score stage, costlier
    than the Python Jaro-Winkler).

    ``block_keys`` is the doc's domain key (``dom:<host>``) followed by
    its LSH band keys; ``block_keys()`` explodes it.
    """
    df = pages
    if cfg.langs:
        df = df.filter(F.col("lang").isin(list(cfg.langs)))
    title = F.regexp_extract(F.col("html").cast("string"), TITLE_RE, 1)
    # layered projections: tokens (JVM) → shingle hashes (JVM) →
    # signature (one Arrow batch crossing, numpy) → band keys (JVM).
    # CollapseProject keeps the non-cheap stages separate, so nothing is
    # recomputed per band — and the materialized __toks column keeps the
    # token split out of the per-gram lambda (inlined, it re-ran per gram
    # position: O(n²)/doc, 51 of the 72 s block build at 8 cores)
    df = df.select(
        uid_expr(F.col("url"), cfg.uid_bits).alias("uid"),
        "url",
        normalize_for_fuzzy_expr(title).alias("title_norm"),
        tokens_expr(F.col("text")).alias("__toks"),
    )
    tok_hashes = F.array_sort(
        F.array_distinct(F.transform(F.col("__toks"), lambda t: F.xxhash64(t)))
    )
    shingles = word_shingles_expr(None, cfg.shingle_words, tokens=F.col("__toks"))
    df = df.select(
        "uid", "url", "title_norm",
        tok_hashes.alias("tok_hashes"),
        shingle_hashes_expr(shingles).alias("__hs"),
    )
    # looked up in this module's namespace at call time, so a kernel
    # timer patched onto ``blocking.minhash_signature_udf`` applies
    sig_udf = minhash_signature_udf(k=cfg.minhash_k, seed=cfg.minhash_seed)
    df = df.withColumn("__sig", sig_udf(F.col("__hs")))
    keys = lsh_band_keys_expr(F.col("__sig"), cfg.lsh_bands, cfg.lsh_rows)
    if cfg.use_domain_blocks:
        keys = F.concat(
            F.array(F.concat(F.lit("dom:"), norm_domain_expr(F.col("url")))), keys
        )
    return df.select("uid", "url", "title_norm", "tok_hashes", keys.alias("block_keys"))


def block_keys(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Exploded (block_key, uid) pairs — domain + LSH band keys."""
    return features(pages, cfg).select(F.explode("block_keys").alias("block_key"), "uid")


def truncate_oversized(blocks: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """Split the block table into (kept, truncated-block census).

    The census (block_key, size) of dropped blocks is written to lineage —
    truncation is never silent (SURVEY §7 hard part (a)).
    """
    sizes = blocks.groupBy("block_key").agg(F.count("*").alias("block_size"))
    cap = F.when(
        F.col("block_key").startswith("dom:"), F.lit(cfg.max_block_size)
    ).otherwise(F.lit(cfg.max_band_size))
    sizes = sizes.withColumn("oversized", F.col("block_size") > cap)
    truncated = sizes.filter("oversized").select("block_key", "block_size")
    kept = (
        blocks.join(F.broadcast(truncated.select("block_key")), "block_key", "left_anti")
    )
    return kept, truncated
