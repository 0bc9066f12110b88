"""Hand-rolled MinHash-LSH as pure Catalyst expressions.

Why not ``pyspark.ml.feature.MinHashLSH``: its ``approxSimilarityJoin``
hides partitioning, so the skew/salting strategy the north rule demands
can't be controlled. Rolling the ~40 lines ourselves keeps every shuffle
explicit and the whole computation inside whole-stage codegen (no Python
crossing at all for signatures or band keys).

Scheme: word shingles → per-shingle 31-bit base hash (xxhash64 mod p) →
k universal-hash permutations ``(a_i · h + b_i) mod p`` (a_i, b_i drawn
from a fixed seeded PRNG — deterministic across runs and cluster sizes)
→ signature = per-permutation min → b bands of r rows, each band hashed
to one blocking key. Two docs with shingle-Jaccard s collide on ≥1 band
with probability 1 − (1 − s^r)^b.

Reference analogue: the EAN variant index ("transform the INDEX, not the
query", core/data_source.py:117-169) — the same expand-one-side-into-
variant-keys trick, lifted from zero-padding variants to LSH band keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# Mersenne prime 2^31 − 1: products a·h stay < 2^62, safe for ANSI longs.
MERSENNE_P = 2_147_483_647


def _coeffs(k: int, seed: int) -> tuple[list[int], list[int]]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE_P, size=k).tolist()
    b = rng.randint(0, MERSENNE_P, size=k).tolist()
    return a, b


def tokens_expr(text: Column) -> Column:
    """Lowercased whitespace tokens (empty strings filtered)."""
    return F.filter(
        F.split(F.lower(text.cast("string")), r"\s+"), lambda t: t != ""
    )


def word_shingles_expr(
    text: Column | None, n: int = 3, *, tokens: Column | None = None
) -> Column:
    """Word n-gram shingles as array<string>; docs shorter than n words
    yield a single shingle of the whole text (never an empty set).

    PERF CONTRACT: pass ``tokens`` — a MATERIALIZED token-array column
    (its own ``withColumn`` projection) — on any hot path. Built from
    ``text`` alone, the token split is inlined into the per-gram lambda
    and re-evaluated per gram position: O(n²) per document, measured
    37.5 s vs 4.9 s for the 240k-doc shingle-hash build at 8 cores. The
    layered column survives CollapseProject because the gram expression
    references it several times (size/slice/join). (An expression-level
    `let` via ``element_at(transform(array(toks), body), 1)`` also fixes
    the inlining but breaks PythonUDF extraction when the result feeds a
    pandas UDF under a Generate — Spark evaluates the UDF inline and
    throws INTERNAL_ERROR — so the explicit column is the supported
    form.)

    r7 (guide §1.2 per-task work): with a materialized ``tokens`` column
    the gram body is ``concat_ws`` over n ``element_at`` lookups — O(1)
    array reads and ONE string allocation per gram — instead of
    ``array_join(slice(...))``, whose slice copies an n-element array
    per gram position. Byte-identical output (concat_ws(' ', a..) ≡
    array_join([a..], ' ') for the never-null token arrays; corpus-wide
    A/B: 0 mismatches over 200k docs), measured 5.9 s → 0.77 s for the
    200k-doc shingle build. The inline-``text`` fallback keeps the slice
    form: there ``element_at`` would re-evaluate the token split once
    per gram POSITION × n, which is strictly worse than slice."""
    toks = tokens if tokens is not None else tokens_expr(text)
    joined = F.array_join(toks, " ")
    if tokens is not None:
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
        )
    else:
        gram = lambda i: F.array_join(F.slice(toks, i + 1, n), " ")  # noqa: E731
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))), gram
    )
    return F.when(F.size(toks) <= n, F.array(joined)).otherwise(grams)


def shingle_hashes_expr(shingles: Column) -> Column:
    """array<long> of 31-bit base hashes, one per distinct shingle."""
    return F.transform(
        F.array_distinct(shingles), lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_P))
    )


def minhash_signature_expr(shingle_hashes: Column, k: int = 64, seed: int = 1337) -> Column:
    """array<long> MinHash signature of length k, fully JVM-side.

    NOTE: correct but slow for large k — the expression tree holds k
    array-transforms and Catalyst re-inlines it wherever the signature is
    referenced. Production path is ``minhash_signature_udf`` (one Arrow
    batch crossing, numpy mins); this expression form is kept as the
    cross-validation oracle and for small k.
    """
    a, b = _coeffs(k, seed)

    def perm(ai: int, bi: int):
        return lambda h: F.pmod(F.lit(ai) * h + F.lit(bi), F.lit(MERSENNE_P))

    # NOTE: pass a materialized column — the k transforms each embed
    # ``shingle_hashes``, so an inline expression is evaluated k times
    return F.array(
        *[
            F.array_min(F.transform(shingle_hashes, perm(a[i], b[i])))
            for i in range(k)
        ]
    )


def minhash_signature_udf(k: int = 64, seed: int = 1337):
    """Arrow-batched numpy MinHash: shingle-hash array<long> → signature
    array<long>.

    r7: vectorized across the WHOLE batch, not per row — all rows' hash
    arrays are concatenated once and each of the k permutations is one
    fused pass (multiply, Mersenne fold, segment-min via
    ``np.minimum.reduceat``). The per-row formulation paid a ~25-45 µs
    numpy dispatch per document plus a hardware divide per element; the
    fold computes x mod (2³¹−1) exactly with shifts/adds (2³¹ ≡ 1 mod p,
    so x ≡ (x >> 31) + (x & p); after two folds x ≤ p+1, one conditional
    subtract finishes). Bit-identical to the old form — asserted corpus-
    wide by the ``minhash_expr_crosscheck`` catalog entry against the
    pure-Catalyst expression, and by tests/test_minhash.py."""
    a, b = _coeffs(k, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(hs: pd.Series) -> pd.Series:  # pragma: no cover - executor side
        av = np.asarray(a, dtype=np.int64)
        bv = np.asarray(b, dtype=np.int64)
        P = MERSENNE_P
        n = len(hs)
        vals = [None if h is None else np.asarray(h, dtype=np.int64)
                for h in hs]
        lens = np.array([0 if v is None else len(v) for v in vals])
        nonempty = lens > 0
        out = np.full((n, k), P - 1, dtype=np.int64)
        if nonempty.any():
            concat = np.concatenate([v for v in vals if v is not None and len(v)])
            ne_lens = lens[nonempty]
            starts = np.zeros(len(ne_lens), dtype=np.int64)
            np.cumsum(ne_lens[:-1], out=starts[1:])
            mins = np.empty((len(ne_lens), k), dtype=np.int64)
            for i in range(k):
                x = av[i] * concat + bv[i]          # < 2^62: exact in int64
                x = (x >> 31) + (x & P)
                x = (x >> 31) + (x & P)             # now 0 <= x <= P+1
                x[x >= P] -= P
                mins[:, i] = np.minimum.reduceat(x, starts)
            out[nonempty] = mins
        return pd.Series(list(out))

    return _sig


def lsh_band_keys_expr(signature: Column, bands: int = 16, rows: int = 4) -> Column:
    """array<string> of ``lsh:<band>:<hash>`` blocking keys (b·r must equal
    the signature length; any other length, or null, raises the same
    error whether ANSI mode is on or off).

    r7: each band hashes ``concat_ws`` over its ``rows`` scalar
    ``element_at`` reads cast individually — the previous
    ``slice(...).cast("array<string>")`` copied a sub-array AND cast it
    element-wise per band before joining. Identical key strings
    (``concat_ws(",", cast(slice(s,o,r) as array<string>))`` ≡
    ``concat_ws(",", cast(s[o]), …, cast(s[o+r−1]))`` — A/B over 200k
    docs: 0 mismatches), measured 3.7 s → 1.24 s for the 200k-doc band
    build."""
    keys = F.array(
        *[
            F.concat(
                F.lit(f"lsh:{j}:"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(signature, j * rows + r + 1).cast("string")
                            for r in range(rows)
                        ],
                    ),
                    F.lit(j),
                ).cast("string"),
            )
            for j in range(bands)
        ]
    )
    bad = F.raise_error(F.lit(f"lsh_band_keys_expr: signature length must be {bands * rows}"))
    return F.when(F.size(signature) == bands * rows, keys).otherwise(bad)


def jaccard_tokens_expr(a: Column, b: Column) -> Column:
    """Exact token-set Jaccard of two string-array columns (JVM-side).
    Re-distincts its inputs — for arrays that are ALREADY distinct use
    ``jaccard_distinct_sets_expr`` (~3× cheaper per pair)."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db)).cast("double")
    union = F.size(F.array_union(da, db)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def jaccard_distinct_sets_expr(a: Column, b: Column) -> Column:
    """Jaccard for arrays already DISTINCT (sorted or not): skips the
    re-distinct and never materializes the union array —
    |A∪B| = |A| + |B| − |A∩B|. Exact-identical values to
    ``jaccard_tokens_expr`` on distinct inputs; ~3× cheaper per pair on
    the near-dup verify and pair-scoring hot paths."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
