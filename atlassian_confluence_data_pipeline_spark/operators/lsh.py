"""Locality-sensitive hashing for near-duplicate detection at scale
(extension X2): MinHash + banded LSH, and SimHash with chunk-banding.

All pure built-in expressions (higher-order array functions, modular
arithmetic, bit ops) — JVM-side, no UDFs, no ML-pipeline fitting step,
fully deterministic. The candidate-pair joins are *equi-joins on band
keys*: each document only ever meets documents sharing a band bucket,
so the pair count stays near-linear in corpus size — the property that
makes near-dup feasible at 100 TB where exact all-pairs Jaccard is
O(n^2).

Hashing is ENGINE-PORTABLE by default: the base hash is the same
Rabin-Karp polynomial rolling hash as ``functions.text.rolling_hash``
(char-code fold mod a Mersenne prime), and the k MinHash permutations /
64 SimHash bit projections are affine transforms ``(a_i*h + b_i) mod M``
with constants drawn from a seeded RNG shared with the DuckDB oracle
generator (plans/multimodal.py). Every value — signatures, band keys,
fingerprints — is therefore reproducible bit-for-bit in any engine with
64-bit integer arithmetic, which is what lets the driver hash-check
these paths instead of a rows-only count. An ``portable=False`` flag
keeps the previous xxhash64 fast path for callers that do not need
cross-engine parity.

PERF note (the projection-CSE trap, see PLANS.md): the MinHash
signature is ONE ``F.aggregate`` fold with a k-field struct accumulator
— the shingle-hash array is referenced exactly once, so Catalyst cannot
re-inline the (expensive) rolling-hash fold k times, and the signature
costs a single pass over the shingles instead of k ``array_min``
passes. Signatures are localCheckpoint-materialized before band keys
reference them element-wise.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.functions.text import (
    ROLLING_MOD,
    rolling_hash,
)

#: polynomial-fold constants for combining band slots into one band key
BAND_BASE = 1000003
BAND_MOD = ROLLING_MOD  # keys < 2^31: fold products stay < 2^63

#: affine permutation constants (a odd < 2^31, b < 2^31), shared with the
#: DuckDB oracle SQL generated in plans/multimodal.py — same seed, same
#: constants, same signatures in both engines.
def _affine_perms(seed: int, n: int) -> tuple[tuple[int, int], ...]:
    rng = random.Random(seed)
    return tuple((rng.getrandbits(31) | 1, rng.getrandbits(31)) for _ in range(n))


MINHASH_PERMS = _affine_perms(0x5EED, 64)
SIMHASH_PERMS = _affine_perms(0x51AB, 64)
SRP_PERMS = _affine_perms(0x0EED, 64)

#: SimHash bit vote: +1 when the affine projection lands in the top half
#: of [0, ROLLING_MOD) — an unbiased pseudo-random bit per (token, slot).
SIMHASH_THRESHOLD = 1 << 30


def _portable_hash(s: Column) -> Column:
    """Engine-portable base hash in [0, ROLLING_MOD): the rolling-hash
    char fold (same family as doc_rolling_fingerprints, oracle-proven)."""
    return rolling_hash(s)


def _fast_hash(s: Column) -> Column:
    """xxhash64 masked to 32 bits — cheaper, engine-specific (rows-only
    checks when used)."""
    return F.xxhash64(s).bitwiseAND(F.lit(0xFFFFFFFF))


def shingle_hashes_from_word_hashes(
    wh: Column, n: int = 3, base: int = BAND_BASE, distinct: bool = True
) -> Column:
    """n-gram shingle hashes combined from PER-WORD rolling hashes with
    a polynomial fold ``((h1*B + h2) % M * B + h3) % M`` — each word is
    char-folded ONCE even though it participates in n shingles (~n-fold
    less hashing than folding each shingle string). Distinct-deduped:
    MinHash and Jaccard both operate on shingle *sets*. ``wh`` must be a
    real column (slices reference it n times; CollapseProject keeps the
    projection boundary because the defining expression is non-cheap).
    Reproduced verbatim by the DuckDB oracle (plans/multimodal.py).
    Overflow-free: h < 2^31, B ~ 2^20, so h*B + h' < 2^52."""
    count = F.greatest(F.size(wh) - (n - 1), F.lit(0))
    acc = F.slice(wh, 1, count)
    for i in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(wh, i + 1, count),
            lambda a, b: (a * base + b) % ROLLING_MOD,
        )
    # distinct=False keeps POSITIONAL order (winnowing needs windows
    # over the shingle sequence, not the shingle set)
    return F.array_distinct(acc) if distinct else acc


def with_srp_fingerprint(
    df: DataFrame, vec_col: str, out_col: str = "simhash", bits: int = 64
) -> DataFrame:
    """Append a signed-random-projection (hyperplane) LSH fingerprint of
    a dense vector column — bit i is the SIGN of the dot product with a
    pseudo-random ±1 hyperplane, so P(bits differ) = angle/pi (the SRP
    property that makes Hamming distance a cosine proxy).

    The hyperplane matrix is never stored: its sign at dimension j is
    the affine-hash bit ``(a_i*j + b_i) mod M >= M/2`` — the same
    formula regenerates it in any engine, which is what lets DuckDB
    reproduce every fingerprint bit-for-bit. Each of the ``bits``
    running dots is its own plain-double left fold (inner
    ``F.aggregate`` inside one ``F.transform`` over the bit index, with
    the affine constants shipped as literal arrays), staged across
    THREE projections so the zipped vector and the dot array are bound
    columns, never re-inlined per reference.

    PERF: this replaced a single fold with a ``bits``-slot struct
    accumulator — which rebuilt a 64-field struct per element, ~25x
    slower (2.9s -> 0.1s warm for 2000x64-d) with bit-identical output.
    Each fold accumulates left-to-right in double precision,
    bit-identical to the oracle's list_sum. Bit 63 lands on the
    two's-complement sign bit — downstream chunking uses unsigned
    shifts (simhash_near_pairs)."""
    # stage construction notes (both measured): the affine constants
    # must be F.lit ARRAY LITERALS — an `array(1L, 2L, ...)` inside an
    # expr-string lambda is NOT constant-folded and would be rebuilt
    # per fold step; and the 64-term bit-pack must be ONE expr string —
    # building its OR-chain through the Column API costs hundreds of
    # py4j roundtrips (~1s of driver time per plan build)
    perms = SRP_PERMS[:bits]
    a_lit = F.lit([a for a, _ in perms])
    b_lit = F.lit([b for _, b in perms])
    vec = F.col(vec_col)
    zipped = F.zip_with(
        vec,
        F.sequence(F.lit(0).cast("bigint"), F.size(vec).cast("bigint") - 1),
        lambda x, i: F.struct(x.cast("double").alias("val"), i.alias("pos")),
    )
    cols = list(df.columns)
    z = df.select(*cols, zipped.alias("__srp_z"))
    dots = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda i: F.aggregate(
            F.col("__srp_z"),
            F.lit(0.0),
            lambda acc, e: acc
            + F.when(
                (F.element_at(a_lit, i + 1) * e["pos"] + F.element_at(b_lit, i + 1))
                % ROLLING_MOD
                >= SIMHASH_THRESHOLD,
                e["val"],
            ).otherwise(-e["val"]),
        ),
    )
    d = z.select(*cols, dots.alias("__srp_d"))
    pack = " | ".join(
        f"IF(element_at(__srp_d, {i + 1}) >= CAST(0.0 AS DOUBLE), "
        f"SHIFTLEFT(CAST(1 AS BIGINT), {i}), CAST(0 AS BIGINT))"
        for i in range(bits)
    )
    return d.select(*cols, F.expr(pack).alias(out_col))


def with_srp_fingerprint_arrow(
    df: DataFrame, vec_col: str, out_col: str = "simhash", bits: int = 64
) -> DataFrame:
    """PRODUCTION-scale variant of :func:`with_srp_fingerprint`: one
    numpy matmul per Arrow batch (``mapInPandas``) instead of the
    interpreted per-bit HOF folds — same affine hyperplane family, so
    the two agree except when a running dot sits within float round-off
    of ZERO (numpy's pairwise summation reorders the adds). That sign-
    boundary slack is exactly what the candidate/verify split absorbs:
    SRP candidates are approximate by construction and every surviving
    pair is re-checked with EXACT cosine downstream, so swapping this in
    for the fold changes recall by at most the measure-zero boundary
    set — not correctness. The oracle-paired queries keep the portable
    fold (bit-reproducible in DuckDB); point a production job here when
    the corpus is large enough that interpreted HOF cost dominates
    (~64*dim interpreted steps/row vs one BLAS GEMM per batch).

    Requires a fixed vector dimension within each Arrow batch (the
    standard embedding-corpus contract); the hyperplane matrix is
    rebuilt per observed dimension, never shipped."""
    from pyspark.sql import types as T

    from atlassian_confluence_data_pipeline_spark.pyfiles import (
        ensure_package_on_workers,
    )

    ensure_package_on_workers()
    perms = SRP_PERMS[:bits]
    mod, thr = ROLLING_MOD, SIMHASH_THRESHOLD
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def _fp(batches):
        import numpy as np
        import pandas as pd  # noqa: F401  (Arrow batches arrive as pandas)

        planes: dict[int, "np.ndarray"] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            vs = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            dim = vs.shape[1]
            if dim not in planes:
                planes[dim] = np.array(
                    [
                        [
                            1.0 if (a * j + b) % mod >= thr else -1.0
                            for (a, b) in perms
                        ]
                        for j in range(dim)
                    ]
                )
            dots = vs @ planes[dim]
            bitm = (dots >= 0.0).astype(np.uint64)
            fp = np.zeros(len(pdf), dtype=np.uint64)
            for i in range(bits):
                fp |= bitm[:, i] << np.uint64(i)
            out = pdf.copy()
            out[out_col] = fp.view(np.int64)
            yield out

    return df.mapInPandas(_fp, schema=schema)


def minhash_signature(
    shingles: Column, k: int = 32, portable: bool = True, pre_hashed: bool = False
) -> Column:
    """k-permutation MinHash signature of a shingle *set*.

    Cost shape: each shingle is base-hashed ONCE; the k permutations are
    affine transforms ``(a_i*h + b_i) mod M`` — integer multiply/add per
    permutation instead of k string hashes. The whole signature is a
    SINGLE ``F.aggregate`` fold with a k-field struct accumulator
    (init = M, merge = least(acc_i, perm_i(h))), so the shingle-hash
    array is referenced once (no Catalyst re-inlining) and the data is
    scanned once (not k times). Overflow-free: a, h < 2^31 so
    a*h + b < 2^63. Empty sets keep the init value M — callers filter
    size(shingles) > 0 (as does the oracle SQL).

    NB: per-element lambdas must take exactly ONE parameter — a
    two-parameter lambda is interpreted by Spark as (element, index).

    ``pre_hashed=True`` means ``shingles`` already holds base-hash
    values in [0, M) (see :func:`shingle_hashes_from_word_hashes`) and
    skips the per-element string fold."""
    perms = MINHASH_PERMS[:k]
    hash_fn = _portable_hash if portable else _fast_hash
    hs = shingles if pre_hashed else F.transform(shingles, hash_fn)
    init = F.struct(
        *[F.lit(ROLLING_MOD).cast("bigint").alias(f"m{i}") for i in range(k)]
    )

    def merge(acc: Column, h: Column) -> Column:
        return F.struct(
            *[
                F.least(acc[f"m{i}"], (F.lit(a) * h + F.lit(b)) % ROLLING_MOD).alias(
                    f"m{i}"
                )
                for i, (a, b) in enumerate(perms)
            ]
        )

    def finish(acc: Column) -> Column:
        return F.array(*[acc[f"m{i}"] for i in range(k)])

    return F.aggregate(hs, init, merge, finish)


def lsh_band_keys(signature: Column, bands: int, rows: int) -> list[Column]:
    """One key per band (``rows`` consecutive signature slots): a
    positional polynomial fold seeded with the band index, so the key
    encodes WHICH band matched — ``((b*B + s_1) % M * B + s_2) % M ...``
    Two docs collide in a band iff that band's slots all match — the
    classic (b, r) S-curve: P(candidate) = 1 - (1 - j^r)^b. The tagged
    fold is reproducible in DuckDB via list_reduce (plans/multimodal.py).

    ``signature`` must be a MATERIALIZED column (post-checkpoint): the
    fold references it element-wise bands*rows times."""
    keys = []
    for b in range(bands):
        acc: Column = F.lit(b).cast("bigint")
        for m in range(rows):
            acc = (acc * BAND_BASE + F.element_at(signature, b * rows + m + 1)) % BAND_MOD
        keys.append(acc)
    return keys


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str,
    shingles_col: str,
    k: int = 32,
    bands: int = 16,
    portable: bool = True,
    pre_hashed: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded MinHash LSH.

    The signature is computed as explode -> ONE HashAggregate with k
    ``min`` aggregates (identical values to the :func:`minhash_signature`
    fold, measured ~3x faster: the k mins run in whole-stage codegen
    while HOF folds are interpreted; partial aggregation combines
    map-side so the exchange carries one row per document, not per
    shingle). Signatures are materialized via eager localCheckpoint so
    the band keys read a stored column instead of re-deriving the
    aggregation 2*bands times; an explode produces band-key rows; a
    self-equi-join on the tagged key yields candidates, deduped because
    a pair can collide in several bands."""
    rows = k // bands
    perms = MINHASH_PERMS[:k]
    hash_fn = _portable_hash if portable else _fast_hash
    base = (
        F.col(shingles_col)
        if pre_hashed
        else F.transform(F.col(shingles_col), hash_fn)
    )
    ex = docs.filter(F.size(F.col(shingles_col)) > 0).select(
        F.col(id_col).alias("__id"), F.explode(base).alias("__h")
    )
    mins = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % ROLLING_MOD).alias(f"__m{i}")
        for i, (a, b) in enumerate(perms)
    ]
    sig = (
        ex.groupBy("__id")
        .agg(*mins)
        .select(
            "__id", F.array(*[F.col(f"__m{i}") for i in range(k)]).alias("__sig")
        )
        .localCheckpoint(eager=True)
    )
    keys = lsh_band_keys(F.col("__sig"), bands, rows)
    banded = sig.select("__id", F.explode(F.array(*keys)).alias("band_key"))
    left = banded.select(F.col("__id").alias("id_a"), "band_key")
    right = banded.select(F.col("__id").alias("id_b"), "band_key")
    return (
        left.join(right, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_candidates_jaccard(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidates — the verify step of
    the standard candidate/verify split; only O(candidates) set
    intersections instead of O(n^2).

    Columns of ``candidates`` beyond ``id_a``/``id_b`` (e.g. a probe-side
    tag) ride through to the verified rows, between the ids and
    ``jaccard``."""
    extra = [c for c in candidates.columns if c not in ("id_a", "id_b")]
    sh = docs.select(F.col(id_col).alias("__vid"), F.col(shingles_col).alias("__sh"))
    a = sh.select(F.col("__vid").alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh.select(F.col("__vid").alias("id_b"), F.col("__sh").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    # materialize (intersection, sizes) per candidate BEFORE the ratio +
    # threshold: the Jaccard expression references the intersection
    # twice and the filter would push below the projection, so without
    # the barrier each candidate pays the set intersection up to 4x
    sized = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            *extra,
            inter.alias("__i"),
            (F.size("__sh_a") + F.size("__sh_b")).alias("__s"),
        )
        .localCheckpoint(eager=False)
    )
    jac = F.col("__i").cast("double") / (F.col("__s") - F.col("__i"))
    return (
        sized.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", *extra, "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
    bits: int = 64,
    portable: bool = True,
) -> DataFrame:
    """64-bit SimHash per document: sign of the per-bit weighted sum of
    token-hash projections (+1 / -1 votes).

    Portable path: one rolling hash per token (hashed at the ARRAY level
    *before* explode, so the fold runs once per token and the 64 vote
    expressions reference the generator's output attribute — Catalyst
    cannot re-inline through Generate); bit i votes +1 when the affine
    projection ``(a_i*h + b_i) mod M`` lands in the top half of the
    range. xxhash64 path (portable=False): bit i of the 64-bit hash.

    Implemented as explode -> one HashAggregate with 64 conditional sums
    -> bit reassembly. SCALE NOTE: this shape beats a per-row
    ``F.aggregate`` struct fold both locally and on a cluster — the 64
    sums run in whole-stage-codegen'd HashAggregate (HOF folds are
    interpreted, measured ~30%% slower here), and partial aggregation
    combines map-side so the exchange carries ONE row per document, not
    per token. No Python anywhere."""
    hash_fn = _portable_hash if portable else (lambda t: F.xxhash64(t))
    tok = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(F.transform(F.col(tokens_col), hash_fn)).alias("__h"),
    )
    if portable:
        votes = [
            F.sum(
                F.when(
                    (F.lit(a) * F.col("__h") + F.lit(b)) % ROLLING_MOD
                    >= SIMHASH_THRESHOLD,
                    1,
                ).otherwise(-1)
            ).alias(f"__b{i}")
            for i, (a, b) in enumerate(SIMHASH_PERMS[:bits])
        ]
    else:
        votes = [
            F.sum(
                F.when(
                    F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"__b{b}")
            for b in range(bits)
        ]
    agg = tok.groupBy("__id").agg(*votes)
    fingerprint = None
    for b in range(bits):
        term = F.when(
            F.col(f"__b{b}") > 0, F.shiftleft(F.lit(1).cast("bigint"), b)
        ).otherwise(F.lit(0).cast("bigint"))
        fingerprint = term if fingerprint is None else fingerprint.bitwiseOR(term)
    return agg.select(F.col("__id").alias(id_col), fingerprint.alias("simhash"))


def simhash_near_pairs(
    hashes: DataFrame, id_col: str, max_hamming: int = 3, chunks: int = 4
) -> DataFrame:
    """Near-dup pairs by Hamming distance <= ``max_hamming``.

    Pigeonhole banding: split the 64-bit fingerprint into ``chunks``
    16-bit chunks; any pair within distance <= chunks-1 must agree on at
    least one chunk, so the join is an equi-join on (chunk_id, chunk
    value), then an exact popcount filter. No cross join at any scale."""
    width = 64 // chunks
    mask = (1 << width) - 1
    chunk_cols = [
        (F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))).alias(
            f"__c{i}"
        )
        for i in range(chunks)
    ]
    h = hashes.select(F.col(id_col).alias("__id"), F.col("simhash"), *chunk_cols)
    # materialize: the self-join would otherwise run the upstream
    # fingerprint aggregation once per side
    banded = h.select(
        "__id",
        "simhash",
        F.posexplode(F.array(*[F.col(f"__c{i}") for i in range(chunks)])).alias(
            "chunk_id", "chunk_val"
        ),
    ).localCheckpoint(eager=True)
    left = banded.select(
        F.col("__id").alias("id_a"), F.col("simhash").alias("__h_a"), "chunk_id", "chunk_val"
    )
    right = banded.select(
        F.col("__id").alias("id_b"), F.col("simhash").alias("__h_b"), "chunk_id", "chunk_val"
    )
    dist = F.bit_count(F.col("__h_a").bitwiseXOR(F.col("__h_b")))
    return (
        left.join(right, ["chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
