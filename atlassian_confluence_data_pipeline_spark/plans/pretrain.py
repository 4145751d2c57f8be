"""Twelfth-wave pretraining-preparation operators.

The batch-construction accounting steps between a curated corpus and a
training run:

- padding-waste statistics under power-of-two length bucketing (the
  batching-efficiency planning read before choosing bucket boundaries),
- a T5-style span-corruption plan: deterministic hash-driven noise
  spans per document (span starts ~5%, lengths 1-3), overlaps merged,
  with per-document mask accounting — the pretraining objective's data
  prep, reproducible bit-for-bit across engines,
- the concatenated-corpus token-offset index (exclusive prefix sums of
  token counts in doc_id order) — the global index pretraining-window
  samplers address into.

All arithmetic is integer / hash-family portable; no floats beyond
final rounded ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.functions.text import ROLLING_MOD
from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.operators.lsh import MINHASH_PERMS
from atlassian_confluence_data_pipeline_spark.operators.windows import (
    distributed_prefix_rank,
)
from atlassian_confluence_data_pipeline_spark.plans.registry import query
from atlassian_confluence_data_pipeline_spark.plans.textops import _words

#: bucket boundaries (tokens); docs longer than the last spill into it
PAD_BUCKETS = (32, 64, 128, 256, 512)

#: span corruption: start threshold (per-mille of hash space) + perms
SPAN_START_PERMILLE = 50  # 5% of positions start a span
SPAN_MAX_EXTRA = 2  # span length 1 + (hash % 3) in {1,2,3}
SPAN_PERM_START = MINHASH_PERMS[44]
SPAN_PERM_LEN = MINHASH_PERMS[45]
#: position mixing constant (doc-id and position fold)
SPAN_POS_MIX = 1_000_003


def _bucket_case_sql(v: str) -> str:
    cases = " ".join(
        f"WHEN {v} <= {b} THEN {b}" for b in PAD_BUCKETS
    )
    return f"CASE {cases} ELSE {PAD_BUCKETS[-1] * 2} END"


@query(
    "padding_waste_stats",
    oracle=f"""
WITH w AS (
  SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n
  FROM documents
), b AS (
  SELECT doc_id, n, {_bucket_case_sql('n')} AS bucket FROM w
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(sum(bucket - least(n, bucket)) AS BIGINT) AS padded_tokens,
       round(CAST(sum(bucket - least(n, bucket)) AS DOUBLE)
             / sum(greatest(bucket, n)), 6) AS waste_ratio
FROM b GROUP BY 1
""",
    tags=("pretrain", "batching", "diagnostic"),
)
def padding_waste_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste accounting under power-of-two length bucketing:
    each document rounds up to the smallest bucket holding it (the
    batching scheme fixed-shape training kernels use), and the report
    gives per-bucket doc counts, real tokens, padded tokens, and the
    waste ratio — the read that decides whether the bucket boundaries
    (or sequence packing, cf. `sequence_packing`) are worth changing.
    Docs longer than the top bucket spill into a double-size overflow
    bucket and are counted truncation-free via least/greatest.

    Scale shape: a narrow token count + integer CASE ladder, then one
    hash aggregate to |buckets| rows — one scan, no window."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(_words(F.col("text")))
    bucket = F.lit(PAD_BUCKETS[-1] * 2)
    for b in reversed(PAD_BUCKETS):
        bucket = F.when(n <= b, b).otherwise(bucket)
    w = docs.select(n.alias("n"), bucket.alias("bucket"))
    pad = F.col("bucket") - F.least(F.col("n"), F.col("bucket"))
    return w.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum(pad).cast("bigint").alias("padded_tokens"),
        F.round(
            F.sum(pad).cast("double")
            / F.sum(F.greatest(F.col("bucket"), F.col("n"))),
            6,
        ).alias("waste_ratio"),
    )


def _span_oracle() -> str:
    sa, sb = SPAN_PERM_START
    la, lb = SPAN_PERM_LEN
    # reduce the position mix below 2^31 BEFORE the affine multiply so
    # a*mix stays < 2^62 for ANY doc_id (the LSH-family overflow
    # discipline; unreduced, x4-replica ids overflow INT64 under ANSI)
    mix = f"((doc_id * {SPAN_POS_MIX} + i) % {ROLLING_MOD})"
    start = (
        f"({sa} * {mix} + {sb}) % {ROLLING_MOD} % 1000 < {SPAN_START_PERMILLE}"
    )
    slen = f"1 + ({la} * {mix} + {lb}) % {ROLLING_MOD} % {SPAN_MAX_EXTRA + 1}"
    return f"""
WITH w AS (
  SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n
  FROM documents
), pos AS (
  SELECT doc_id, n, list_filter(range(0, n), i -> {start}) AS starts
  FROM w
), spans AS (
  SELECT doc_id, n, starts,
         list_distinct(flatten(list_transform(starts,
             i -> range(i, least(i + ({slen}), n))))) AS masked
  FROM pos
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(len(starts) AS BIGINT) AS n_spans,
       CAST(len(masked) AS BIGINT) AS n_masked,
       round(CAST(len(masked) AS DOUBLE) / n, 6) AS mask_ratio
FROM spans
"""


@query(
    "span_corruption_plan",
    oracle=_span_oracle(),
    tags=("pretrain", "masking", "hash"),
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption plan: every token position draws a
    deterministic hash (affine perm of doc_id-mixed position); ~5% of
    positions start a noise span of hash-chosen length 1-3; overlapping
    spans merge (distinct positions). The per-document accounting
    (span count, masked tokens, mask ratio) is what an objective-
    tuning sweep reads, and because the 'randomness' is the house hash
    family, the plan is reproducible across engines AND across reruns
    — the determinism a resumable data pipeline needs from its noise.

    Scale shape: everything is per-row array arithmetic (range,
    filter, transform, flatten, distinct) — zero shuffles before the
    trivially small output projection; masked-position lists stay
    inside the row, never exploded."""
    docs = load_table(spark, sf_dir, "documents")
    sa, sb = SPAN_PERM_START
    la, lb = SPAN_PERM_LEN

    def mix(i):
        # bounded below 2^31 before the affine multiply (overflow
        # discipline — see _span_oracle)
        return (F.col("doc_id") * SPAN_POS_MIX + i) % ROLLING_MOD

    def is_start(i):
        return ((F.lit(sa) * mix(i) + sb) % ROLLING_MOD % 1000) < (
            SPAN_START_PERMILLE
        )

    def span_len(i):
        return 1 + (F.lit(la) * mix(i) + lb) % ROLLING_MOD % (
            SPAN_MAX_EXTRA + 1
        )

    w = docs.select(
        "doc_id", F.size(_words(F.col("text"))).alias("n")
    )
    starts = F.filter(F.sequence(F.lit(0), F.col("n") - 1), is_start)
    pos = w.select("doc_id", "n", starts.alias("starts"))
    masked = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("starts"),
                lambda i: F.sequence(
                    i, F.least(i + span_len(i), F.col("n")) - 1
                ),
            )
        )
    )
    spans = pos.select("doc_id", "n", F.size("starts").alias("n_spans"), masked.alias("masked"))
    return spans.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("n_spans").cast("bigint").alias("n_spans"),
        F.size("masked").cast("bigint").alias("n_masked"),
        F.round(F.size("masked").cast("double") / F.col("n"), 6).alias(
            "mask_ratio"
        ),
    )


@query(
    "doc_concat_token_offsets",
    oracle="""
WITH w AS (
  SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n
  FROM documents
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS start_offset,
       CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS end_offset
FROM w
""",
    tags=("pretrain", "index", "window"),
)
def doc_concat_token_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenated-corpus token-offset index: exclusive/inclusive
    prefix sums of token counts in doc_id order — the [start, end)
    global offsets a pretraining-window sampler addresses into when
    the corpus is materialized as one token stream. The same index
    answers 'which document owns global token t' with one range
    lookup.

    Scale shape: the canonical two-pass distributed prefix sum
    (operators/windows.py distributed_prefix_rank): range-bucket by
    doc_id, per-bucket cumulative window (hash-partitioned WindowExec —
    every task sees ~1/32 of the domain), <= 32-row boundary exchange,
    narrow literal-map add. No single-partition window anywhere; the
    only driver-side data is the bucket totals (bounded by config, not
    corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.size(_words(F.col("text"))).alias("n")
    ).localCheckpoint(eager=True)
    cum = distributed_prefix_rank(w, ["doc_id"], sums={"end_offset": "n"})
    return cum.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        (F.col("end_offset") - F.col("n")).cast("bigint").alias(
            "start_offset"
        ),
        F.col("end_offset").cast("bigint").alias("end_offset"),
    )


# ---------------------------------------------------------------------------
# Interpolated bigram-LM perplexity (the CCNet-style quality filter)
# ---------------------------------------------------------------------------

#: interpolation weight on the bigram term; (1 - lambda) backs off to
#: the unigram model (Jelinek-Mercer smoothing, fixed lambda)
LM_LAMBDA = 0.7


@query(
    "interpolated_lm_perplexity",
    oracle=f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS word,
         CAST(generate_subscripts(w, 1) - 1 AS BIGINT) AS pos
  FROM w
), freq AS (
  SELECT word, count(*) AS c FROM tok GROUP BY 1
), tot AS (
  SELECT sum(c) AS n FROM freq
), bgd AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2, CAST(i AS BIGINT) AS pos
  FROM w, unnest(range(1, greatest(len(w), 1))) AS t(i)
), bc AS (
  SELECT w1, w2, count(*) AS c FROM bgd GROUP BY 1, 2
), ctx AS (
  SELECT w1, sum(c) AS ctx FROM bc GROUP BY 1
), s1 AS (
  SELECT b.doc_id, b.pos,
         -ln({LM_LAMBDA} * (CAST(bc.c AS DOUBLE) / ctx.ctx)
             + (1 - {LM_LAMBDA})
               * (CAST(f.c AS DOUBLE) / (SELECT n FROM tot))) AS nll
  FROM bgd b
  JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
  JOIN ctx ON b.w1 = ctx.w1
  JOIN freq f ON b.w2 = f.word
), s0 AS (
  SELECT t.doc_id, t.pos,
         -ln(CAST(f.c AS DOUBLE) / (SELECT n FROM tot)) AS nll
  FROM tok t JOIN freq f USING (word)
  WHERE t.pos = 0
), scored AS (
  SELECT * FROM s0 UNION ALL SELECT * FROM s1
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(nll ORDER BY pos)),
                     (a, b) -> a + b) / count(*) AS avg_nll
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(avg_nll, 6) AS avg_nll,
       round(exp(avg_nll), 6) AS ppl
FROM agg
""",
    tags=("curation", "quality", "lm", "pipeline"),
)
def interpolated_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering, one model class up from
    unigram_nll_scores: each document scored under a Jelinek-Mercer
    interpolated bigram LM trained on the corpus itself —
    ``p(w2 | w1) = λ·c(w1,w2)/c(w1·) + (1-λ)·c(w2)/N`` (the first token
    backs off to the unigram term alone). Documents whose perplexity is
    far from the corpus center are the machine-generated / boilerplate
    / wrong-language candidates a quality gate drops.

    Scale shape: unigram and bigram count tables are hash aggregates
    (vocab / vocab²-bounded) BROADCAST back onto the exploded corpus
    (round 12: the bigram table was attached with a shuffle join that
    moved the whole bigram stream; all three model tables are
    vocab-bounded, so every scoring attach is now broadcast-hash by
    construction instead of by AQE's runtime estimate, and corpus rows
    shuffle only into the final per-document rollup); the corpus-total
    scalar folds per-row sizes without an explode. (spread_scan on the
    text projection was measured here and REJECTED: shuffling the text
    payload costs more than the single-split explode saves.) The
    per-document average is the id-ordered positional fold
    (deterministic, oracle-reproducible). No corpus window, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", _words(F.col("text")).alias("w"))
    tok = w.select("doc_id", F.posexplode("w").alias("pos", "word")).select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), "word"
    )
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cu"))
    # scalar corpus cardinality: one size() fold per document — the same
    # exact integer the former tok.count() re-explosion produced. A NULL
    # text has no tokens (size() would say -1 or NULL), and an empty
    # table sums to NULL: both count as 0.
    n_words = F.coalesce(F.size(_words(F.col("text"))), F.lit(0))
    total = docs.agg(F.sum(F.greatest(n_words, F.lit(0)))).first()[0] or 0
    n = F.greatest(F.size("w") - 1, F.lit(0))
    bgd = w.select(
        "doc_id",
        F.posexplode(
            F.zip_with(
                F.slice("w", 1, n),
                F.slice("w", 2, n),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("i", "b"),
    ).select(
        "doc_id",
        (F.col("i") + 1).cast("bigint").alias("pos"),
        "b.w1",
        "b.w2",
    )
    bc = bgd.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    ctx = bc.groupBy("w1").agg(F.sum("cb").alias("ctx"))
    lam = F.lit(LM_LAMBDA)
    pu = F.col("cu").cast("double") / F.lit(float(total))
    s1 = (
        bgd.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(freq.withColumnRenamed("word", "w2")), "w2")
        .select(
            "doc_id",
            "pos",
            (
                -F.log(
                    lam * (F.col("cb").cast("double") / F.col("ctx"))
                    + (F.lit(1.0) - lam) * pu
                )
            ).alias("nll"),
        )
    )
    s0 = (
        tok.filter(F.col("pos") == 0)
        .join(F.broadcast(freq), "word")
        .select("doc_id", "pos", (-F.log(pu)).alias("nll"))
    )
    agg = (
        s0.unionByName(s1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            (
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "nll"))),
                        lambda s: s["nll"],
                    ),
                    F.lit(0.0),
                    lambda a, b: a + b,
                )
                / F.count(F.lit(1))
            ).alias("avg_nll"),
        )
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        F.round("avg_nll", 6).alias("avg_nll"),
        F.round(F.exp("avg_nll"), 6).alias("ppl"),
    )
