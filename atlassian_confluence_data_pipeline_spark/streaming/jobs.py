"""Streaming jobs over the events fixture (SURVEY.md §2.9).

Mapping from the reference's incremental poll loop:

- lookback window + daily cadence (config_conf.py:39,
  confluence_client.py:363)        -> micro-batch trigger + watermark
- version-skip idempotence
  (state_manager.py:72)            -> dropDuplicatesWithinWatermark /
                                      idempotent foreachBatch MERGE
- keyed mutable state across runs
  (state_manager.py:84-102)        -> foreachBatch MERGE into StateStore
- late/missed-data recovery sweep
  (master_script.py:482-579)       -> batch reconciliation job
                                      (pipeline.incremental_refresh)

Each job returns an *unstarted* streaming DataFrame/writer so callers
choose sink + trigger; tests drive them with availableNow triggers into
memory sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: fallback when the drop directory has no matching files yet (a stream
#: defined over an empty directory is the normal file-source bootstrap):
#: the events fixture layout with the nanos-as-bigint ts encoding, which
#: the post-read normalization below converts like any nanos fixture.
_EVENTS_DEFAULT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _events_raw_schema(
    spark: SparkSession, sf_dir: str, glob: str
) -> T.StructType:
    """Schema for the streaming file source, derived from a batch read of
    the same fixture so nanos-vs-micros ``ts`` encodings are handled
    identically to catalog.load_table (fixtures have shipped both).
    Falls back to the static fixture schema when the directory has no
    matching files yet, so a stream can be defined over an empty drop
    directory. (Like catalog.load_table, a bigint ``ts`` is assumed to
    be annotated TIMESTAMP(NANOS) surfaced by nanosAsLong — a plain
    unannotated INT64 would be mis-scaled by the div 1000.)"""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        return (
            spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
        )
    except Exception:  # AnalysisException: unable to infer schema (no files)
        return _EVENTS_DEFAULT_SCHEMA


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    glob: str = "events.parquet",
) -> DataFrame:
    """File-source stream over the events fixture (one-file 'topic';
    in production: Kafka/file drops with the same downstream plan).

    ``max_files_per_trigger`` is the source-side rate limit — the
    streaming analog of the reference's 0.5 s/request throttle
    (confluence_client.py:327,346,399,449): each micro-batch admits at
    most that many new files, bounding per-trigger state growth and
    sink pressure instead of gulping the whole backlog in one batch."""
    schema = _events_raw_schema(spark, sf_dir, glob)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = (
        # file source needs a directory; glob-filter to the events file(s)
        reader.option("pathGlobFilter", glob).parquet(sf_dir)
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # watermarks require TIMESTAMP (with tz); NTZ→TZ cast is
        # order/interval-preserving under the session's UTC timezone
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts with a lateness bound — the streaming form
    of the reference's daily poll aggregation."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (stateful merge of gaps < ``gap``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: tuple[str, ...] = ("user_id", "event_type"), watermark: str = "2 hours"
) -> DataFrame:
    """Exactly-once-ish keyed dedup: first arrival per key wins within
    the watermark horizon (state_manager.py:72 rendered for streams)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_stream_attribution(
    events: DataFrame, join_window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: purchases joined to ALL clicks of
    the same user within the preceding ``join_window`` (1:N multiplicity
    — unlike the batch ``asof_last_click``, which keeps only the single
    latest click per purchase; dedup to last-click downstream if 1:1
    attribution is wanted). Both sides carry watermarks so the join
    state is bounded; the time-range predicate lets the engine evict
    matched/expired rows."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {join_window}
            """
        ),
    ).select("purchase_id", "p_user", "purchase_ts", "click_id", "click_ts")


def foreach_batch_state_merge(events: DataFrame, store) -> "DataStreamWriter":  # noqa: F821
    """writeStream.foreachBatch: MERGE each micro-batch's per-user max
    version into the persistent ledger — idempotent per (id, version),
    so replayed batches are no-ops."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        updates = (
            batch_df.groupBy("user_id")
            .agg(
                F.max("event_id").cast("int").alias("version"),
                F.date_format(F.max("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias(
                    "last_modified"
                ),
            )
            .select(
                F.col("user_id").cast("string").alias("id"),
                F.lit(None).cast("string").alias("title"),
                F.lit("events").alias("space_key"),
                "version",
                "last_modified",
                F.create_map().cast("map<string,string>").alias("output_paths"),
            )
        )
        store.upsert(batch_df.sparkSession, updates)

    return events.writeStream.foreachBatch(merge_batch)


def foreach_batch_minhash_dedup(
    docs,
    index_store,
    pairs_out_dir: str,
    jaccard: float = 0.5,
    compact_every: int | None = None,
):  # noqa: ANN001 - DataStreamWriter return hint kept lazy like peers
    """Cross-batch streaming near-duplicate detection: the online form
    of minhash_lsh_pairs. Each micro-batch of documents

    1. is shingled, MinHash-signed and band-keyed (the exact batch
       operators — same constants, same signatures);
    2. probes the PERSISTED band-key index, so new documents pair
       against every document ever seen, not just the current batch;
       candidates are verified with exact Jaccard and appended to
       ``pairs_out_dir``;
    3. writes its own band keys as ONE AppendIndexStore batch
       partition — O(batch) state I/O per trigger, never an O(index)
       snapshot rewrite.

    Scale notes: the index carries (doc_id, band_key, hs) — one row per
    band per document, the same near-linear footprint as the batch band
    table; the probe is an equi-join on band_key (never all-pairs). The
    partition is a pure function of the batch, so a replayed batch
    overwrites it with identical rows (idempotent at any crash point);
    pair emission is at-least-once (dedup-on-read by (id_a, id_b), the
    same contract as the reference's retry-tolerant output writes)."""
    from pyspark.sql import functions as F

    from atlassian_confluence_data_pipeline_spark.functions.text import (
        rolling_hash,
    )
    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        lsh_band_keys,
        minhash_signature,
        shingle_hashes_from_word_hashes,
        verify_candidates_jaccard,
    )

    def dedup_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        words = F.split(F.trim(F.col("text")), r"\s+")
        hs_tbl = (
            batch_df.select("doc_id", words.alias("w"))
            .select("doc_id", F.transform(F.col("w"), rolling_hash).alias("wh"))
            .select(
                "doc_id",
                shingle_hashes_from_word_hashes(F.col("wh")).alias("hs"),
            )
            .localCheckpoint(eager=True)
            .filter(F.size("hs") > 0)
        )
        sig = hs_tbl.select(
            "doc_id",
            "hs",
            minhash_signature(F.col("hs"), k=32, pre_hashed=True).alias("__sig"),
        ).localCheckpoint(eager=True)
        banded = sig.select(
            "doc_id",
            "hs",
            F.explode(F.array(*lsh_band_keys(F.col("__sig"), 16, 2))).alias(
                "band_key"
            ),
        )
        prior = index_store.read(
            spark, "doc_id bigint, hs array<bigint>, band_key bigint"
        )
        universe = prior.unionByName(banded)
        cand = (
            banded.select(F.col("doc_id").alias("id_x"), "band_key")
            .join(
                universe.select(F.col("doc_id").alias("id_y"), "band_key"),
                "band_key",
            )
            .filter(F.col("id_x") != F.col("id_y"))
            .select(
                F.least("id_x", "id_y").alias("id_a"),
                F.greatest("id_x", "id_y").alias("id_b"),
            )
            .distinct()
        )
        shingles = universe.select("doc_id", "hs").distinct()
        verified = verify_candidates_jaccard(
            cand, shingles, "doc_id", "hs", threshold=jaccard
        ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        verified.write.mode("append").parquet(pairs_out_dir)
        index_store.write_batch(banded, batch_id)
        # bounded small-file footprint on long streams: fold old batch
        # partitions into one consolidated partition every N triggers
        # (replay-safe — see AppendIndexStore.compact)
        if compact_every and (int(batch_id) + 1) % compact_every == 0:
            index_store.compact(
                spark,
                "doc_id bigint, hs array<bigint>, band_key bigint",
                keep_recent=compact_every,
            )

    return docs.writeStream.foreachBatch(dedup_batch)


def foreach_batch_span_dedup(
    docs,
    index_store,
    out_dir: str,
    span_words: int = 10,
    compact_every: int | None = None,
):  # noqa: ANN001 - DataStreamWriter return hint kept lazy like peers
    """Cross-batch streaming SPAN dedup — the online form of
    span_dedup_docs (C4-style boilerplate stripping). Each micro-batch

    1. splits its documents into fixed word spans and rolling-hashes
       each span (the engine-portable hash — a bigint per span, so the
       index never stores span text);
    2. picks the batch-local first occurrence per span hash
       (min (doc_id, pos) — one hash aggregate, the batch op's rule),
       then anti-joins the PERSISTED span-hash index so spans seen in
       ANY earlier batch are dropped entirely;
    3. writes the reconstructed documents (doc_id, n_spans, n_kept,
       clean_text) to ``out_dir`` and the batch's span hashes as ONE
       AppendIndexStore batch partition — O(batch) state I/O per
       trigger, never an O(index) snapshot rewrite.

    Scale notes: the probe is an equi-join on the hash; the batch
    partition holds the batch's DISTINCT span hashes (a pure function
    of the batch, so replays overwrite identical rows at any crash
    point; cross-batch repeats of a hash cost index rows but not
    correctness — the anti-join semantics are set-based); doc emission
    is at-least-once keyed by doc_id (dedup-on-read)."""
    from pyspark.sql import functions as F

    from atlassian_confluence_data_pipeline_spark.functions.text import (
        rolling_hash,
    )

    def dedup_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = F.split(F.trim(F.col("text")), r"\s+")
        spans = (
            batch_df.select("doc_id", w.alias("w"))
            .select(
                "doc_id",
                F.posexplode(
                    F.transform(
                        F.sequence(
                            F.lit(0),
                            F.ceil(
                                F.size("w") / F.lit(float(span_words))
                            ).cast("int")
                            - F.lit(1),
                        ),
                        lambda i: F.concat_ws(
                            " ", F.slice("w", i * span_words + 1, span_words)
                        ),
                    )
                ).alias("pos", "span"),
            )
            .select(
                "doc_id",
                F.col("pos").cast("bigint").alias("pos"),
                "span",
                rolling_hash(F.col("span")).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        firsts = spans.groupBy("h").agg(
            F.min(F.struct("doc_id", "pos")).alias("first")
        )
        batch_kept = (
            spans.join(firsts, "h")
            .filter(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("pos") == F.col("first.pos"))
            )
            .select("doc_id", "pos", "span", "h")
        )
        prior = index_store.read(spark, "h bigint")
        kept = batch_kept.join(prior, "h", "left_anti")
        rebuilt = kept.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "span"))),
                    lambda s: s["span"],
                ),
            ).alias("clean_text"),
        )
        totals = spans.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_spans")
        )
        out = totals.join(rebuilt, "doc_id", "left").select(
            "doc_id",
            "n_spans",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
        out.write.mode("append").parquet(out_dir)
        index_store.write_batch(spans.select("h").distinct(), batch_id)
        if compact_every and (int(batch_id) + 1) % compact_every == 0:
            index_store.compact(spark, "h bigint", keep_recent=compact_every)

    return docs.writeStream.foreachBatch(dedup_batch)


def foreach_batch_curation(
    docs,
    ledger_store,
    seen_store,
    index_store,
    pairs_out_dir: str,
    gate_min_words: int = 5,
    jaccard: float = 0.5,
    compact_every: int | None = None,
    on_accepted=None,
):  # noqa: ANN001 - DataStreamWriter return hint kept lazy like peers
    """The composed END-TO-END streaming curation job (round-5 item 4):
    quality gate -> cross-batch exact dedup -> cross-batch near-dup
    rejection -> accepted-ledger MERGE, one continuous foreachBatch.
    Each micro-batch of (doc_id, text):

    1. GATE: keeps docs with >= gate_min_words whitespace words (the
       batch gate predicate, deterministic);
    2. EXACT DEDUP: sha2(text)-fingerprints, keeps the lowest doc_id
       per fingerprint within the batch, then anti-joins the PERSISTED
       fingerprint index so any text seen in an earlier batch drops;
    3. NEAR-DUP: MinHash-bands the survivors (identical constants to
       the batch operators), probes the persisted band index, verifies
       candidates with exact Jaccard (pairs appended to
       ``pairs_out_dir``). A doc is rejected when it near-dups ANY
       earlier-seen doc or a lower-doc_id doc in its own batch.
       Rejected docs still enter the band/fingerprint indexes (they
       were seen), which is what makes acceptance batching-invariant:
       chains like 1~3, 3~5 reject both 3 and 5 no matter how the
       stream is chopped;
    4. LEDGER MERGE: accepted docs upsert into the StateStore ledger
       with fully content-derived fields (version = word count,
       title = fingerprint, constant last_modified) — so the ledger is
       BYTE-IDENTICAL to running the same data as one batch, and a
       replayed micro-batch (restart recovery) is a no-op.

    State I/O is O(batch), not O(state): the fingerprint and band
    indexes are AppendIndexStore batch partitions (each micro-batch
    overwrites only its own partition — replay-idempotent by layout),
    never snapshot rewrites of the whole index; only the ledger MERGE
    compacts, which is its job.

    Equivalence contract: keep-first priority is (earlier batch, then
    lower doc_id); it equals the single-batch run whenever arrival
    order is doc_id order — the CDC case, and what the recovery test
    pins (kill mid-stream, restart, ledger == batch ledger).

    Materialization points: each intermediate is computed once per
    micro-batch. (a) The batch-unique docs with their features (gate,
    fingerprint, batch-local keep-min, shingle hashes) and (b) their
    band rows (one MinHash fold per doc) are eager local checkpoints;
    the probe, the verify step, the ledger MERGE input and both index
    partitions read them. (c) The verified pairs are checkpointed too,
    each carrying the id of its prior-side doc (NULL when both docs are
    in this batch), so the rejection rule reads off the pairs with no
    re-join against the indexes. Per-job scheduling overhead dominates
    at small batch sizes; with compaction after every trigger a batch
    costs about 21 Spark jobs (the pre-materialization form cost 40).

    Scale notes: every stage is an equi-join on a derived key
    (fingerprint / band_key); index writes are per-batch partitions and
    the ledger MERGE collapses replays, so no store grows on recovery;
    pair emission is at-least-once (dedup-on-read), the same contract
    as foreach_batch_minhash_dedup."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from atlassian_confluence_data_pipeline_spark.functions.text import (
        rolling_hash,
    )
    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        lsh_band_keys,
        minhash_signature,
        shingle_hashes_from_word_hashes,
        verify_candidates_jaccard,
    )

    seen_schema = "doc_id bigint, fp string"
    index_schema = "doc_id bigint, hs array<bigint>, band_key bigint"

    def curate_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # materialization 1 — per-doc features of the batch-unique docs:
        # gate, sha2 fingerprint, batch-local keep-min-doc_id per
        # fingerprint, shingle hashes. Everything below reads this once
        # instead of re-running the gate/fingerprint/shingle chain per
        # consumer.
        uniq = (
            batch_df.select(
                "doc_id",
                "text",
                F.split(F.trim(F.col("text")), r"\s+").alias("__w"),
                F.sha2(F.col("text"), 256).alias("fp"),
            )
            .withColumn("n_words", F.size("__w").cast("int"))
            .filter(F.col("n_words") >= gate_min_words)
            .withColumn(
                "__first", F.min("doc_id").over(Window.partitionBy("fp"))
            )
            .filter(F.col("doc_id") == F.col("__first"))
            .select(
                "doc_id",
                "text",
                "n_words",
                "fp",
                shingle_hashes_from_word_hashes(
                    F.transform(F.col("__w"), rolling_hash)
                ).alias("hs"),
            )
            .localCheckpoint(eager=True)
        )
        # materialization 2 — the band rows of EVERY batch-unique doc
        # (not just the fresh ones), so the index partition written
        # below is a pure function of the batch contents: a replayed
        # batch reproduces it identically no matter what state exists,
        # which is what makes recovery safe at ANY crash point (an
        # exact-dup twin has identical bands to its original, so
        # acceptance decisions are unchanged). The MinHash fold runs
        # once per doc.
        banded = (
            uniq.filter(F.size("hs") > 0)
            .select(
                "doc_id",
                "hs",
                minhash_signature(F.col("hs"), k=32, pre_hashed=True).alias(
                    "__sig"
                ),
            )
            .select(
                "doc_id",
                "hs",
                F.explode(
                    F.array(*lsh_band_keys(F.col("__sig"), 16, 2))
                ).alias("band_key"),
            )
            .localCheckpoint(eager=True)
        )
        # exact dedup: drop fingerprints seen in any earlier batch
        fresh = uniq.join(
            seen_store.read(spark, seen_schema).select("fp"), "fp", "left_anti"
        )
        # near-dup probe against (earlier batches ∪ this batch), each
        # universe row tagged with its side: a candidate carries the id
        # of its prior-side doc (NULL when both docs are in this batch)
        universe = (
            index_store.read(spark, index_schema)
            .withColumn("__prior", F.lit(True))
            .unionByName(banded.withColumn("__prior", F.lit(False)))
        )
        cand = (
            banded.select(F.col("doc_id").alias("id_x"), "band_key")
            .join(
                universe.select(
                    F.col("doc_id").alias("id_y"), "band_key", "__prior"
                ),
                "band_key",
            )
            .filter(F.col("id_x") != F.col("id_y"))
            .select(
                F.least("id_x", "id_y").alias("id_a"),
                F.greatest("id_x", "id_y").alias("id_b"),
                F.when(F.col("__prior"), F.col("id_y")).alias("prior_id"),
            )
            .distinct()
        )
        shingles = universe.select("doc_id", "hs").distinct()
        verified = (
            verify_candidates_jaccard(
                cand, shingles, "doc_id", "hs", threshold=jaccard
            )
            .select(
                "id_a",
                "id_b",
                "prior_id",
                F.round("jaccard", 6).alias("jaccard"),
            )
            .localCheckpoint(eager=True)
        )
        verified.drop("prior_id").write.mode("append").parquet(pairs_out_dir)
        # rejection, read off the tags: a doc near-dupping an earlier-seen
        # doc (the pair's non-prior side) or a lower-id doc in its own
        # batch (id_b of an untagged pair); only fresh docs can be accepted
        rejected = verified.select(
            F.when(F.col("prior_id") == F.col("id_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id")
        )
        accepted = fresh.join(rejected, "doc_id", "left_anti")
        if on_accepted is not None:
            # sink composition hook (incremental shard maintenance):
            # runs BEFORE the state writes, so at every crash point a
            # replay recomputes the identical accepted frame (state for
            # this batch not yet visible) and the hook's own commit
            # protocol (batch-keyed dirs + manifest flip) dedups it
            accepted = accepted.localCheckpoint(eager=True)
            on_accepted(accepted, int(batch_id))
        # ledger MERGE: content-derived fields only -> byte-identical
        # across chop points and replays
        ledger_store.upsert(
            spark,
            accepted.select(
                F.col("doc_id").cast("string").alias("id"),
                F.col("fp").alias("title"),
                F.lit("curation").alias("space_key"),
                F.col("n_words").alias("version"),
                F.lit("1970-01-01T00:00:00").alias("last_modified"),
                F.create_map()
                .cast("map<string,string>")
                .alias("output_paths"),
            ),
        )
        # O(batch) state writes AFTER the idempotent ledger MERGE: each
        # partition is a pure function of the batch, so a replay (any
        # crash point) overwrites it with identical rows
        seen_store.write_batch(uniq.select("doc_id", "fp"), batch_id)
        index_store.write_batch(banded, batch_id)
        if compact_every and (int(batch_id) + 1) % compact_every == 0:
            seen_store.compact(spark, seen_schema, keep_recent=compact_every)
            index_store.compact(spark, index_schema, keep_recent=compact_every)

    return docs.writeStream.foreachBatch(curate_batch)


def foreach_batch_curated_shards(
    docs,
    ledger_store,
    seen_store,
    index_store,
    pairs_out_dir: str,
    shards_out_path: str,
    gate_min_words: int = 5,
    jaccard: float = 0.5,
    compact_every: int | None = None,
    ctx_tokens: int | None = None,
):  # noqa: ANN001 - DataStreamWriter return hint kept lazy like peers
    """Incremental curated-shard maintenance (round-9 item 3): the full
    streaming curation job composed with the shard sink — each
    micro-batch's ACCEPTED docs append shard-partitioned parquet under
    ``shards_out_path`` behind the manifest flip
    (sources/shard_sink.py append_shard_batch), instead of a full
    corpus rebuild per trigger. Same equivalence contract as the parent
    job: the maintained corpus equals the one-batch build whenever
    arrival order is doc_id order; replays are idempotent at every
    crash point (batch-keyed data dirs + the manifest no-op check)."""
    from atlassian_confluence_data_pipeline_spark.plans.packing import (
        CTX_TOKENS,
    )
    from atlassian_confluence_data_pipeline_spark.sources.shard_sink import (
        append_shard_batch,
    )
    from pyspark.sql import functions as F

    ctx = CTX_TOKENS if ctx_tokens is None else ctx_tokens

    def _append(accepted, batch_id: int) -> None:
        append_shard_batch(
            accepted.sparkSession,
            accepted.select(
                "doc_id", "text", F.col("n_words").cast("bigint").alias("tok")
            ),
            shards_out_path,
            batch_id,
            ctx_tokens=ctx,
        )

    return foreach_batch_curation(
        docs,
        ledger_store,
        seen_store,
        index_store,
        pairs_out_dir,
        gate_min_words=gate_min_words,
        jaccard=jaccard,
        compact_every=compact_every,
        on_accepted=_append,
    )


def foreach_batch_hll_distinct(
    events,
    register_store,
    key_col: str = "user_id",
):  # noqa: ANN001 - DataStreamWriter return hint kept lazy like peers
    """Cross-batch streaming distinct count via portable HyperLogLog:
    each micro-batch reduces to its <= HLL_M (= 256) (reg, mx) register
    rows (operators/sketches.py — the same hash/ladder the oracle-paired
    hll_* queries use), which merge into the persisted register table
    by element-wise max (StateStore atomic pointer flip). Because the
    registers form a monoid (hll_merge_users proves the law under the
    oracle gate), the stored sketch after N batches is BIT-IDENTICAL
    to the batch sketch over all N batches' rows — replays and
    re-merges are idempotent (max is), and the running distinct
    estimate reads from HLL_M tiny rows, never from history.

    This is the streaming analog of the reference's run counters
    (master_script.py:294-300) upgraded to a mergeable sketch: state
    size is CONSTANT regardless of stream length."""
    from pyspark.sql import functions as F

    from atlassian_confluence_data_pipeline_spark.operators.sketches import (
        hll_registers,
    )

    def merge_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        regs = hll_registers(batch_df, F.col(key_col))
        if register_store.current_snapshot() is None:
            prior = spark.createDataFrame([], "reg int, mx int")
        else:
            prior = register_store.read(spark)
        merged = (
            prior.unionByName(regs)
            .groupBy("reg")
            .agg(F.max("mx").alias("mx"))
        )
        register_store.write(merged.localCheckpoint(eager=True))

    return events.writeStream.foreachBatch(merge_batch)


#: reserved ``row`` value marking the last-applied-batch-id meta row in a
#: persisted CMS snapshot (real CMS rows are 0..depth-1, so -1 is free)
CMS_META_ROW = -1


def foreach_batch_cms_merge(
    events,
    cms_store,
    key_col: str = "event_type",
):  # noqa: ANN001 - DataStreamWriter return hint kept lazy like peers
    """Cross-batch streaming Count-Min sketch: each micro-batch reduces
    to its (row, cell, cnt) increments — the same portable affine
    family and geometry as the batch heavy_hitters_cms query
    (plans/analytics.py) — and merges into the persisted sketch by
    per-cell ADDITION (counts are an additive monoid, the way HLL
    registers are a max monoid). State is CONSTANT (rows x width
    cells) no matter how long the stream runs; any key's running
    frequency estimate reads min over its rows' cells, with the
    classic one-sided (over-)estimate guarantee preserved across
    batches because addition commutes with the min-of-sums bound.

    NOTE replays: unlike the max-merge HLL, addition is NOT
    idempotent, so this function implements batch-id dedup itself:
    the last-applied ``batch_id`` is persisted INSIDE the snapshot as
    a meta row (``row = -1``), so the sketch and its replay watermark
    commit in the same atomic pointer flip, and ``merge_batch`` is a
    no-op for any ``batch_id <= last_applied`` (the micro-batch replay
    after a failure between store.write and the streaming checkpoint
    commit). Estimate readers must filter ``row >= 0``."""
    from pyspark.sql import functions as F

    from atlassian_confluence_data_pipeline_spark.functions.text import (
        rolling_hash,
    )
    from atlassian_confluence_data_pipeline_spark.plans.analytics import (
        CMS_WIDTH,
        _cms_perms,
    )

    def merge_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if cms_store.current_snapshot() is None:
            prior = spark.createDataFrame([], "row int, cell int, cnt bigint")
            last_applied = -1
        else:
            snap = cms_store.read(spark)
            mark = (
                snap.filter(F.col("row") == CMS_META_ROW)
                .agg(F.max("cnt"))
                .first()[0]
            )
            last_applied = -1 if mark is None else int(mark)
            prior = snap.filter(F.col("row") >= 0)
        if batch_id <= last_applied:
            return  # replayed micro-batch: its additive merge already landed
        h = rolling_hash(F.col(key_col).cast("string"))
        cells = batch_df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("row"),
                            (
                                (F.lit(a) * h + F.lit(b))
                                % 2147483647
                                % CMS_WIDTH
                            ).cast("int").alias("cell"),
                        )
                        for j, (a, b) in enumerate(_cms_perms())
                    ]
                )
            ).alias("rc")
        ).select("rc.row", "rc.cell")
        inc = cells.groupBy("row", "cell").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        merged = (
            prior.unionByName(inc)
            .groupBy("row", "cell")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        meta = spark.createDataFrame(
            [(CMS_META_ROW, CMS_META_ROW, batch_id)],
            "row int, cell int, cnt bigint",
        )
        cms_store.write(merged.unionByName(meta).localCheckpoint(eager=True))

    return events.writeStream.foreachBatch(merge_batch)


#: index schema for the perceptual-fingerprint dedup state
_FP_INDEX_SCHEMA = (
    "owner_id bigint, simhash bigint, chunk_id int, chunk_val bigint"
)


def foreach_batch_fingerprint_dedup(
    attachments,
    index_store,
    pairs_out_dir: str,
    fingerprinter,
    max_hamming: int = 16,
    chunks: int = 4,
    compact_every: int | None = None,
):  # noqa: ANN001 - DataStreamWriter return hint kept lazy like peers
    """Cross-batch streaming PERCEPTUAL near-duplicate detection — the
    online form of image_near_dup_pairs / audio_near_dup_pairs, and the
    binary-modality sibling of foreach_batch_minhash_dedup. Each
    micro-batch of (owner_id, filename, content BINARY) attachments

    1. is fingerprinted by ``fingerprinter`` (dhash_images for rasters,
       fingerprint_audio for WAV tracks — the exact batch operators;
       undecodable rows carry NULL and are skipped);
    2. is split into ``chunks`` 16-bit pigeonhole chunks and probes the
       PERSISTED chunk index, so new media pair against every file ever
       seen, not just the current batch; candidates are verified with
       the exact popcount Hamming distance and appended to
       ``pairs_out_dir``;
    3. writes its own chunk keys as ONE AppendIndexStore batch
       partition — O(batch) state I/O per trigger, never an O(index)
       snapshot rewrite.

    Scale notes: the index carries one row per chunk per file (chunks x
    corpus, same near-linear footprint as the batch band table); the
    probe is an equi-join on (chunk_id, chunk_val), never all-pairs.
    The partition is a pure function of the batch, so a replayed batch
    overwrites it with identical rows (idempotent at any crash point);
    pair emission is at-least-once (dedup-on-read by (id_a, id_b))."""
    from pyspark.sql import functions as F

    width = 64 // chunks
    mask = (1 << width) - 1

    def dedup_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fp = (
            fingerprinter(batch_df)
            .select("owner_id", F.col("simhash"))
            .filter(F.col("simhash").isNotNull())
            .localCheckpoint(eager=True)
        )
        chunk_vals = F.array(
            *[
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .cast("bigint")
                for i in range(chunks)
            ]
        )
        banded = fp.select(
            "owner_id",
            "simhash",
            F.posexplode(chunk_vals).alias("chunk_id", "chunk_val"),
        )
        prior = index_store.read(spark, _FP_INDEX_SCHEMA)
        universe = prior.unionByName(banded)
        cand = (
            banded.select(
                F.col("owner_id").alias("id_x"),
                F.col("simhash").alias("fp_x"),
                "chunk_id",
                "chunk_val",
            )
            .join(
                universe.select(
                    F.col("owner_id").alias("id_y"),
                    F.col("simhash").alias("fp_y"),
                    "chunk_id",
                    "chunk_val",
                ),
                ["chunk_id", "chunk_val"],
            )
            .filter(F.col("id_x") != F.col("id_y"))
            .select(
                F.least("id_x", "id_y").alias("id_a"),
                F.greatest("id_x", "id_y").alias("id_b"),
                F.bit_count(
                    F.col("fp_x").bitwiseXOR(F.col("fp_y"))
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )
        cand.write.mode("append").parquet(pairs_out_dir)
        index_store.write_batch(banded, batch_id)
        if compact_every and (int(batch_id) + 1) % compact_every == 0:
            index_store.compact(
                spark, _FP_INDEX_SCHEMA, keep_recent=compact_every
            )

    return attachments.writeStream.foreachBatch(dedup_batch)


def foreach_batch_image_dedup(
    attachments, index_store, pairs_out_dir: str, **kw
):  # noqa: ANN001
    """Streaming image near-dup dedup: dHash over the real raster
    decoders (BMP/PPM/PNG) + the persisted chunk index. See
    foreach_batch_fingerprint_dedup for contract and scale notes."""
    from atlassian_confluence_data_pipeline_spark.plans.multimodal2 import (
        DHASH_MAX_HAMMING,
    )
    from atlassian_confluence_data_pipeline_spark.sources.binary import (
        dhash_images,
    )

    def _fp(batch_df):  # noqa: ANN001
        from pyspark.sql import functions as F

        return dhash_images(batch_df).select(
            "owner_id", F.col("dhash").alias("simhash")
        )

    kw.setdefault("max_hamming", DHASH_MAX_HAMMING)
    return foreach_batch_fingerprint_dedup(
        attachments, index_store, pairs_out_dir, _fp, **kw
    )


def foreach_batch_audio_dedup(
    attachments, index_store, pairs_out_dir: str, **kw
):  # noqa: ANN001
    """Streaming audio near-dup dedup: energy-envelope fingerprints
    over the real WAV parser + the persisted chunk index. See
    foreach_batch_fingerprint_dedup for contract and scale notes."""
    from atlassian_confluence_data_pipeline_spark.plans.multimodal3 import (
        AFP_MAX_HAMMING,
    )
    from atlassian_confluence_data_pipeline_spark.sources.binary import (
        fingerprint_audio,
    )

    def _fp(batch_df):  # noqa: ANN001
        from pyspark.sql import functions as F

        return fingerprint_audio(batch_df).select(
            "owner_id", F.col("afp").alias("simhash")
        )

    kw.setdefault("max_hamming", AFP_MAX_HAMMING)
    return foreach_batch_fingerprint_dedup(
        attachments, index_store, pairs_out_dir, _fp, **kw
    )


#: index schema for the streaming video frame-dedup state
_FRAME_INDEX_SCHEMA = "owner_id bigint, frame_index int, fh bigint"


def foreach_batch_video_dedup(
    videos,
    index_store,
    pairs_out_dir: str,
    min_shared: int | None = None,
    compact_every: int | None = None,
):  # noqa: ANN001 - DataStreamWriter return hint kept lazy like peers
    """Cross-batch streaming VIDEO near-dup detection — the online form
    of video_near_dup_pairs (the content-ID shape): each micro-batch of
    (owner_id, filename, content) concatenated-BMP videos

    1. is split + decoded + per-frame dHashed (the exact batch
       operator; undecodable rows carry NULL and are skipped);
    2. probes the PERSISTED frame index with an exact equi-join on
       (frame hash, frame position) — since all frames of a video
       arrive in its own batch, every (new, seen) video pair completes
       within one probe — and appends pairs meeting the shared-frame
       threshold to ``pairs_out_dir``;
    3. writes its own frame rows as ONE AppendIndexStore batch
       partition — O(batch) state I/O per trigger.

    Scale notes: the index carries one row per frame; the probe is an
    exact hash-bucket join, never all-pairs of videos. Replayed batches
    overwrite their partition with identical rows (idempotent); pair
    emission is at-least-once (dedup-on-read by (id_a, id_b))."""
    from pyspark.sql import functions as F

    from atlassian_confluence_data_pipeline_spark.plans.multimodal4 import (
        MIN_SHARED_FRAMES,
    )
    from atlassian_confluence_data_pipeline_spark.sources.binary import (
        dhash_video_frames,
    )

    threshold = MIN_SHARED_FRAMES if min_shared is None else min_shared

    def dedup_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bf = (
            dhash_video_frames(batch_df)
            .filter(F.col("fh").isNotNull())
            .select("owner_id", "frame_index", "fh")
            .localCheckpoint(eager=True)
        )
        prior = index_store.read(spark, _FRAME_INDEX_SCHEMA)
        universe = prior.unionByName(bf)
        pairs = (
            bf.select(
                F.col("owner_id").alias("id_x"), "frame_index", "fh"
            )
            .join(
                universe.select(
                    F.col("owner_id").alias("id_y"), "frame_index", "fh"
                ),
                ["fh", "frame_index"],
            )
            .filter(F.col("id_x") != F.col("id_y"))
            .select(
                F.least("id_x", "id_y").alias("id_a"),
                F.greatest("id_x", "id_y").alias("id_b"),
                "frame_index",
            )
            # Count each (pair, frame) ONCE. The join key includes fh AND
            # frame_index, so a given (id_a, id_b, frame_index) can match at
            # most once legitimately; duplicates arise only from (a) a
            # same-batch pair matching in both directions through
            # universe = prior UNION bf, and (b) a replayed batch whose old
            # index partition is still readable. Without this, n_shared is
            # 2x (3x on replay) for same-batch pairs and the threshold is
            # effectively halved.
            .distinct()
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
            .filter(F.col("n_shared") >= threshold)
        )
        pairs.write.mode("append").parquet(pairs_out_dir)
        index_store.write_batch(bf, batch_id)
        if compact_every and (int(batch_id) + 1) % compact_every == 0:
            index_store.compact(
                spark, _FRAME_INDEX_SCHEMA, keep_recent=compact_every
            )

    return videos.writeStream.foreachBatch(dedup_batch)


#: index schema for the streaming preference (duel) state
_DUEL_INDEX_SCHEMA = "i string, j string, n bigint, w bigint"


def foreach_batch_preference_state(duels, index_store):  # noqa: ANN001
    """Cross-batch streaming PREFERENCE ingestion — the online form of
    the preference_winrate_matrix duel aggregation (plans/preference.py):
    each micro-batch of raw duels ``(s_a, s_b, winner)``

    1. is emitted in both orientations and reduced to its per-matchup
       increments ``(i, j, n, w)`` — a pure function of the batch;
    2. lands as ONE AppendIndexStore batch partition — O(batch) state
       I/O per trigger, replay-idempotent by layout (a replayed batch
       overwrites its own partition with identical rows).

    Readers re-aggregate the partitions (counts are an additive
    monoid) via :func:`read_preference_state`, recovering exactly the
    batch matchup matrix for the same duel multiset no matter how the
    stream was chopped."""
    from pyspark.sql import functions as F

    def ingest_batch(batch_df, batch_id: int) -> None:
        both = batch_df.select(
            F.col("s_a").alias("i"), F.col("s_b").alias("j"), "winner"
        ).unionByName(
            batch_df.select(
                F.col("s_b").alias("i"), F.col("s_a").alias("j"), "winner"
            )
        )
        inc = both.groupBy("i", "j").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("winner") == F.col("i"), 1).otherwise(0))
            .cast("bigint")
            .alias("w"),
        )
        index_store.write_batch(inc, batch_id)

    return duels.writeStream.foreachBatch(ingest_batch)


def read_preference_state(spark, index_store):  # noqa: ANN001
    """Aggregate the persisted duel partitions into the live win-rate
    matrix: (src, opponent, n_duels, n_wins, winrate, wilson_lb) — the
    same columns and Wilson bound as the batch query."""
    from pyspark.sql import functions as F

    from atlassian_confluence_data_pipeline_spark.plans.preference import (
        WILSON_Z,
    )

    m = (
        index_store.read(spark, _DUEL_INDEX_SCHEMA)
        .groupBy(F.col("i").alias("src"), F.col("j").alias("opponent"))
        .agg(
            F.sum("n").cast("bigint").alias("n_duels"),
            F.sum("w").cast("bigint").alias("n_wins"),
        )
    )
    p = F.col("n_wins").cast("double") / F.col("n_duels")
    n = F.col("n_duels").cast("double")
    z = F.lit(WILSON_Z)
    wilson = (
        p + z * z / (2 * n) - z * F.sqrt((p * (1 - p) + z * z / (4 * n)) / n)
    ) / (1 + z * z / n)
    return m.select(
        "src",
        "opponent",
        "n_duels",
        "n_wins",
        F.round(p, 6).alias("winrate"),
        F.round(wilson, 6).alias("wilson_lb"),
    )


#: emitted DPO increment schema (the dpo_pair_construction columns)
_DPO_PAIRS_SCHEMA = (
    "chosen_doc_id bigint, rejected_doc_id bigint, chosen_source string,"
    " rejected_source string, margin double, wilson_lb double,"
    " weight double"
)


def foreach_batch_dpo_pairs(
    duels,
    index_store,
    pairs_out_path: str,
    weights_reader=None,
):  # noqa: ANN001
    """Cross-batch streaming DPO-pair construction (round-11 VERDICT
    item 6) — the online form of ``dpo_pair_construction``: each
    micro-batch of raw duels ``(id_a, id_b, s_a, s_b, winner)``

    1. folds its per-matchup increments into the duel AppendIndexStore
       (exactly foreach_batch_preference_state's ingestion — O(batch)
       state I/O, replay-idempotent by layout);
    2. re-fits Bradley-Terry strengths and Wilson bounds on the
       CUMULATIVE matchup state (matchup-matrix-sized, never
       duel-stream-sized — the sufficient-statistics reduction), so
       every emitted pair carries the margin/gate the full duel history
       supports at emission time;
    3. emits this batch's (chosen, rejected, margin, wilson_lb, weight)
       increments behind the generic manifest flip
       (sources/shard_sink.py append_manifest_batch) — composable with
       the streaming curation survivors by passing ``weights_reader``
       (e.g. a reader of the maintained dedup-weight state; chosen docs
       it does not cover weigh 1.0).

    Equivalence contract (pytest): when the whole duel stream arrives
    in ONE batch with the batch dedup weights as ``weights_reader``,
    the emitted table equals the batch ``dpo_pair_construction``
    row-for-row. Replays are idempotent at every crash point: the
    index partition overwrite is byte-identical, a committed batch is
    a manifest no-op, and a crashed flip's orphan ``batch-{id}`` dir
    is rebuilt in place."""
    from pyspark.sql import functions as F

    from atlassian_confluence_data_pipeline_spark.plans.preference import (
        DPO_WILSON_MIN,
        WILSON_Z,
        _bt_fit,
    )
    from atlassian_confluence_data_pipeline_spark.sources.shard_sink import (
        append_manifest_batch,
    )

    def ingest_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        both = batch_df.select(
            F.col("s_a").alias("i"), F.col("s_b").alias("j"), "winner"
        ).unionByName(
            batch_df.select(
                F.col("s_b").alias("i"), F.col("s_a").alias("j"), "winner"
            )
        )
        inc = both.groupBy("i", "j").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("winner") == F.col("i"), 1).otherwise(0))
            .cast("bigint")
            .alias("w"),
        )
        index_store.write_batch(inc, batch_id)
        # cumulative matchup matrix INCLUDING this batch (counts are an
        # additive monoid over the batch partitions)
        m = (
            index_store.read(spark, _DUEL_INDEX_SCHEMA)
            .groupBy("i", "j")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("w").cast("bigint").alias("w"),
            )
            .localCheckpoint(eager=True)
        )
        bt = _bt_fit(m).select("source", "strength")
        p = F.col("w").cast("double") / F.col("n")
        n = F.col("n").cast("double")
        z = F.lit(WILSON_Z)
        wilson = (
            p
            + z * z / (2 * n)
            - z * F.sqrt((p * (1 - p) + z * z / (4 * n)) / n)
        ) / (1 + z * z / n)
        wl = m.select(
            F.col("i").alias("chosen_source"),
            F.col("j").alias("rejected_source"),
            F.round(wilson, 6).alias("wilson_lb"),
        )
        chosen = F.when(
            F.col("winner") == F.col("s_a"), F.col("id_a")
        ).otherwise(F.col("id_b"))
        rejected = F.when(
            F.col("winner") == F.col("s_a"), F.col("id_b")
        ).otherwise(F.col("id_a"))
        rej_src = F.when(
            F.col("winner") == F.col("s_a"), F.col("s_b")
        ).otherwise(F.col("s_a"))
        dpo = batch_df.select(
            chosen.alias("chosen_doc_id"),
            rejected.alias("rejected_doc_id"),
            F.col("winner").alias("chosen_source"),
            rej_src.alias("rejected_source"),
        )
        out = (
            dpo.join(
                F.broadcast(
                    bt.select(
                        F.col("source").alias("chosen_source"),
                        F.col("strength").alias("__sc"),
                    )
                ),
                "chosen_source",
            )
            .join(
                F.broadcast(
                    bt.select(
                        F.col("source").alias("rejected_source"),
                        F.col("strength").alias("__sr"),
                    )
                ),
                "rejected_source",
            )
            .join(
                F.broadcast(wl), ["chosen_source", "rejected_source"]
            )
            .filter(F.col("wilson_lb") > DPO_WILSON_MIN)
        )
        if weights_reader is not None:
            dw = weights_reader(spark).select(
                F.col("doc_id").alias("chosen_doc_id"), "weight"
            )
            out = out.join(dw, "chosen_doc_id", "left").withColumn(
                "weight", F.coalesce("weight", F.lit(1.0))
            )
        else:
            out = out.withColumn("weight", F.lit(1.0))
        out = out.select(
            "chosen_doc_id",
            "rejected_doc_id",
            "chosen_source",
            "rejected_source",
            F.round(F.col("__sc") - F.col("__sr"), 6).alias("margin"),
            "wilson_lb",
            "weight",
        )
        append_manifest_batch(
            spark, out, pairs_out_path, batch_id, fmt="dpo_pairs"
        )

    return duels.writeStream.foreachBatch(ingest_batch)


def read_dpo_pairs(spark, pairs_out_path: str):  # noqa: ANN001
    """All committed streaming DPO-pair increments (manifest-listed
    batches only; empty artifact reads as an empty frame)."""
    from atlassian_confluence_data_pipeline_spark.sources.shard_sink import (
        read_manifest_batches,
    )

    return read_manifest_batches(
        spark, pairs_out_path, _DPO_PAIRS_SCHEMA, fmt="dpo_pairs"
    )
