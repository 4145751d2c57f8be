"""The reference's end-to-end incremental flow, composed from engine
operators (SURVEY.md §3, E3 'daily incremental' + E1 'space refresh').

Reference control flow (master_script.py:456-581): CQL-window scan of
updated pages -> reconciliation sweep for pages missing from the state
ledger -> per-page CDC version check -> HTML transform chain -> sinks ->
state upsert -> grouped run statistics. Here the whole run is ONE
declarative plan per phase with set-level operators: no per-row loops,
no per-row state rewrites.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.functions.html import (
    make_clean_html_udf,
)
from atlassian_confluence_data_pipeline_spark.functions.text import (
    sanitize_filename,
    substitute_page_id,
)
from atlassian_confluence_data_pipeline_spark.operators.dedup import union_dedup
from atlassian_confluence_data_pipeline_spark.operators.joins import anti_join, cdc_delta
from atlassian_confluence_data_pipeline_spark.operators.state import (
    StateStore,
    merge_state,
)


@dataclass
class RefreshResult:
    processed: DataFrame  # transformed rows + change_type
    new_state: DataFrame  # merged ledger after the run
    stats: DataFrame  # grouped run statistics (A1)
    metrics: dict | None = None  # observed run counters (see run_with_store)


def incremental_refresh(
    pages: DataFrame,
    state: DataFrame,
    lookback_cutoff: str,
    base_url: str = "https://example.org/wiki",
    check_missing: bool = True,
    observation: Observation | None = None,
) -> RefreshResult:
    """One incremental run over a `pages` frame (FIXTURES.md §B schema).

    Phases (each one declarative plan):
      1. window scan   — version.when >= cutoff (S4/P2; timestamp compare
                         keeps the reference's inclusive-boundary-day
                         lexical semantics, SURVEY §1.2)
      2. reconciliation — pages missing from the ledger entirely (J1;
                         master_script.py:482-579), unless disabled
                         (--no_check_missing analog)
      3. CDC           — keep rows absent-or-newer vs ledger version (J3)
      4. transform     — clean_html pandas UDF + PAGE_ID substitution +
                         filename sanitization (F1-F5)
      5. state merge   — last-write-wins MERGE (K3)
      6. stats         — grouped outcome counts (A1)

    Phases 1-4 build ``processed``; phases 5-6 are derived from it. All
    three returned frames are LAZY: each action on one of them re-runs
    phases 1-4 against ``state``. A caller that consumes more than one
    output, or outlives ``state``'s files, materializes ``processed``
    once and derives the rest with :func:`refresh_outputs` — which is
    what run_with_store does.

    With ``observation``, the processed frame is instrumented with
    ``observe()`` so the run counters the reference tallies row-by-row
    (master_script.py:106-113, 294-300) fall out of the first job that
    materializes it — zero extra passes; read them with
    ``observation.get`` after that action (run_with_store does).
    """
    processed = _processed(
        pages, state, lookback_cutoff, base_url, check_missing, observation
    )
    return refresh_outputs(state, processed)


def _processed(
    pages: DataFrame,
    state: DataFrame,
    lookback_cutoff: str,
    base_url: str,
    check_missing: bool,
    observation: Observation | None,
) -> DataFrame:
    """Phases 1-4: the changed pages, transformed, plus ``change_type``."""
    updated = pages.filter(
        F.col("version.when") >= F.lit(lookback_cutoff).cast("timestamp")
    )
    if check_missing:
        missing = anti_join(pages, state.select("id"), "id")
        candidates = union_dedup(updated, missing, ["id"])
    else:
        candidates = updated.dropDuplicates(["id"])

    delta = cdc_delta(
        candidates,
        state,
        "id",
        current_version=F.col("version.number"),
        state_version_col="version",
    )

    clean_udf = make_clean_html_udf(base_url)
    processed = delta.select(
        "id",
        "title",
        F.col("space.key").alias("space_key"),
        F.col("version.number").alias("version"),
        F.date_format("version.when", "yyyy-MM-dd'T'HH:mm:ss").alias("last_modified"),
        "change_type",
        substitute_page_id(
            clean_udf(F.col("body.storage.value")), F.col("id")
        ).alias("html"),
        F.concat(
            sanitize_filename(F.col("title")), F.lit("_"), F.col("id"), F.lit(".html")
        ).alias("filename"),
    )
    if observation is not None:
        processed = processed.observe(
            observation,
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.when(F.col("change_type") == "new", 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("change_type") == "updated", 1).otherwise(0))
            .cast("bigint")
            .alias("n_updated"),
            F.sum(F.when(F.col("html").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_failed_html"),
            F.coalesce(F.sum(F.length("html")), F.lit(0))
            .cast("bigint")
            .alias("html_chars"),
        )
    return processed


def refresh_outputs(state: DataFrame, processed: DataFrame) -> RefreshResult:
    """Phases 5-6 over an already-built ``processed`` frame: the ledger
    MERGE input (``output_paths`` points at the sink's
    ``html/{space}/{change_type}/{filename}`` layout), the merged ledger
    and the grouped stats. Pass a materialized ``processed`` and neither
    output re-runs the scan, CDC or the HTML UDF."""
    ledger_updates = processed.select(
        "id",
        "title",
        "space_key",
        "version",
        "last_modified",
        F.create_map(
            F.lit("html"),
            F.concat_ws(
                "/", F.lit("html"), F.col("space_key"), F.col("change_type"), F.col("filename")
            ),
        ).alias("output_paths"),
    )
    new_state = merge_state(state, ledger_updates)

    stats = processed.groupBy("space_key", "change_type").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.when(F.col("html").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_html"),
    )
    return RefreshResult(processed=processed, new_state=new_state, stats=stats)


def run_with_store(
    spark: SparkSession,
    pages: DataFrame,
    store: StateStore,
    lookback_cutoff: str,
    base_url: str = "https://example.org/wiki",
    check_missing: bool = True,
) -> RefreshResult:
    """incremental_refresh against a persistent StateStore: read ledger,
    run, atomically publish the merged snapshot. Re-running with no new
    page versions is a no-op (idempotence — state_manager.py:72
    semantics; property-tested).

    Materialize-once write path: ``processed`` (scan, reconciliation,
    CDC, clean-HTML UDF) is checkpointed ONCE, and that job is also the
    action that fills the run counters riding an ``Observation`` on it —
    the reference's end-of-run report (master_script.py:590-609) costs
    zero extra jobs, and ``result.metrics`` is set before the ledger is
    touched. The ledger MERGE input, ``stats`` and the returned
    ``processed`` all read that materialization, so publishing
    ``result.processed`` through a sink neither re-runs the UDF nor
    re-reads the previous ledger snapshot (a ``store.vacuum`` between
    the run and the publish is safe). The merged ledger is checkpointed
    before the snapshot write, so ``new_state`` never lazily reads a
    snapshot directory either."""
    state = store.read(spark)
    obs = Observation()
    processed = _processed(
        pages, state, lookback_cutoff, base_url, check_missing, obs
    ).localCheckpoint(eager=True)
    result = refresh_outputs(state, processed)
    merged = result.new_state.localCheckpoint(eager=True)
    store.write(merged)
    return RefreshResult(processed, merged, result.stats, dict(obs.get))
