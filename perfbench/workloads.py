"""The two workloads. Each one generates its inputs from the seed
(``generate``), prepares a fresh session (``prepare``), warms the JVM
and Python workers (``warm``), then either runs its closed loop for the
requested seconds (``timed``) or runs a fixed operation sequence twice,
untraced and then traced (``traced``).

One client, closed loop: the next operation starts when the previous
one has finished.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import threading
import time

import checks
import gen
import tracer
from harness import Outcome, Session, fresh_dir, median

SINK = "confluence_html"
SINK_OPTS = {"filename_col": "filename", "content_col": "html"}


def _span(rec, name: str):
    """``rec.span(name)`` in a traced pass, a no-op otherwise."""
    return rec.span(name) if rec is not None else contextlib.nullcontext()


def _manifest_count(out_dir: str) -> int:
    try:
        with open(os.path.join(out_dir, "_MANIFEST")) as fh:
            return sum(1 for line in fh.read().splitlines() if line)
    except FileNotFoundError:
        return 0


# ---------------------------------------------------------------------------
# ingest: page refresh + streaming curation (the write path)
# ---------------------------------------------------------------------------


class Ingest:
    """The write path. A backfill of an empty page ledger, then daily
    refreshes touching about 1% of pages (each ``pipeline.run_with_store``
    plus a publish through the ``confluence_html`` sink), then
    ``foreach_batch_curation`` draining a backlog of document drops with
    ``availableNow``, one micro-batch per drop, so the curation index
    grows from batch to batch."""

    name = "ingest"
    N_PAGES = 2000
    N_DAYS = 5
    MIN_DAILY = 3
    TRACED_DAILY = 1
    N_DROPS = 2
    WARM_PAGES = 100
    WARM_DAYS = 1
    DOCS_PER_DROP = 200
    WARM_DOCS = 50
    JACCARD = 0.7
    COMPACT_EVERY = 1
    DOC_SCHEMA = "doc_id bigint, text string"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def generate(self, root: str) -> None:
        self.life = gen.write_pages_lifecycle(
            self.seed, os.path.join(root, "pages"), self.N_PAGES, self.N_DAYS
        )
        self.drops = gen.write_stream_drops(
            self.seed, os.path.join(root, "drops"), self.N_DROPS, self.DOCS_PER_DROP
        )
        self.warm_life = gen.write_pages_lifecycle(
            self.seed + 7919, os.path.join(root, "warm-pages"), self.WARM_PAGES, self.WARM_DAYS
        )
        self.warm_drops = gen.write_stream_drops(
            self.seed + 7919, os.path.join(root, "warm-drops"), 1, self.WARM_DOCS
        )

    def prepare(self, spark) -> None:
        from atlassian_confluence_data_pipeline_spark.sources.html_sink import register

        register(spark)

    # -- one refresh / one drain ----------------------------------------

    def _refresh(self, spark, life, day, store, out_dir, sink=SINK, rec=None, group=None):
        """Read the day's pages, run_with_store, publish. Returns
        (observed counters, files published, seconds)."""
        from atlassian_confluence_data_pipeline_spark.pipeline import run_with_store

        fresh_dir(out_dir)
        t0 = time.perf_counter()
        pages = spark.read.parquet(life.days[day])
        with tracer.job_group(spark.sparkContext, group or "refresh"):
            with _span(rec, "pipeline.run_with_store"):
                result = run_with_store(spark, pages, store, life.cutoffs[day])
        with _span(rec, "sources.html_sink.save"):
            result.processed.write.format(sink).mode("overwrite").options(**SINK_OPTS).save(
                out_dir
            )
        elapsed = time.perf_counter() - t0
        return result.metrics, _manifest_count(out_dir), elapsed

    def _curation(self, tag: str, store_cls=None, index_cls=None):
        from atlassian_confluence_data_pipeline_spark.operators.state import (
            AppendIndexStore,
            StateStore,
        )

        base = fresh_dir(os.path.join(self.work, f"curation-{tag}"))
        os.makedirs(os.path.join(base, "drop"))
        store_cls = store_cls or StateStore
        index_cls = index_cls or AppendIndexStore
        return base, (
            store_cls(os.path.join(base, "ledger")),
            index_cls(os.path.join(base, "seen")),
            index_cls(os.path.join(base, "index")),
        )

    def _drain(self, spark, base, stores, files):
        """Copy ``files`` into the drop dir and drain the backlog with one
        availableNow query. Returns (seconds, progress list, query)."""
        from atlassian_confluence_data_pipeline_spark.streaming.jobs import (
            foreach_batch_curation,
        )

        drop = os.path.join(base, "drop")
        # the file source orders a backlog by modification time (ms); space
        # the drops a second apart so they arrive in doc-id order, the
        # curation job's keep-first contract
        now = int(time.time())
        for k, f in enumerate(files):
            dest = os.path.join(drop, os.path.basename(f))
            shutil.copyfile(f, dest)
            os.utime(dest, (now - len(files) + k, now - len(files) + k))
        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema(self.DOC_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(drop)
        )
        q = (
            foreach_batch_curation(
                stream, *stores, os.path.join(base, "pairs"),
                gate_min_words=gen.GATE_MIN_WORDS, jaccard=self.JACCARD, compact_every=self.COMPACT_EVERY,
            )
            .option("checkpointLocation", os.path.join(base, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(150)
        finally:
            if q.isActive:
                q.stop()
        elapsed = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"curation stream failed: {q.exception()}")
        return elapsed, list(q.recentProgress), q

    # -- checks ----------------------------------------------------------

    def _check_refresh(self, spark, day, store, metrics, published, out: Outcome) -> None:
        life = self.life
        ledger = {
            r["id"]: r["version"] for r in store.read(spark).select("id", "version").collect()
        }
        out.check(f"day {day} page ledger", checks.check_ledger(ledger, life.expected[day]))
        out.check(
            f"day {day} refresh counts",
            checks.check_refresh_counts(
                metrics, published, life.changed[day], life.null_changed[day]
            ),
        )

    def _check_curation(self, spark, stores, drops, drained, out: Outcome) -> set[int]:
        accepted = {int(r["id"]) for r in stores[0].read(spark).select("id").collect()}
        out.check(
            "curation outcome",
            checks.check_curation(
                accepted, drained, drops.exact_dups, drops.near_dups, drops.gated
            ),
        )
        return accepted

    def _check_noop_rerun(self, spark, day, store, out: Outcome) -> None:
        from atlassian_confluence_data_pipeline_spark.pipeline import run_with_store

        again = run_with_store(
            spark, spark.read.parquet(self.life.days[day]), store, self.life.cutoffs[day]
        )
        out.check("refresh no-op re-run", checks.check_noop_rerun(again.metrics))

    # -- phases ----------------------------------------------------------

    def warm(self, spark, out: Outcome) -> None:
        """A small backfill, then WARM_DAYS daily refreshes against its
        non-empty ledger (an empty ledger lets Spark optimise the anti-join
        and the merge away, so only a refresh over a real ledger compiles
        the daily plan), then one drain."""
        from atlassian_confluence_data_pipeline_spark.operators.state import StateStore

        store = StateStore(fresh_dir(os.path.join(self.work, "warm-ledger")))
        for day in range(self.WARM_DAYS + 1):
            self._refresh(spark, self.warm_life, day, store, os.path.join(self.work, "warm-html"))
        base, stores = self._curation("warm")
        self._drain(spark, base, stores, self.warm_drops.files)

    def _lifecycle(self, sess: Session, tag: str, n_daily: int | None, seconds: float,
                   out: Outcome, rec=None, store_cls=None, index_cls=None):
        """Backfill, then daily refreshes (exactly ``n_daily``, or when None
        at least MIN_DAILY and until ``seconds`` have been measured), then
        one availableNow drain of the document backlog. Every refresh and
        the final curation state are checked."""
        from atlassian_confluence_data_pipeline_spark.operators.state import StateStore

        spark = sess.spark
        ledger = (store_cls or StateStore)(fresh_dir(os.path.join(self.work, f"ledger-{tag}")))
        base, stores = self._curation(tag, store_cls, index_cls)
        html = os.path.join(self.work, "html")
        sink = "confluence_html_traced" if rec is not None else SINK
        res = {"refresh_s": [], "n_pages": [], "published": [], "refresh_jobs": 0}

        def refresh(day):
            if rec is not None:
                rec.op = f"day-{day}"
            group = f"{tag}-refresh-{day}"
            metrics, published, t = self._refresh(
                spark, self.life, day, ledger, html, sink=sink, rec=rec, group=group
            )
            res["refresh_jobs"] += sess.jobs_in_group(group)
            res["n_pages"].append(metrics["n_pages"])
            res["published"].append(published)
            out.op(True)
            self._check_refresh(spark, day, ledger, metrics, published, out)
            return t

        res["backfill_s"] = refresh(0)
        day = 1
        while day <= self.N_DAYS and (
            len(res["refresh_s"]) < (n_daily or self.MIN_DAILY)
            or (n_daily is None and res["backfill_s"] + sum(res["refresh_s"]) < seconds)
        ):
            res["refresh_s"].append(refresh(day))
            day += 1
        res["days"] = day - 1

        if rec is not None:
            rec.op = "drain"
        res["drain_s"], res["progress"], res["query"] = self._drain(
            spark, base, stores, self.drops.files
        )
        out.op(True)
        res["batch_s"] = [p["durationMs"]["triggerExecution"] / 1000.0 for p in res["progress"]]
        res["drained"] = set(range(self.drops.n_docs))
        res["accepted"] = self._check_curation(spark, stores, self.drops, res["drained"], out)
        res["total_s"] = res["backfill_s"] + sum(res["refresh_s"]) + res["drain_s"]
        res["records"] = sum(res["n_pages"]) + self.drops.n_docs
        return res, ledger

    def timed(self, sess: Session, seconds: float, out: Outcome):
        res, ledger = self._lifecycle(sess, "timed", None, seconds, out)
        self._check_noop_rerun(sess.spark, res["days"], ledger, out)
        report = {
            "backfill_pages_per_s": (self.N_PAGES / res["backfill_s"], "pages/s", 1),
            "daily_refresh_p50_s": (median(res["refresh_s"]), "s", len(res["refresh_s"])),
            "stream_docs_per_s": (self.drops.n_docs / res["drain_s"], "docs/s", 1),
            "batch_p50_s": (median(res["batch_s"]), "s", len(res["batch_s"])),
            "ingest_records_per_s": (res["records"] / res["total_s"], "records/s", 1),
            "drain_share_of_total": (res["drain_s"] / res["total_s"], "ratio", 1),
        }
        # the geometric mean gives the daily refresh and the curation
        # micro-batch an equal, direct weight in the gated latency
        latency = math.sqrt(median(res["refresh_s"]) * median(res["batch_s"]))
        report["ingest_latency_gmean_s"] = (latency, "s", len(res["refresh_s"]) + len(res["batch_s"]))
        return {"work_per_s": res["records"] / res["total_s"], "op_latency_s": latency}, report

    def traced(self, sess: Session, out: Outcome):
        """Backfill + TRACED_DAILY refreshes + the backlog drain untraced
        (Spark job counts), the same sequence traced on fresh stores, then
        the warm-up drop's drain on ``local[1]`` as a single-threaded
        baseline (printed, not gated)."""
        spark = sess.spark
        untraced, _ = self._lifecycle(sess, "untraced", self.TRACED_DAILY, 0, out)
        stream_jobs = sess.jobs_in_group(str(untraced["query"].runId))

        rec = tracer.Recorder()
        patches = tracer.Patches()
        commit_file = os.path.join(self.work, "sink-commits.txt")
        spark.dataSource.register(tracer.traced_sink_class(commit_file))
        udf_counters = tracer.install_pipeline_wrappers(rec, patches, spark)
        tracer.install_lsh_wrapper(rec, patches, spark)
        store_cls, index_cls = tracer.traced_store_classes(rec)
        try:
            res, _ = self._lifecycle(sess, "traced", self.TRACED_DAILY, 0, out, rec=rec,
                                     store_cls=store_cls, index_cls=index_cls)
        finally:
            patches.restore()

        rows, chars, clean_s = udf_counters()
        st = rec.self_time_by_name()
        with open(commit_file) as fh:
            commit_s = sum(float(x) for x in fh.read().split())
        progress = res["progress"]
        add_batch = sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000.0
        main = threading.get_ident()
        in_batch = sum(s.end - s.start for s in rec.spans if s.parent is None and s.thread != main)
        drained = res["drained"]
        accepted = res["accepted"]
        d = self.drops
        rejected = drained - accepted - (d.gated & drained)
        reads = rec.counters["operators.state.AppendIndexStore.reads"]
        daily_pages = sum(res["n_pages"][1:])
        scanned = sum(len(self.life.expected[day]) for day in range(1, res["days"] + 1))
        changed_rows = sum(res["n_pages"]) + len(accepted)
        layer = {
            "pipeline.run_with_store_s": st["pipeline.run_with_store"],
            "pipeline.spark_jobs": untraced["refresh_jobs"],
            "pipeline.changed_frac": daily_pages / scanned,
            "operators.joins.cdc_delta_s": st["operators.joins.cdc_delta"],
            "operators.joins.cdc_rows_in": rec.counters["operators.joins.cdc_rows_in"],
            "operators.joins.cdc_rows_out": rec.counters["operators.joins.cdc_rows_out"],
            "operators.dedup.union_dedup_s": st["operators.dedup.union_dedup"],
            "functions.html.clean_s": clean_s,
            "functions.html.chars_per_s": chars / clean_s if clean_s else 0.0,
            "functions.html.rows_cleaned": rows,
            "functions.html.cleans_per_changed_page": rows / sum(res["n_pages"]),
            "sources.html_sink.save_s": st["sources.html_sink.save"],
            "sources.html_sink.commit_s": commit_s,
            "sources.html_sink.files_published": sum(res["published"]),
            "operators.state.StateStore.write_s": st["operators.state.StateStore.write"],
            "operators.state.StateStore.upsert_s": st["operators.state.StateStore.upsert"],
            "operators.state.StateStore.ledger_bytes_per_changed_row": rec.counters[
                "operators.state.StateStore.bytes_written"
            ] / changed_rows,
            "operators.state.AppendIndexStore.write_batch_s": st[
                "operators.state.AppendIndexStore.write_batch"
            ],
            "operators.state.AppendIndexStore.compact_s": st[
                "operators.state.AppendIndexStore.compact"
            ],
            "operators.state.AppendIndexStore.read_dirs": rec.counters[
                "operators.state.AppendIndexStore.read_dirs"
            ] / max(1, reads),
            "operators.lsh.verify_candidates_s": st["operators.lsh.verify_candidates"],
            "operators.lsh.candidates": rec.counters["operators.lsh.candidates"],
            "operators.lsh.verified": rec.counters["operators.lsh.verified"],
            "streaming.trigger_s": sum(res["batch_s"]),
            "streaming.add_batch_s": add_batch,
            "streaming.spark_jobs_per_batch": stream_jobs / max(1, len(untraced["progress"])),
            "streaming.curation_self_s": max(0.0, add_batch - in_batch),
            "streaming.accept_frac": len(accepted) / len(drained),
            "streaming.rejected_exact": len(rejected & d.exact_dups),
            "streaming.rejected_near": len(rejected - d.exact_dups),
        }

        # single-threaded baseline: the warm-up drop's drain on local[1]
        sess.stop()
        sess.start(n_cpus=1)
        base, stores = self._curation("local1")
        t1, progress1, q1 = self._drain(sess.spark, base, stores, self.warm_drops.files)
        out.op(True)
        accepted1 = self._check_curation(
            sess.spark, stores, self.warm_drops, set(range(self.WARM_DOCS)), out
        )
        self.baseline = {
            "local1.batches": (len(progress1), "count"),
            "local1.spark_jobs_per_batch": (
                sess.jobs_in_group(str(q1.runId)) / max(1, len(progress1)), "jobs/batch"),
            "local1.accepted": (len(accepted1), "count"),
            "local1.drain_s": (t1, "s"),
        }
        what = f"backfill, {self.TRACED_DAILY} daily refresh(es), drain"
        return layer, rec, untraced["total_s"], res["total_s"], what


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

#: relational analytics and curation queries. near_dup_pairs_lsh and
#: minhash_lsh_pairs share the plans._cache minhash_band_candidates stage,
#: so within a pass one of them builds it and the other hits the memo. An
#: odd count keeps the median latency on one query's samples instead of
#: the midpoint between two queries of very different cost.
QUERY_MIX = (
    "pricing_summary",
    "weighted_median_price",
    "hll_distinct_users_by_type",
    "cdc_classify_orders",
    "near_dup_pairs_lsh",
    "minhash_lsh_pairs",
    "clean_documents_html",
)
MIN_PASSES = 2


class QueryMix:
    """A fixed, named set of registry queries in a seeded order, each
    written to the ``noop`` sink. Every pass reads the tables through its
    own directory alias, so the session cache builds each shared stage
    once per pass and serves its second consumer from the memo."""

    name = "query_mix"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.order = list(QUERY_MIX)
        random.Random(seed).shuffle(self.order)
        self.passes = 0

    def generate(self, root: str) -> None:
        self.tables = gen.write_query_tables(self.seed, os.path.join(root, "tables"))

    def prepare(self, spark) -> None:
        pass

    def _alias(self) -> str:
        """A fresh directory alias of the tables for the next pass."""
        alias = os.path.join(self.work, f"tables-pass{self.passes}")
        self.passes += 1
        if os.path.lexists(alias):
            os.remove(alias)
        os.symlink(self.tables, alias)
        return alias

    def _run_pass(self, spark, out: Outcome, sess=None, rec=None):
        """One pass into the noop sink; returns ({name: seconds},
        {name: rows}, {name: jobs})."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from atlassian_confluence_data_pipeline_spark.plans import QUERIES

        sf_dir = self._alias()
        # every other pass runs the seeded order reversed, so each query
        # sharing a memoized stage pays its build in one of every two passes
        order = self.order if self.passes % 2 else self.order[::-1]
        times, rows, jobs = {}, {}, {}
        for name in order:
            obs = Observation()
            group = f"q-{self.passes}-{name}"
            t0 = time.perf_counter()
            if rec is not None:
                rec.op = name
            with tracer.job_group(spark.sparkContext, group):
                with _span(rec, "plans.build"):
                    df = QUERIES[name].fn(spark, sf_dir)
                with _span(rec, "plans.execute"):
                    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                        "noop"
                    ).mode("overwrite").save()
            times[name] = time.perf_counter() - t0
            rows[name] = obs.get["rows"]
            if sess is not None:
                jobs[name] = sess.jobs_in_group(group)
            out.op(True)
        return times, rows, jobs

    def oracle_check(self, spark, out: Outcome) -> dict[str, int]:
        """Untimed: every query's collected result against its DuckDB
        oracle (tests/oracle_compare). Returns row counts."""
        from tests.oracle_compare import compare_frames, run_oracle

        from atlassian_confluence_data_pipeline_spark.plans import QUERIES

        sf_dir = self._alias()
        rows = {}
        for name in self.order:
            got = QUERIES[name].fn(spark, sf_dir).toPandas()
            rows[name] = len(got)
            sql = QUERIES[name].oracle
            if sql is not None:
                out.check(f"oracle {name}", compare_frames(got, run_oracle(sql, self.tables), name))
        return rows

    def warm(self, spark, out: Outcome) -> None:
        """The untimed oracle check, then one untimed pass into the noop
        sink: the first two passes after the check run 20-30% slower than
        later ones while the JVM warms up."""
        self.check_rows = self.oracle_check(spark, out)
        self.warm_rows = self._run_pass(spark, out)[1]

    def _row_check(self, passes: list[dict], out: Outcome) -> None:
        counts = {
            n: [self.check_rows[n]] + [p[n] for p in [self.warm_rows, *passes]]
            for n in self.order
        }
        out.check("row counts across passes", checks.check_row_counts(counts))

    def timed(self, sess: Session, seconds: float, out: Outcome):
        per_query: dict[str, list[float]] = {n: [] for n in self.order}
        passes_rows = []
        wall = 0.0
        while len(passes_rows) < MIN_PASSES or wall < seconds:
            times, rows, _ = self._run_pass(sess.spark, out)
            for n, t in times.items():
                per_query[n].append(t)
            wall += sum(times.values())
            passes_rows.append(rows)
        self._row_check(passes_rows, out)
        lat = [t for ts in per_query.values() for t in ts]
        medians = [median(ts) for ts in per_query.values()]
        gmean = math.exp(sum(math.log(t) for t in medians) / len(medians))
        report = {
            "query_gmean_s": (gmean, "s", len(lat)),
            "query_p50_s": (median(lat), "s", len(lat)),
            "mix_queries_per_min": (60.0 * len(lat) / wall, "1/min", len(passes_rows)),
        }
        report.update(
            {f"query.{n}_s": (median(ts), "s", len(ts)) for n, ts in sorted(per_query.items())}
        )
        return {"work_per_s": len(lat) / wall, "op_latency_s": gmean}, report

    def traced(self, sess: Session, out: Outcome):
        spark = sess.spark
        times_u, rows_u, jobs = self._run_pass(spark, out, sess=sess)
        rec = tracer.Recorder()
        patches = tracer.Patches()
        tracer.install_plans_wrappers(rec, patches)
        try:
            times_t, rows_t, _ = self._run_pass(spark, out, rec=rec)
        finally:
            patches.restore()
        self._row_check([rows_u, rows_t], out)
        st = rec.self_time_by_name()
        total = rec.total_by_name()
        layer = {
            "plans.build_s": st["plans.build"],
            "plans.execute_s": st["plans.execute"],
            "plans.spark_jobs_per_query": sum(jobs.values()) / len(jobs),
            "plans._cache.builds": rec.counters["plans._cache.builds"],
            "plans._cache.hits": rec.counters["plans._cache.hits"],
            "plans._cache.build_s": total["plans._cache.build"],
            "catalog.load_table_s": st["catalog.load_table"],
            "catalog.calls": rec.counters["catalog.calls"],
        }
        return layer, rec, sum(times_u.values()), sum(times_t.values()), "1 pass"


WORKLOADS = {w.name: w for w in (Ingest, QueryMix)}
