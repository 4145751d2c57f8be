"""End-to-end streaming curation job (round-5 item 4): gate -> exact
dedup -> cross-batch near-dup rejection -> ledger MERGE, with
kill-and-restart recovery and single-batch equivalence pinned."""

from __future__ import annotations

import random
import uuid

from atlassian_confluence_data_pipeline_spark.operators.state import (
    AppendIndexStore,
    StateStore,
)
from atlassian_confluence_data_pipeline_spark.streaming.jobs import (
    foreach_batch_curation,
)

BASE = " ".join(f"w{i:02d}" for i in range(1, 21))  # 20 distinct words
NEAR_OF_BASE = BASE.replace("w10", "x10")  # J(1,3) ~ 0.714
NEAR_OF_NEAR = NEAR_OF_BASE.replace("w16", "y16")  # J(3,5) ~ 0.714, J(1,5) = 0.5
DUP = "apple banana cherry date elderberry fig grape honeydew"

#: (file, rows) — arrival order is doc_id order inside each dup group,
#: which is the job's documented equivalence contract
BATCHES = [
    [(1, BASE), (2, "too short"), (10, DUP)],
    [(3, NEAR_OF_BASE), (11, DUP), (20, "red orange yellow green blue indigo violet gray")],
    [(5, NEAR_OF_NEAR), (30, "north south east west up down left right")],
]


def _run_stream(spark, tmp_path, tag, files, checkpoint=None, compact_every=None):
    """Run the curation job availableNow over the files currently in
    the drop dir; returns the three stores."""
    return _run_query(spark, tmp_path, tag, files, checkpoint, compact_every)[1]


def _run_query(spark, tmp_path, tag, files, checkpoint=None, compact_every=None):
    """:func:`_run_stream`, also returning the finished query."""
    drop = tmp_path / f"drop_{tag}"
    drop.mkdir(exist_ok=True)
    for i, rows in files:
        dest = drop / f"batch{i}.parquet"
        if not dest.exists():
            spark.createDataFrame(rows, "doc_id bigint, text string") \
                .coalesce(1).write.parquet(str(dest))
    stores = (
        StateStore(str(tmp_path / f"ledger_{tag}")),
        AppendIndexStore(str(tmp_path / f"seen_{tag}")),
        AppendIndexStore(str(tmp_path / f"index_{tag}")),
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(drop) + "/*.parquet")
    )
    q = (
        foreach_batch_curation(
            stream, *stores, str(tmp_path / f"pairs_{tag}"),
            gate_min_words=5, jaccard=0.6, compact_every=compact_every,
        )
        .option(
            "checkpointLocation",
            checkpoint or str(tmp_path / f"ck_{tag}_{uuid.uuid4().hex[:6]}"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q, stores


def _ledger_rows(spark, store):
    return sorted(
        (r["id"], r["title"], r["space_key"], r["version"], r["last_modified"])
        for r in store.read(spark).collect()
    )


def test_streaming_curation_restart_recovery_equals_batch(spark, tmp_path):
    # --- streaming run with two kills: batch 1, restart for batch 2,
    # restart for batch 3 (same checkpoint + stores each time, like a
    # crashed-and-relaunched job)
    ck = str(tmp_path / "ck_stream")
    stores = _run_stream(spark, tmp_path, "s", [(1, BATCHES[0])], checkpoint=ck)
    mid = _ledger_rows(spark, stores[0])
    assert [r[0] for r in mid] == ["1", "10"]  # gate dropped doc 2
    _run_stream(spark, tmp_path, "s", [(1, BATCHES[0]), (2, BATCHES[1])], checkpoint=ck)
    _run_stream(
        spark, tmp_path, "s",
        [(1, BATCHES[0]), (2, BATCHES[1]), (3, BATCHES[2])],
        checkpoint=ck,
    )
    stream_ledger = _ledger_rows(spark, stores[0])

    # --- batch reference: same rows, one micro-batch, fresh stores
    all_rows = [r for b in BATCHES for r in b]
    batch_stores = _run_stream(spark, tmp_path, "b", [(1, all_rows)])
    batch_ledger = _ledger_rows(spark, batch_stores[0])

    # byte-identical ledgers; the expected curation outcome
    assert stream_ledger == batch_ledger
    assert [r[0] for r in stream_ledger] == ["1", "10", "20", "30"]
    assert all(r[4] == "1970-01-01T00:00:00" for r in stream_ledger)
    by_id = {r[0]: r for r in stream_ledger}
    assert by_id["1"][3] == 20  # version = word count
    assert by_id["10"][3] == 8

    # near-dup pair evidence (dedup-on-read, at-least-once contract)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(str(tmp_path / "pairs_s")).distinct().collect()
    }
    assert (1, 3) in pairs and (3, 5) in pairs
    assert (1, 5) not in pairs  # J = 0.5 < 0.6: chain, not clique


def test_streaming_curation_replay_is_noop(spark, tmp_path):
    """Re-running every batch against the SAME stores with a fresh
    checkpoint (full replay — the worst-case recovery) must not change
    the ledger or grow the indexes."""
    ck = str(tmp_path / "ck1")
    files = [(i + 1, b) for i, b in enumerate(BATCHES)]
    stores = _run_stream(spark, tmp_path, "r", files, checkpoint=ck)
    SEEN = "doc_id bigint, fp string"
    IDX = "doc_id bigint, hs array<bigint>, band_key bigint"
    before = _ledger_rows(spark, stores[0])
    seen_before = stores[1].read(spark, SEEN).count()
    idx_before = stores[2].read(spark, IDX).count()
    # fresh checkpoint -> all three files reprocessed against warm stores
    _run_stream(spark, tmp_path, "r", files, checkpoint=str(tmp_path / "ck2"))
    assert _ledger_rows(spark, stores[0]) == before
    assert stores[1].read(spark, SEEN).count() == seen_before
    assert stores[2].read(spark, IDX).count() == idx_before


def test_streaming_curation_with_compaction_equals_batch(spark, tmp_path):
    """compact_every=1 (fold after every trigger, keep_recent=1): the
    ledger stays byte-identical to the uncompacted batch reference, the
    index partition count stays bounded, and a full replay against the
    compacted stores is still a no-op (replays of folded batches are
    invisible by watermark)."""
    import os

    ck = str(tmp_path / "ck_c1")
    files = [(i + 1, b) for i, b in enumerate(BATCHES)]
    # kill/restart between every batch, compacting as we go
    for upto in range(1, len(files) + 1):
        stores = _run_stream(
            spark, tmp_path, "c", files[:upto], checkpoint=ck, compact_every=1
        )
    compacted_ledger = _ledger_rows(spark, stores[0])

    batch_stores = _run_stream(spark, tmp_path, "cb", [(1, [r for b in BATCHES for r in b])])
    assert compacted_ledger == _ledger_rows(spark, batch_stores[0])

    # bounded partitions: at most keep_recent batch dirs + 1 compacted
    for st in (stores[1], stores[2]):
        batch_dirs = [d for d in os.listdir(st.path) if d.startswith("batch=")]
        comp_dirs = [d for d in os.listdir(st.path) if d.startswith("compacted-")]
        assert len(batch_dirs) <= 1 and len(comp_dirs) == 1

    # full replay (fresh checkpoint, same stores) after compaction
    SEEN = "doc_id bigint, fp string"
    IDX = "doc_id bigint, hs array<bigint>, band_key bigint"
    seen_before = stores[1].read(spark, SEEN).count()
    idx_before = stores[2].read(spark, IDX).count()
    _run_stream(
        spark, tmp_path, "c", files,
        checkpoint=str(tmp_path / "ck_c2"), compact_every=1,
    )
    assert _ledger_rows(spark, stores[0]) == compacted_ledger
    assert stores[1].read(spark, SEEN).count() == seen_before
    assert stores[2].read(spark, IDX).count() == idx_before


def _planted_batches(seed: int = 11, n_batches: int = 3, n_orig: int = 8):
    """Seeded drops with planted duplicates, in doc_id arrival order.
    Every batch holds ``n_orig`` random 40-60-word originals (10k-token
    vocabulary, so they share almost no shingles), one gated doc, and an
    exact and a near copy of an original from the SAME batch; every later
    batch adds an exact and a near copy of an original from an EARLIER
    batch. A near copy swaps one word near the end (shingle Jaccard
    >= 0.85). Returns (batches, exact ids, near ids, gated ids, the
    planted near pairs)."""
    rng = random.Random(seed)

    def words(lo, hi):
        return [f"t{rng.randrange(10_000)}" for _ in range(rng.randint(lo, hi))]

    texts: dict[int, str] = {}
    batches, exact, near, gated, near_pairs = [], set(), set(), set(), set()
    doc_id = 0
    for b in range(n_batches):
        rows, batch_orig = [], []

        def add(text):
            nonlocal doc_id
            doc_id += 1
            rows.append((doc_id, text))
            return doc_id

        earlier = sorted(texts)
        for _ in range(n_orig):
            i = add(" ".join(words(40, 60)))
            texts[i] = rows[-1][1]
            batch_orig.append(i)
        gated.add(add(" ".join(words(1, 4))))
        sources = [rng.choice(batch_orig)] + ([rng.choice(earlier)] if earlier else [])
        for src in sources:
            exact.add(add(texts[src]))
            w = texts[src].split()
            w[len(w) - rng.randint(2, 5)] = f"edit{doc_id}"
            near_pairs.add((src, add(" ".join(w))))
            near.add(doc_id)
        batches.append(rows)
    return batches, exact, near, gated, near_pairs


def test_streaming_curation_rejects_planted_duplicates(spark, tmp_path):
    """Three seeded drops with exact and near copies planted inside a
    batch and across batches, plus gated docs: no planted copy is
    accepted, every original is, each planted near pair is verified, and
    the ledger equals the single-batch run of the same rows."""
    batches, exact, near, gated, near_pairs = _planted_batches()
    files = [(i + 1, b) for i, b in enumerate(batches)]
    stores = _run_stream(spark, tmp_path, "p", files, compact_every=1)
    ledger = _ledger_rows(spark, stores[0])

    all_ids = {r[0] for b in batches for r in b}
    assert {int(r[0]) for r in ledger} == all_ids - exact - near - gated
    pairs = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(str(tmp_path / "pairs_p")).collect()
    }
    assert near_pairs <= pairs

    one = _run_stream(spark, tmp_path, "p1", [(1, [r for b in batches for r in b])])
    assert ledger == _ledger_rows(spark, one[0])


#: Spark jobs one curation micro-batch may issue. The job materializes
#: the batch's features and band rows once and reads them everywhere;
#: re-deriving them per consumer (gate, fingerprint, MinHash, index
#: re-reads) costs about 40 jobs per batch.
MAX_JOBS_PER_BATCH = 28


def test_streaming_curation_jobs_per_batch_ceiling(spark, tmp_path):
    batches = _planted_batches()[0]
    files = [(i + 1, b) for i, b in enumerate(batches)]
    q, _ = _run_query(spark, tmp_path, "j", files, compact_every=1)
    n_batches = len(q.recentProgress)
    assert n_batches == len(batches)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) / n_batches <= MAX_JOBS_PER_BATCH
