"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The engine under test only ever sees the files written here.

- :func:`write_pages_lifecycle` — one Confluence corpus (FIXTURES.md §B
  ``pages`` shape) as a day-0 snapshot plus daily snapshots in which about
  1% of pages carry a new version, with planted NULL bodies and a few
  ledger-missing ids per day for the reconciliation sweep.
- :func:`write_stream_drops` — document drop files for the streaming
  curation job, with planted exact and high-Jaccard near duplicates.
- :func:`write_query_tables` — the ten catalog tables (TPC-H-ish star
  schema, ``events``, ``documents``, ``embeddings``) the registry
  queries read.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the a fast slow key order sort table scan merge part window small big "
    "hash join batch stream spark group query row data filter customer line "
    "value agg column vector page space macro image index ledger version"
).split()

DAY0 = datetime(2025, 3, 1, tzinfo=timezone.utc)

CHURN = 0.01  # share of pages with a new version each day
MISSING_PER_DAY = 3  # pages dated before the cutoff that only the ledger anti-join finds
NULL_FRAC = 0.005  # NULL bodies (five times as many among changed versions)
N_SPACES = 12
EXACT_FRAC = NEAR_FRAC = 0.05  # planted duplicates in the curation drops
GATE_MIN_WORDS = 5

PAGES_SCHEMA = pa.schema(
    [
        pa.field("id", pa.string(), nullable=False),
        ("title", pa.string()),
        ("space", pa.struct([("key", pa.string())])),
        (
            "version",
            pa.struct([("number", pa.int32()), ("when", pa.timestamp("us", tz="UTC"))]),
        ),
        ("body", pa.struct([("storage", pa.struct([("value", pa.string())]))])),
        ("children", pa.list_(pa.struct([("id", pa.string())]))),
        ("ancestors", pa.list_(pa.struct([("id", pa.string())]))),
    ]
)


def _write(table: pa.Table, path: str) -> None:
    """Deterministic single-file parquet write (no wall-clock metadata)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# refresh: Confluence pages lifecycle
# ---------------------------------------------------------------------------


def _words(rnd: random.Random, n: int) -> str:
    return " ".join(rnd.choices(WORDS, k=n))


def make_body(rnd: random.Random) -> str:
    """Confluence storage-format body with a heavy-tailed block count:
    paragraphs plus script/style blocks, ``ac:image`` (attachment and URL
    forms, aligned and titled), code macros with CDATA, and stray CDATA."""
    n_blocks = min(200, 1 + int(rnd.lognormvariate(1.4, 0.9)))
    out = []
    for _ in range(n_blocks):
        kind = rnd.random()
        if kind < 0.55:
            out.append(f"<p>{_words(rnd, rnd.randint(8, 40))}</p>")
        elif kind < 0.63:
            out.append(
                '<script type="text/javascript">var n = '
                f"{rnd.randint(0, 999)}; track(n);</script>"
            )
        elif kind < 0.68:
            out.append(f"<style>.c{rnd.randint(0, 99)} {{ color: red; }}</style>")
        elif kind < 0.80:
            align = rnd.choice(["", "center", "left", "right"])
            title = rnd.choice(["", f"Figure {rnd.randint(1, 9)}"])
            attrs = (f' ac:align="{align}"' if align else "") + (
                f' ac:title="{title}"' if title else ""
            )
            if rnd.random() < 0.7:
                ref = f'<ri:attachment ri:filename="img-{rnd.randint(0, 999)}.png" />'
            else:
                ref = f'<ri:url ri:value="https://img.example.org/{rnd.randint(0, 999)}.png" />'
            out.append(f"<ac:image{attrs}>{ref}</ac:image>")
        elif kind < 0.94:
            lang = rnd.choice(["python", "java", "sql", ""])
            param = (
                f'<ac:parameter ac:name="language">{lang}</ac:parameter>' if lang else ""
            )
            code = "\n".join(
                f"x{i} = {rnd.randint(0, 99)} < {rnd.randint(0, 99)} && y"
                for i in range(rnd.randint(1, 12))
            )
            out.append(
                f'<ac:structured-macro ac:name="code">{param}'
                f"<ac:plain-text-body><![CDATA[{code}]]></ac:plain-text-body>"
                "</ac:structured-macro>"
            )
        else:
            out.append(f"<div><![CDATA[{_words(rnd, 5)}]]></div>")
    return "".join(out)


def _title(rnd: random.Random, i: int) -> str:
    kind = rnd.random()
    if kind < 0.01:  # >200-char titles exercise filename truncation
        return _words(rnd, 60).title()
    if kind < 0.2:  # separators and reserved characters to sanitize
        return f"{_words(rnd, 2).title()}: {rnd.choice(['a/b', 'x?y', 'q*r', 'v1.2'])} #{i}"
    return _words(rnd, rnd.randint(2, 6)).title()


@dataclass
class PageState:
    pid: str
    title: str
    space: str
    version: int
    when: datetime
    body: str | None


@dataclass
class Lifecycle:
    """What the generator knows about the corpus it wrote: the paths of
    the day snapshots, the expected ledger after each day, which pages
    change on each day and which of those carry a NULL body."""

    days: list[str] = field(default_factory=list)  # snapshot dirs, day 0 first
    cutoffs: list[str] = field(default_factory=list)
    expected: list[dict[str, int]] = field(default_factory=list)
    changed: list[int] = field(default_factory=list)  # pages processed on day d
    null_changed: list[int] = field(default_factory=list)


def _pages_table(pages: list[PageState]) -> pa.Table:
    rows = {
        "id": [p.pid for p in pages],
        "title": [p.title for p in pages],
        "space": [{"key": p.space} for p in pages],
        "version": [{"number": p.version, "when": p.when} for p in pages],
        "body": [{"storage": {"value": p.body}} for p in pages],
        "children": [[] for _ in pages],
        "ancestors": [
            [{"id": pages[int(p.pid) % 97].pid}] if int(p.pid) % 5 else [] for p in pages
        ],
    }
    return pa.Table.from_pydict(rows, schema=PAGES_SCHEMA)


def write_pages_lifecycle(seed: int, root: str, n_pages: int, n_days: int) -> Lifecycle:
    """Write ``n_days + 1`` full corpus snapshots under ``root``.

    Day 0 is the backfill corpus (every page dated within the year before
    ``DAY0``). Each later day bumps the version of ``CHURN`` of the pages,
    dated inside that day (every tenth exactly at midnight, the inclusive
    cutoff boundary), and adds ``MISSING_PER_DAY`` pages dated BEFORE the
    cutoff, which only the reconciliation sweep (ledger anti-join) can
    find. About ``NULL_FRAC`` of written bodies are NULL. Space sizes are
    Zipf-skewed.
    """
    rnd = random.Random(seed)
    weights = [1.0 / (r + 1) ** 1.1 for r in range(N_SPACES)]
    spaces = [f"SP{r:02d}" for r in range(N_SPACES)]

    def new_page(i: int, when: datetime) -> PageState:
        body = None if rnd.random() < NULL_FRAC else make_body(rnd)
        return PageState(
            pid=str(100000 + i),
            title=_title(rnd, i),
            space=rnd.choices(spaces, weights)[0],
            version=rnd.randint(1, 5),
            when=when,
            body=body,
        )

    pages = [
        new_page(i, DAY0 - timedelta(seconds=rnd.randint(1, 365 * 86400)))
        for i in range(n_pages)
    ]
    life = Lifecycle()
    for day in range(n_days + 1):
        midnight = DAY0 + timedelta(days=day)
        if day == 0:
            changed = len(pages)
            null_changed = sum(p.body is None for p in pages)
        else:
            picks = rnd.sample(range(len(pages)), max(1, round(CHURN * n_pages)))
            null_changed = 0
            for k, idx in enumerate(picks):
                p = pages[idx]
                p.version += rnd.randint(1, 2)
                p.when = midnight + timedelta(
                    seconds=0 if k % 10 == 0 else rnd.randint(1, 86399)
                )
                p.body = None if rnd.random() < 5 * NULL_FRAC else make_body(rnd)
                null_changed += p.body is None
            before = len(pages)
            for j in range(MISSING_PER_DAY):
                late = new_page(before + j, midnight - timedelta(days=rnd.randint(2, 300)))
                pages.append(late)
                null_changed += late.body is None
            changed = len(picks) + MISSING_PER_DAY
        path = os.path.join(root, f"day={day:03d}", "pages.parquet")
        _write(_pages_table(pages), path)
        life.days.append(os.path.dirname(path))
        life.cutoffs.append(midnight.strftime("%Y-%m-%d"))
        life.expected.append({p.pid: p.version for p in pages})
        life.changed.append(changed)
        life.null_changed.append(null_changed)
    return life


# ---------------------------------------------------------------------------
# stream_curation: document drops with planted duplicates
# ---------------------------------------------------------------------------


@dataclass
class DropSet:
    """Drop files plus the generator's ground truth: doc ids planted as
    exact copies / high-Jaccard near copies of an EARLIER doc, and ids
    below the quality gate."""

    files: list[str] = field(default_factory=list)
    n_docs: int = 0
    exact_dups: set[int] = field(default_factory=set)
    near_dups: set[int] = field(default_factory=set)
    gated: set[int] = field(default_factory=set)


def write_stream_drops(seed: int, root: str, n_drops: int, docs_per_drop: int) -> DropSet:
    """Write ``n_drops`` parquet drop files of ``(doc_id bigint, text
    string)``; doc ids increase with drop order (the curation job's
    keep-first contract). A planted exact duplicate repeats an earlier
    text verbatim; a planted near duplicate rewrites one word near the
    end of a 40-80-word earlier text, keeping shingle Jaccard >= 0.85.
    Base texts draw 30-80 words from a 10k-token vocabulary, so unplanted
    pairs share almost no shingles. About 1% of docs fall below the gate."""
    rnd = random.Random(seed)
    vocab = [f"t{i:04d}" for i in range(10000)]
    originals: list[tuple[int, list[str]]] = []
    out = DropSet()
    doc_id = 0
    for d in range(n_drops):
        ids, texts = [], []
        for _ in range(docs_per_drop):
            r = rnd.random()
            if originals and r < EXACT_FRAC:
                words = list(rnd.choice(originals)[1])
                out.exact_dups.add(doc_id)
            elif originals and r < EXACT_FRAC + NEAR_FRAC:
                src = rnd.choice(originals)[1]
                words = list(src)
                pos = len(words) - 1 - rnd.randrange(3)
                words[pos] = f"n{doc_id}"
                out.near_dups.add(doc_id)
            elif r < EXACT_FRAC + NEAR_FRAC + 0.01:
                words = rnd.choices(vocab, k=rnd.randint(1, GATE_MIN_WORDS - 1))
                out.gated.add(doc_id)
            else:
                words = rnd.choices(vocab, k=rnd.randint(40, 80))
                originals.append((doc_id, words))
            ids.append(doc_id)
            texts.append(" ".join(words))
            doc_id += 1
        path = os.path.join(root, f"drop-{d:04d}.parquet")
        _write(
            pa.table(
                {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
            ),
            path,
        )
        out.files.append(path)
    out.n_docs = doc_id
    return out


# ---------------------------------------------------------------------------
# query_mix: the catalog tables
# ---------------------------------------------------------------------------


def _ts(days: np.ndarray, base: str) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + days.astype("timedelta64[D]"), pa.timestamp("us"))


def write_query_tables(seed: int, root: str) -> str:
    """Write the ten catalog tables of ``catalog.TABLES`` under ``root``
    (``{root}/{name}.parquet``): 6k customers, 60k orders, 240k
    lineitems, 40k events, 500 documents and 500 64-d unit embeddings,
    four times the sf0.01 fixtures' row counts. About 5% of documents are
    planted near copies of an earlier one."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 6000, 400, 8000
    n_ord, n_line, n_ev = 60000, 240000, 40000
    n_doc = n_emb = 500

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["old", "new", "hot", "cold", "red", "blue", "small", "large"], n_part),
                        rng.choice(["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "gizmo"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000.0, 500000.0, n_ord),
                "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": money(900.0, 105000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _ts(rng.integers(0, 2498, n_line), "1995-01-02"),
            }
        ),
    }
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = WORDS[:30] + ["dup"]
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(vocab[:30], int(rng.integers(8, 91))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in tables.items():
        _write(table, os.path.join(root, f"{name}.parquet"))
    return root
