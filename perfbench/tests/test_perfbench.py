"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
from tracer import Recorder, Span, self_times  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- span arithmetic -------------------------------------------------------


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, None, 0)


def test_self_time_subtracts_children():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 5.0, 6.0, parent=0),
        _span("a.inner", 1.5, 2.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([7.0, 1.5, 1.0, 0.5])


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [
        _span("root", 0.0, 10.0),
        _span("x", 2.0, 5.0, parent=0),  # overlaps y (threads)
        _span("y", 4.0, 7.0, parent=0),
        _span("z", 9.0, 12.0, parent=0),  # runs past the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_self_time_never_negative_and_leaf_is_duration():
    spans = [_span("p", 0.0, 1.0), _span("c", -1.0, 2.0, parent=0)]
    assert self_times(spans) == pytest.approx([0.0, 3.0])


def test_recorder_nests_and_sums_by_name():
    rec = Recorder()
    with rec.span("outer"):
        with rec.span("inner"):
            pass
        with rec.span("inner"):
            pass
    assert [s.parent for s in rec.spans] == [None, 0, 0]
    totals = rec.self_time_by_name()
    outer = rec.spans[0].end - rec.spans[0].start
    assert totals["outer"] + totals["inner"] == pytest.approx(outer)


# -- generators ------------------------------------------------------------


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(dirpath, f), root).encode())
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize(
    "write",
    [
        lambda seed, root: gen.write_pages_lifecycle(seed, root, 200, 2),
        lambda seed, root: gen.write_stream_drops(seed, root, 2, 60),
        lambda seed, root: gen.write_query_tables(seed, root),
    ],
    ids=["pages", "drops", "tables"],
)
def test_generators_are_deterministic_per_seed(tmp_path, write):
    write(7, str(tmp_path / "a"))
    write(7, str(tmp_path / "b"))
    write(8, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def test_pages_lifecycle_ground_truth_matches_files(tmp_path):
    life = gen.write_pages_lifecycle(3, str(tmp_path), 500, 3)
    prev = None
    for day, path in enumerate(life.days):
        t = pq.read_table(os.path.join(path, "pages.parquet")).to_pylist()
        versions = {r["id"]: r["version"]["number"] for r in t}
        assert versions == life.expected[day]
        nulls = sum(r["body"]["storage"]["value"] is None for r in t)
        if day == 0:
            assert life.changed[0] == 500 and life.null_changed[0] == nulls
        else:
            bumped = [k for k in prev if versions[k] != prev[k]]
            new = versions.keys() - prev.keys()
            assert len(new) == gen.MISSING_PER_DAY
            assert life.changed[day] == len(bumped) + len(new) == 5 + gen.MISSING_PER_DAY
        prev = versions
    bodies = [r["body"]["storage"]["value"] or "" for r in t]
    joined = "".join(bodies)
    for marker in ("<script", "<style", "<ac:image", 'ac:name="code"', "<![CDATA["):
        assert marker in joined


def _shingles(text: str, n: int = 3) -> set:
    w = text.split()
    return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}


def test_stream_drops_plant_duplicates_of_earlier_docs(tmp_path):
    drops = gen.write_stream_drops(5, str(tmp_path), 3, 200)
    texts = {}
    for f in drops.files:
        t = pq.read_table(f).to_pydict()
        texts.update(zip(t["doc_id"], t["text"]))
    assert drops.n_docs == len(texts) == 600
    assert drops.exact_dups and drops.near_dups and drops.gated
    for d in drops.exact_dups:
        assert any(texts[o] == texts[d] for o in range(d))
    for d in drops.near_dups:
        best = max(
            len(_shingles(texts[o]) & _shingles(texts[d])) / len(_shingles(texts[o]) | _shingles(texts[d]))
            for o in range(d)
            if o not in drops.gated
        )
        assert best >= 0.85
    assert all(len(texts[d].split()) < gen.GATE_MIN_WORDS for d in drops.gated)


# -- BENCHMARK.json --------------------------------------------------------


def test_metric_names_and_units_are_well_formed():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME_RE.match(n) for n in names), [n for n in names if not NAME_RE.match(n)]
    assert len(names) == len(set(names))
    assert all(UNIT_RE.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])


def test_every_listed_workload_is_implemented():
    import workloads

    assert set(workloads.WORKLOADS) == {w["name"] for w in _spec()["workloads"]}


def test_benchmark_json_follows_the_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in spec["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    for p in spec["paths"]:
        assert os.path.isdir(os.path.join(ROOT, p))


# -- output checks fail on corrupted outputs -------------------------------


def test_ledger_check_catches_wrong_missing_and_extra_rows():
    expected = {"1": 3, "2": 1, "3": 7}
    assert checks.check_ledger(dict(expected), expected) == []
    assert checks.check_ledger({**expected, "2": 2}, expected)
    assert checks.check_ledger({"1": 3, "3": 7}, expected)
    assert checks.check_ledger({**expected, "9": 1}, expected)


def test_refresh_count_checks_catch_corruption():
    good = {"n_pages": 10, "n_failed_html": 2}
    assert checks.check_refresh_counts(good, 10, 10, 2) == []
    assert checks.check_refresh_counts(good, 9, 10, 2)  # a file went missing
    assert checks.check_refresh_counts(good, 10, 11, 2)  # a changed page skipped
    assert checks.check_refresh_counts({**good, "n_failed_html": 1}, 10, 10, 2)
    assert checks.check_noop_rerun({"n_pages": 0}) == []
    assert checks.check_noop_rerun({"n_pages": 3})


def test_curation_check_catches_accepted_duplicates_and_count_drift():
    drained = set(range(10))
    exact, near, gated = {3}, {5}, {7}
    ok = drained - exact - near - gated
    assert checks.check_curation(ok, drained, exact, near, gated) == []
    assert checks.check_curation(ok | {3}, drained, exact, near, gated)
    assert checks.check_curation(ok | {5}, drained, exact, near, gated)
    assert checks.check_curation(ok - {0}, drained, exact, near, gated)
    assert checks.check_curation((ok - {0}) | {42}, drained, exact, near, gated)


def test_row_count_check_catches_disagreeing_passes():
    assert checks.check_row_counts({"q": [5, 5, 5]}) == []
    assert checks.check_row_counts({"q": [5, 4]})


def test_oracle_comparison_catches_a_corrupted_result():
    from tests.oracle_compare import compare_frames

    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    assert compare_frames(oracle.copy(), oracle, "q") == []
    bad = oracle.copy()
    bad.loc[1, "v"] = 1.26
    assert compare_frames(bad, oracle, "q")
    assert compare_frames(oracle.iloc[:2], oracle, "q")
