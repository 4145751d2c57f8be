"""Output checks. Each takes plain Python values (no Spark), so the
benchmark's tests can feed it corrupted outputs; each returns a list of
problems, empty when the output is correct."""

from __future__ import annotations


def check_ledger(actual: dict[str, int], expected: dict[str, int]) -> list[str]:
    """The ledger after a refresh equals the generator's id -> version map."""
    problems = []
    missing = expected.keys() - actual.keys()
    extra = actual.keys() - expected.keys()
    if missing:
        problems.append(f"{len(missing)} ids missing from ledger, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected ledger ids, e.g. {sorted(extra)[:3]}")
    wrong = [k for k in expected.keys() & actual.keys() if actual[k] != expected[k]]
    if wrong:
        k = sorted(wrong)[0]
        problems.append(
            f"{len(wrong)} ids at the wrong version, e.g. {k}: {actual[k]} != {expected[k]}"
        )
    return problems


def check_refresh_counts(
    metrics: dict, files_published: int, changed: int, null_changed: int
) -> list[str]:
    """One refresh's Observation counters against the generator: every
    changed page is processed and published, and n_failed_html equals the
    planted NULL bodies among them."""
    problems = []
    n_pages = metrics.get("n_pages")
    if n_pages != changed:
        problems.append(f"n_pages {n_pages} != changed pages {changed}")
    if files_published != n_pages:
        problems.append(f"published files {files_published} != n_pages {n_pages}")
    if metrics.get("n_failed_html") != null_changed:
        problems.append(
            f"n_failed_html {metrics.get('n_failed_html')} != planted NULL bodies {null_changed}"
        )
    return problems


def check_noop_rerun(metrics: dict) -> list[str]:
    """Re-running with no new versions processes no page."""
    n = metrics.get("n_pages")
    return [] if n == 0 else [f"re-run processed {n} pages, expected 0"]


def check_curation(
    accepted: set[int],
    drained: set[int],
    exact_dups: set[int],
    near_dups: set[int],
    gated: set[int],
) -> list[str]:
    """Streaming curation outcome over the drained doc ids: no planted
    exact or near duplicate is accepted, and the ledger holds exactly the
    drained originals (every doc neither planted nor below the gate)."""
    problems = []
    bad_exact = accepted & exact_dups
    bad_near = accepted & near_dups
    if bad_exact:
        problems.append(f"{len(bad_exact)} planted exact duplicates accepted")
    if bad_near:
        problems.append(f"{len(bad_near)} planted near duplicates accepted")
    expected = drained - exact_dups - near_dups - gated
    if len(accepted) != len(expected):
        problems.append(f"ledger rows {len(accepted)} != expected accepted {len(expected)}")
    elif accepted != expected:
        problems.append("ledger ids differ from the expected accepted ids")
    return problems


def check_row_counts(counts: dict[str, list[int]]) -> list[str]:
    """Every query returns the same row count on every pass."""
    return [
        f"{name}: row counts differ across passes {sorted(set(c))}"
        for name, c in sorted(counts.items())
        if len(set(c)) > 1
    ]
