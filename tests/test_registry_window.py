"""The driver records correctness for only the first 50 registrations.

Round 2's verdict: 22 of 72 queries — including the sole coverage for
SURVEY rows J6, P9, P10, P12, F12, S2, S4/S5, S7 — fell past that window
and had no official correctness row.  These tests make the window a
checked invariant instead of an accident of import order.
"""

from tijdloze_musicbrainz_spark.plans import REGISTRY
from tijdloze_musicbrainz_spark.plans.priority import (
    DRIVER_WINDOW,
    DRIVER_WINDOW_SIZE,
)

# Queries the round-2 verdict named as "Done =" evidence for next round.
MUST_BE_IN_WINDOW = {
    "j6_edge_traversal",
    "p9_nonequi_join_predicate",
    "p10_parameterized_filters",
    "p12_exact_key_match",
    "f12_ci_startswith",
    "s2_csv_golden_roundtrip",
    "s5_append_sink_roundtrip",
    "s7_upsert_roundtrip",
    "sql_api_q6",
    "mb_pipeline_canonical_e2e",
    "mb_pipeline_artist_aliases_e2e",
    "benchmark_accuracy_replay_e2e",
}


def window_names() -> list[str]:
    return list(REGISTRY)[:DRIVER_WINDOW_SIZE]


def test_driver_window_fits():
    assert len(DRIVER_WINDOW) <= DRIVER_WINDOW_SIZE


def test_driver_window_names_all_registered():
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    assert not missing, f"DRIVER_WINDOW names not registered: {missing}"


def test_registry_leads_with_driver_window():
    assert window_names()[: len(DRIVER_WINDOW)] == list(DRIVER_WINDOW)


def test_verdict_must_haves_inside_window():
    window = set(window_names())
    missing = MUST_BE_IN_WINDOW - window
    assert not missing, f"verdict 'Done =' queries outside driver window: {missing}"


def test_window_carries_full_survey_coverage():
    """Every SURVEY id claimed anywhere must have a carrier inside the window.

    This is the structural fix for round 2's #1 finding: queries past the
    window may only be redundant micro-queries, never the sole coverage for
    an operator row.
    """
    all_ids = set()
    for spec in REGISTRY.values():
        all_ids.update(spec.survey_ids)
    window_ids = set()
    for name in window_names():
        window_ids.update(REGISTRY[name].survey_ids)
    uncovered = all_ids - window_ids
    assert not uncovered, f"SURVEY ids with no in-window carrier: {sorted(uncovered)}"


def test_window_queries_all_have_oracles():
    """Every in-window query is oracle-checked — since round 4 the two ANN
    queries carry exact DuckDB twins (engine-neutral integer hyperplanes /
    SQL-expressible centroid assignment), so there are NO rows-only
    exceptions left inside the driver window."""
    rows_only = {n for n in window_names() if REGISTRY[n].oracle is None}
    assert not rows_only, f"unexpected rows-only in window: {rows_only}"


def test_doc_counts_match_registry():
    """The judged docs must not lag the registry (r14 verdict item 6:
    SURVEY.md §8 said '215 queries' for six rounds while the registry
    stood at 240). Every doc that states the registry size must state
    the full count — README, COVERAGE, QUERIES, and SURVEY §8 — which
    is the live registry plus the golden-CSV-gated queries a checkout
    without the reference CSV does not register. The gated set
    registers all together or not at all, exactly when the CSV is
    present."""
    import os
    import re

    from tijdloze_musicbrainz_spark.plans.benchmark_real import (
        CSV_GATED,
        REAL_CSV_PRESENT,
    )

    registered = [q for q in CSV_GATED if q in REGISTRY]
    assert registered == (list(CSV_GATED) if REAL_CSV_PRESENT else []), (
        registered
    )
    n = len(REGISTRY) + len(CSV_GATED) - len(registered)
    root = os.path.join(os.path.dirname(__file__), "..")
    expectations = {
        "README.md": rf"\b{n} registered queries\b",
        "COVERAGE.md": rf"\*\*{n} registered queries",
        "QUERIES.md": rf"^{n} queries;",
        "SURVEY.md": rf"\bstands at {n} queries\b",
    }
    stale = []
    for fname, pattern in expectations.items():
        with open(os.path.join(root, fname)) as f:
            if not re.search(pattern, f.read(), re.MULTILINE):
                stale.append(fname)
    assert not stale, (
        f"docs with a stale registry count (expected {n}): {stale}"
    )


def test_no_rows_only_anywhere():
    """r4c: the volume bench mb_pipeline_scale gained its full SQL twin,
    so the ENTIRE registry is oracle-checked — pin it so a future
    registration without an oracle is a conscious decision, not drift."""
    rows_only = {n for n, s in REGISTRY.items() if s.oracle is None}
    assert not rows_only, f"rows-only queries appeared: {rows_only}"
