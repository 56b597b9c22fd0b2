"""Driver-contract invariants: the registry and oracle dict stay
consistent (every oracle key registered, no stray oracles, callables
importable) — catches wiring mistakes before the driver does."""

import pytest

import __spark_entry__ as entry


def test_every_oracle_key_is_registered():
    qs = entry.queries()
    orphans = [k for k in entry.oracle_sql() if k not in qs]
    assert orphans == [], f"oracles without queries: {orphans}"


def test_rows_only_keys_are_the_documented_set():
    qs = set(entry.queries())
    rows_only = qs - set(entry.oracle_sql())
    # embed_ann_ivf / ivf_probe_curve / part_pagerank left this set
    # in round 5 (exact-Lloyd/quantized-fold discipline);
    # text_features left in round 6 (stats from a native tokenizer
    # projection, the IDF fit staged as a side artifact);
    # mmr_diversify left in round 7 (pico-quantized sims make the
    # 8-step greedy replayable as chained argmax CTEs).
    assert rows_only == {
        "approx_quantiles",
        "approx_profile",
        "multimodal_features",
        "embed_pca_top",
    }, f"unexpected rows-only keys: {sorted(rows_only)}"


def test_oracle_key_defined_twice_fails():
    """Two family dicts defining one key must not merge silently."""
    with pytest.raises(ValueError, match="defined twice: \\['k'\\]"):
        entry._merge_oracles({"k": "SELECT 1"}, {"j": "SELECT 2", "k": "SELECT 3"})


def test_all_query_callables_are_callable():
    assert all(callable(fn) for fn in entry.queries().values())
    assert len(entry.queries()) >= 174


def test_oracle_sql_is_nonempty_select():
    for k, sql in entry.oracle_sql().items():
        s = sql.strip().upper()
        assert s.startswith(("SELECT", "WITH")), k


def test_plans_audit_covers_every_registered_key():
    """PLANS.md (scripts/explain_audit.py output) must hold one plan
    section per registered query — the every-key explain-audit
    invariant (VERDICT r2 item 4)."""
    import os
    import re

    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    sections = set(re.findall(r"^## (\S+)", open(path).read(), re.M))
    registered = set(entry.queries())
    missing = registered - sections
    stale = sections - registered
    assert not missing, f"PLANS.md missing sections: {sorted(missing)}"
    assert not stale, f"PLANS.md stale sections: {sorted(stale)}"


def test_survey_status_counts_match_registry():
    """SURVEY §2's STATUS paragraph must carry the live registry
    numbers (VERDICT r7 item 7) — same pin pattern as the PLANS.md
    section-count test, so the header can never silently go stale
    again."""
    import os
    import re

    path = os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    text = open(path).read()
    m = re.search(r"STATUS: all (\d+) query keys", text)
    assert m, "SURVEY.md lost its STATUS sentence"
    assert int(m.group(1)) == len(entry.queries())
    m2 = re.search(r"(\d+)\s*\nrows-only by nature", text) or re.search(
        r"and (\d+)\s*rows-only by nature", text
    )
    assert m2, "SURVEY.md STATUS lost its rows-only count"
    assert int(m2.group(1)) == len(set(entry.queries()) - set(entry.oracle_sql()))


def test_fast_funnel_sweep_over_pinned_plans_is_clean():
    """The sub-second plan-smell gate (funnel_sweep --plans): every
    PLANS.md pinned formatted plan must scan clean — no
    empty/low-cardinality window partition without a provable bound,
    no CartesianProduct outside the broadcast-scalar idiom. The
    live-plan twin (tests/test_scale_paths.py::
    test_registry_wide_funnel_sweep) stays the round-close gate;
    this one makes plan smells surface on every pytest run without
    building 481 live plans."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(__file__), "..", "scripts"),
    )
    import funnel_sweep as fs

    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    sections = fs._formatted_sections(open(path).read())
    registered = set(entry.queries())
    assert registered <= set(sections)
    flagged, cartesians = [], []
    for k in sorted(registered):
        flagged.extend(fs.violations_formatted(k, sections[k]))
        cartesians.extend(fs.join_smells(k, sections[k]))
    assert not flagged, f"pinned-plan funnels: {flagged[:5]}"
    assert not cartesians, f"pinned-plan cartesians: {cartesians[:5]}"
