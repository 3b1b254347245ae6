"""Contract checks on the driver surface (__spark_entry__.py) that need
no Spark session: registry/oracle bookkeeping that used to go stale in
prose (ADVICE r06: the queries() docstring said 174 while the registry
held 193)."""

import re

import __spark_entry__ as entrymod

ROWS_ONLY_BY_DESIGN = {
    "q_kmeans_ml",            # MLlib placement RNG
    "q_events_approx_users",  # HLL++ registers
    "q_events_approx_quantiles",  # GK summaries
}


def test_registry_and_oracle_counts_match_docstring():
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    doc = entrymod.queries.__doc__
    m = re.search(r"(\d+) queries; (\d+) carry DuckDB oracles, (\d+) are", doc)
    assert m, "docstring must state the counts"
    assert int(m.group(1)) == len(qs)
    assert int(m.group(2)) == len(osql)
    assert int(m.group(3)) == len(qs) - len(set(qs) & set(osql))


def test_every_oracle_key_is_a_registered_query():
    qs = set(entrymod.queries())
    osql = set(entrymod.oracle_sql())
    assert osql <= qs, sorted(osql - qs)


def test_rows_only_set_is_exactly_the_adjudicated_three():
    qs = set(entrymod.queries())
    osql = set(entrymod.oracle_sql())
    assert qs - osql == ROWS_ONLY_BY_DESIGN


def test_window_leads_with_round15_rotation():
    """r15 window plan (VERDICT r14 item 10, exactly as the r14
    docstring planned): no new queries this optimization round, so the
    window is the next 50 stalest rows — q_dedup_minhash /
    q_dedup_simhash / q_rel_pricing (the three rows r14's budget
    displaced) lead, then q_dedup_ngram / q_dedup_twostage, ending at
    q_rel_shipping.  The r14 window's 50 rows moved to the very end
    (freshest), so the r16 window would resume at q_window_ranks."""
    order = list(entrymod.queries())
    first50 = order[:50]
    assert first50[:5] == [
        "q_dedup_minhash",
        "q_dedup_simhash",
        "q_rel_pricing",
        "q_dedup_ngram",
        "q_dedup_twostage",
    ]
    for q in (
        "q_assign",
        "q_kmeans",
        "q_dedup_threshold_hist",
        "q_dedup_crossmodal",
        "q_dedup_cc",
        "q_stream_attribution",
        "q_text_quality_train",
        "q_dedup_exact",
    ):
        assert q in first50, q
    assert first50[49] == "q_rel_shipping"
    # the tail resumes in the old stalest-first order
    assert order[50] == "q_window_ranks"
    # the freshest rows (the r14 window) sit at the very end
    assert order[-50] == "q_text_bpe_vocab_sweep"
    assert order[-1] == "q_stream_cdc"
