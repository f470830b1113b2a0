"""Pin the query-registry gate ordering.

The driver's correctness gate samples the FIRST 50 entries of
``queries()`` in insertion order (proven in round 3: the checked set was
exactly ``list(QUERY_BUILDERS)[:50]``).  Round-5 policy (VERDICT r4
Next-round #3): positions 0-24 are the 25 queries the driver never
sampled in r1-r4, 25-26 the two re-gated r4 driver-red fixes, 27-44 the
round-5 additions, then representative core.  These tests pin that
ordering so a future registration can't silently push an unchecked
operator out of the gate.
"""

from pink_spider_spark.queries import (ORACLES, QUERY_BUILDERS,
                                       VERIFIER_ONLY, _GATE_FIRST)

NEVER_DRIVER_CHECKED_R4 = (
    "docs_winnow_fingerprints", "docs_nb_langid", "graph_trustrank",
    "graph_kcore", "graph_hyperball", "graph_harmonic_exact",
    "graph_salsa", "graph_adamic_adar", "graph_assortativity",
    "graph_bfs_hops", "graph_eff_diameter", "frontier_surt_keys",
    "events_funnel", "events_retention_cohorts", "events_benford",
    "events_cusum_peak", "docs_rake_keywords", "docs_rendezvous_shards",
    "docs_bpe_pretokens", "docs_encoding_signals", "docs_entropy_signals",
    "docs_heaps_fit", "docs_yule_richness", "docs_minhash_jaccard_est",
    "part_fuzzy_name_pairs")

REGATED_R4_FIXES = ("docs_token_shards", "emb_pq_codes")

ROUND5_ADDITIONS = ("frontier_freshness_priority", "frontier_trap_filter",
                    "events_mann_kendall", "events_load_gini",
                    "docs_good_turing", "graph_reciprocity",
                    "docs_flesch_reading", "docs_llr_collocations",
                    "events_ab_ztest", "docs_term_burstiness",
                    "docs_source_kl", "events_assoc_rules",
                    "graph_rank_tau", "docs_posting_gamma_bits",
                    "events_audience_overlap_hll",
                    "events_markov_transitions", "events_kaplan_meier",
                    "events_hourly_acf")


def test_gate_window_holds_never_driver_checked_queries():
    first50 = list(QUERY_BUILDERS)[:50]
    assert len(NEVER_DRIVER_CHECKED_R4) == 25
    missing = [n for n in NEVER_DRIVER_CHECKED_R4 if n not in first50]
    assert not missing, f"never-driver-checked outside the gate: {missing}"
    # and they lead the window so partial samples still cover them
    assert set(first50[:25]) == set(NEVER_DRIVER_CHECKED_R4)


def test_gate_window_holds_regated_fixes_and_round5_additions():
    first50 = list(QUERY_BUILDERS)[:50]
    for name in REGATED_R4_FIXES + ROUND5_ADDITIONS:
        assert name in first50, f"{name} outside the first-50 gate"


def test_gate_first_is_exactly_the_window_prefix():
    assert list(QUERY_BUILDERS)[: len(_GATE_FIRST)] == _GATE_FIRST


def test_registry_and_oracles_aligned():
    assert set(ORACLES) == set(QUERY_BUILDERS)
    assert list(ORACLES) == list(QUERY_BUILDERS)
    # every gate-window query except the stateful crawl has a SQL oracle
    for name in list(QUERY_BUILDERS)[:50]:
        if name == "crawl_two_waves":
            continue
        assert ORACLES[name] is not None, f"{name} has no oracle SQL"


def test_no_duplicate_names():
    assert len(_GATE_FIRST) == len(set(_GATE_FIRST))
    # the surface only ever grows (round-4 close: 123 queries)
    assert len(QUERY_BUILDERS) >= 125


def test_verifier_only_names_registered_queries():
    # each small-scale verifier and the scale twin it names are queries
    names = set(VERIFIER_ONLY) | set(VERIFIER_ONLY.values())
    assert names <= set(QUERY_BUILDERS), names - set(QUERY_BUILDERS)
