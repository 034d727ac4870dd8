"""Physical-plan assertions: the 100 TB posture is checked, not assumed.

Each test reads the physical plan of a headline query and asserts the
plan property that matters at scale: broadcast joins for bounded sides,
no cartesian products, and no Python (BatchEvalPython /
ArrowEvalPython) in native paths.
"""

from __future__ import annotations

import pytest

from edsnlp_spark.queries import all_queries

QS = all_queries()


def plan_of(spark, sf_dir, name) -> str:
    df = QS[name][0](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_native_queries_have_no_python_stage(spark, sf_dir):
    for name in ("phrase_match_tokens", "negation_tokens",
                 "minhash_lsh_dedup",
                 "filter_spans_greedy", "dates_extraction",
                 "quantities_extraction", "simhash_fingerprints"):
        s = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s \
            and "MapInPandas" not in s, f"{name} has a Python stage"


def test_phrase_match_terms_join_is_broadcast(spark, sf_dir):
    s = plan_of(spark, sf_dir, "phrase_match_tokens")
    assert "BroadcastHashJoin" in s


def test_r2_queries_plan_shapes(spark, sf_dir):
    """Round-2 operators keep the scale posture: equi-joins (broadcast
    at this SF) for candidate generation, no cartesian products, and
    the stop-shingle capped Jaccard never goes all-pairs."""
    for name in ("ngram_jaccard_capped",
                 "drugs_lexicon_match", "quantity_operators"):
        s = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in s, f"{name} went all-pairs"
        assert "BroadcastNestedLoopJoin" not in s, f"{name} nested-loop"


def test_quantity_operators_native(spark, sf_dir):
    s = plan_of(spark, sf_dir, "quantity_operators")
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s \
        and "MapInPandas" not in s


def test_umls_scale_no_broadcast(spark, sf_dir):
    """The 200k-form lexicon tier must NOT broadcast the terms table:
    the anchor join is a shuffle-hash join (hinted), which is the only
    place a ShuffledHashJoin can appear in this plan."""
    s = plan_of(spark, sf_dir, "umls_scale_match")
    assert "ShuffledHashJoin" in s, "anchor join lost the shuffle_hash hint"
    # the terms range-generator side must not appear under a broadcast
    assert "BroadcastExchange" not in s.split("ShuffledHashJoin")[1][:2000] \
        or "Range" not in s.split("ShuffledHashJoin")[1][:500]


def test_domain_queries_native_and_broadcast(spark, sf_dir):
    # these round-3 domain queries stay JVM-side end-to-end (including
    # reported_speech: a plain quotation regex routes through the native
    # locate fold — only zero-width patterns take the exact Arrow path,
    # which is why history_qualifier is exempt: its date regexes carry
    # \b and deliberately run exact)
    for name in ("tnm_mentions", "adicap_decode", "charlson_scores",
                 "sentence_boundaries", "family_tokens",
                 "reported_speech_tokens"):
        s = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s \
            and "MapInPandas" not in s, f"{name} has a Python stage"
    # the 11 adicap dim lookups are all broadcast map-side joins
    s = plan_of(spark, sf_dir, "adicap_decode")
    assert s.count("BroadcastHashJoin") >= 11
    # the history date leg is pre-gated by the cheap digit rlike before
    # the multi-family regex pass
    s = plan_of(spark, sf_dir, "history_qualifier")
    assert "RLIKE" in s or "rlike" in s


def test_quantity_mentions_plan_shape(spark, sf_dir):
    """Mention engine: no cartesian products; the propagation windows
    partition by note_id (bounded state), and only the 64-char prefix
    window rides the shuffle, not the document text."""
    s = plan_of(spark, sf_dir, "quantity_mentions")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "__prefix" in s and "__norm" not in s.split("Window")[0]


def test_gopher_repetition_is_shuffle_free(spark, sf_dir):
    # r4: per-doc repetition stats are an in-row sorted-run fold — the
    # plan must have NO hash-partition Exchange (the old (doc, gram)
    # groupBy shuffled one row per distinct bigram).  The only allowed
    # Exchange is the round-robin repartition that spreads the small
    # local parquet split across cores.
    s = plan_of(spark, sf_dir, "gopher_repetition")
    assert "hashpartitioning" not in s
    assert "HashAggregate" not in s and "SortAggregate" not in s


def test_gopher_line_repetition_is_shuffle_free(spark, sf_dir):
    s = plan_of(spark, sf_dir, "gopher_line_repetition")
    assert "hashpartitioning" not in s
    assert "HashAggregate" not in s and "SortAggregate" not in s


def test_strip_duplicated_spans_plan_shape(spark, sf_dir):
    """r7: keeper election must be a (partial) hash aggregate on the
    window hash, never a Window.partitionBy(h) — the hot-boilerplate
    skew rule from VERDICT r6 #2 applies to the removal half too; and
    reconstruction joins LEFT so untouched docs pass through."""
    s = plan_of(spark, sf_dir, "strip_duplicated_spans")
    assert "partial_count" in s or "HashAggregate" in s
    # the only Window ops allowed are none — ranges merge via
    # collect_set, not a per-hash window
    assert "Window" not in s
    from edsnlp_spark.core import caching
    caching.release()


def test_r9_candidate_joins_are_equi_joins(spark, sf_dir):
    """r9 plan pin: the duplication profile must plan as EQUI-joins —
    a CartesianProduct or BroadcastNestedLoopJoin anywhere means its
    candidate generator lost its key and went corpus-quadratic."""
    s = plan_of(spark, sf_dir, "duplication_profile")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_temperature_mixture_is_two_pass(spark, sf_dir):
    """The mixture filter must be a projection over a broadcast quota
    table — no corpus-sized shuffle (the per-source count aggregate is
    the only exchange of corpus rows)."""
    s = plan_of(spark, sf_dir, "temperature_mixture")
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_ner_crf_is_single_python_stage(spark, sf_dir):
    """The CRF head is ONE Arrow-batched python stage (the numpy
    forward+decode), never row-at-a-time BatchEvalPython."""
    s = plan_of(spark, sf_dir, "ner_crf_viterbi")
    assert s.count("MapInPandas") == 1
    assert "BatchEvalPython" not in s
