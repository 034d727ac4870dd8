"""The facade's shared qualifier plan (operators/qualifiers.py
``qualify_all``) against the chain of one-engine ``qualify`` calls it
replaced: the same pipeline must give the same rows and the same
columns, in the same order, on generated clinical notes and on hostile
notes that probe cross-qualifier leaks (one qualifier's pseudo cue
shadowing another's cue), boundary cuts, apostrophes, non-ASCII words,
quotations and notes that end inside the negation regex window.
"""

import collections
import importlib.util
import pathlib
import sys

import edsnlp_spark as es
from edsnlp_spark import registry
from edsnlp_spark.functions.span_getters import union_span_groups

_GEN = pathlib.Path(__file__).resolve().parents[1] / "perfbench" / "gen.py"
_spec = importlib.util.spec_from_file_location("perfbench_gen", _GEN)
gen = sys.modules[_spec.name] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(gen)

TERMS = {**gen.TERMS, "symptome": ["douleur mais fievre", "œdème"]}

# eds.history_full sits between the QualifierEngine pipes: it runs after
# the shared plan in the facade and mid-chain in the reference, and
# replaces eds.history's column.  eds.history's termination set and
# reported_speech's empty one give the plan three boundary sets.
QUALIFIERS = ["eds.negation", "eds.hypothesis", "eds.history",
              "eds.history_full", "eds.family", "eds.reported_speech"]

HOSTILE = [
    "",
    "Rien à signaler ce jour.",
    # hypothesis' pseudo "sans risque" must not shadow negation's "sans"
    "Patient sans risque de pneumonie.",
    # negation's pseudo "pas de doute" must not shadow hypothesis' cues
    "pas de doute sur une pneumonie",
    # an entity across a termination cut
    "Pas de douleur mais fievre depuis hier.",
    "Le patient n'a pas de diabète. La patiente n’a pas de cancer.",
    "Absence d'œdème. Le patient ne présente ni œdème ni cirrhose.",
    'Le patient dit "je n\'ai pas de covid" et signale une tuberculose.',
    "Sa mère a eu un cancer. Tuberculose, le patient ne",
    # hypothesis' pseudo "même si" is also a default termination: the
    # cut stays (terminations are exempt from pseudo suppression), so
    # negation stops there and hypothesis' "si" is shadowed
    "Pas de cancer même si covid.",
    # the same with an apostrophe and no closing period
    "Le patient n'a pas de cancer même si covid",
    # a note that ends right after the pseudo/termination cue
    "Tuberculose, pas de cancer même si",
    "même si",
]


def _notes(spark):
    notes, _ = gen.make_notes(seed=7, n=100)
    rows = notes + [(10_000 + i, t) for i, t in enumerate(HOSTILE)]
    return spark.createDataFrame(rows, "note_id long, note_text string")


def _counts(rows):
    return collections.Counter(tuple(r) for r in rows)


def test_shared_plan_matches_chained_qualifiers(spark):
    notes = _notes(spark)
    nlp = es.blank()
    nlp.add_pipe("eds.matcher", terms=TERMS)
    for q in QUALIFIERS:
        nlp.add_pipe(q)

    prepared = nlp.prepare(notes)
    chain = union_span_groups(
        registry.create("eds.matcher", terms=TERMS).entities(prepared))
    for q in QUALIFIERS:
        chain = registry.create(q).qualify(prepared, chain)
    want_cols, want = chain.columns, _counts(chain.collect())

    fused = nlp.pipe(notes)
    got = fused.collect()
    assert fused.columns == want_cols
    cols = ["negation", "hypothesis", "history", "family", "reported_speech"]
    assert [c for c in want_cols if c in cols] == cols
    assert _counts(got) == want

    # every qualifier fires somewhere, so agreement is not all-False
    for col in cols:
        assert any(r[col] for r in got), col
    # "Patient sans risque de pneumonie."
    (r,) = [r for r in got if r.note_id == 10_002]
    assert r.negation is True

    # the pseudo/termination overlap notes, by hand: the entity before
    # "même si" is negated, the one after it is neither negated (the
    # cut holds) nor hypothetical (the pseudo shadows "si")
    by_note = collections.defaultdict(dict)
    for r in got:
        by_note[r.note_id][r.lexical_variant] = (r.negation, r.hypothesis)
    base = 10_000 + HOSTILE.index("Pas de cancer même si covid.")
    assert by_note[base] == {"cancer": (True, False),
                             "covid": (False, False)}
    assert by_note[base + 1] == {"cancer": (True, False),
                                 "covid": (False, False)}
    assert by_note[base + 2] == {"Tuberculose": (False, False),
                                 "cancer": (True, False)}
    assert base + 3 not in by_note


def _plan_nodes(df):
    """Physical nodes of ``df``'s plan, each cached plane's plan counted
    once however often it is read: what one action over ``df`` runs."""
    jvm = df.sparkSession._jvm
    nodes, seen = [], set()

    def walk(plan):
        kind = plan.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(plan.inputPlan())
        if kind == "InMemoryTableScanExec":
            cache = plan.relation().cacheBuilder()
            if jvm.System.identityHashCode(cache) not in seen:
                seen.add(jvm.System.identityHashCode(cache))
                walk(cache.cachedPlan())
            return
        nodes.append(plan)
        children = plan.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return nodes


def _ngram_explodes(df):
    # PhraseMatcher's n-gram explode is the Generate that outputs ``g``
    return sum(
        1 for n in _plan_nodes(df)
        if n.getClass().getSimpleName() == "GenerateExec"
        and [n.generatorOutput().apply(i).name()
             for i in range(n.generatorOutput().size())] == ["g"])


def test_one_pass_scans_the_cues_once(spark):
    """The raw cue scan is the cached plane, so over one facade pass the
    labelled cue n-gram explode and negation's mapInPandas regex each
    appear once, although the terminations, the pseudo cues and the
    real cues all read the scan."""
    notes = spark.createDataFrame(
        [(i, t) for i, t in enumerate(HOSTILE)],
        "note_id long, note_text string")
    nlp = es.blank()
    nlp.add_pipe("eds.matcher", terms=TERMS)
    for q in ("eds.negation", "eds.hypothesis", "eds.family"):
        nlp.add_pipe(q)
    fused = nlp.pipe(notes)
    explodes = _ngram_explodes(fused)
    regexes = [n.getClass().getSimpleName() for n in _plan_nodes(fused)] \
        .count("MapInPandasExec")
    # the entity matcher's own explode, on the same prepared plane
    emitter = registry.create("eds.matcher", terms=TERMS) \
        .entities(nlp.prepare(notes))
    assert explodes - _ngram_explodes(emitter) == 1
    assert regexes == 1
