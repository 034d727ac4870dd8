"""Text/NLP operator queries with DuckDB oracles.

These exercise the engine's NLP operators (SURVEY.md §2.3-§2.8) on the
``documents`` table at token granularity — document texts are
single-spaced lowercase words, so the engine tokenizer's token indices
coincide with SQL word-split ordinality and every operator's semantics
can be independently reproduced in ANSI SQL.  Char-offset fidelity on
real clinical text is covered by the pytest golden tests instead.

The engine-backed queries (phrase_match_tokens, negation_tokens,
section_spans) run the REAL operators (PhraseMatcher, QualifierEngine,
SectionSegmenter); the oracles re-derive the same semantics from
first principles in SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import _t
from ..core.base import Pipeline
from ..core import caching
from ..operators.tokenizer import Tokenizer, Normalizer
from ..operators.sentences import SentenceSegmenter
from ..operators.matcher import PhraseMatcher
from ..operators.qualifiers import QualifierEngine
from ..operators.sections import SectionSegmenter
from ..operators.dates import FR_MONTHS, parse_verbose_date
from ..operators.quantities import extract_quantity
from ..functions import text as X

# DuckDB token CTE: 1-based positions via zipped unnest.
_TOK_CTE = """
tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS token,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
)
"""


def _notes(spark, sf_dir):
    # The documents parquet is one small file -> one input split; the
    # per-row NLP work (tokenize fold, n-grams) is compute-bound, so
    # spread it across cores.  On a real 100 TB corpus the file splits
    # provide this parallelism and the repartition collapses to a no-op
    # cost relative to the scan.
    return (
        _t(spark, sf_dir, "documents")
        .selectExpr("doc_id as note_id", "text as note_text")
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _pipe_notes(spark, sf_dir):
    # documents texts are pretokenized (single-space words, verified in
    # TESTDATA): use the cheap prefix-sum tokenizer
    return Pipeline([Tokenizer(mode="pretokenized"), SentenceSegmenter()])(
        _notes(spark, sf_dir))


# ---- token stats / quality / lang-id / fingerprint --------------------

def token_stats_by_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ntok = X.token_count(F.col("text"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("total_tokens"),
        F.round(F.avg(ntok), 4).alias("avg_tokens"),
        F.max(ntok).cast("bigint").alias("max_tokens"),
    )


TOKEN_STATS_BY_LANG_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens,
       MAX(len(string_split(text, ' '))) AS max_tokens
FROM documents GROUP BY lang
"""


def doc_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = X.word_tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(X.avg_word_len(F.col("text")), 4).alias("avg_word_len"),
        F.round(
            F.size(F.array_distinct(toks)) / F.size(toks), 4
        ).alias("distinct_ratio"),
    )


DOC_QUALITY_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       ROUND(list_sum(list_transform(string_split(text, ' '), t -> len(t)))
             / len(string_split(text, ' ')), 4) AS avg_word_len,
       ROUND(len(list_distinct(string_split(text, ' ')))
             / len(string_split(text, ' ')), 4) AS distinct_ratio
FROM documents
"""


# ---- model-based quality filtering (FineWeb-style) --------------------
# Fixed "pretrained" logistic weights over the doc_quality features —
# scoring is a broadcast dot product + sigmoid, pure whole-stage-codegen
# projection at any corpus size (the training analog lives in the
# endlines Spark-ML path; here the weights are model constants so the
# DuckDB oracle can re-score bit-for-bit).
_QM_WEIGHTS = {"n_tokens": 0.004, "avg_word_len": 0.35,
               "distinct_ratio": 2.1}
_QM_BIAS = -2.8


def quality_model_scores(spark, sf_dir):
    """Model-based quality score + keep decision per document: sigmoid
    of a fixed linear model over length/word-shape/diversity features.
    The scale path of 'model-based quality filtering' — one projection,
    no shuffle, no Python."""
    d = _t(spark, sf_dir, "documents")
    toks = X.word_tokens(F.col("text"))
    feats = {
        "n_tokens": F.size(toks).cast("double"),
        "avg_word_len": X.avg_word_len(F.col("text")),
        "distinct_ratio": F.size(F.array_distinct(toks)) / F.size(toks),
    }
    z = F.lit(float(_QM_BIAS))
    for k, w in _QM_WEIGHTS.items():
        z = z + F.lit(float(w)) * feats[k]
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return d.select(
        "doc_id",
        F.round(score, 6).alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


QUALITY_MODEL_SCORES_SQL = f"""
WITH feats AS (
  SELECT doc_id,
         len(string_split(text, ' '))::DOUBLE AS n_tokens,
         list_sum(list_transform(string_split(text, ' '), t -> len(t)))
           / len(string_split(text, ' ')) AS avg_word_len,
         len(list_distinct(string_split(text, ' ')))::DOUBLE
           / len(string_split(text, ' ')) AS distinct_ratio
  FROM documents
)
SELECT doc_id,
       ROUND(1.0 / (1.0 + exp(-({_QM_BIAS}
             + {_QM_WEIGHTS['n_tokens']} * n_tokens
             + {_QM_WEIGHTS['avg_word_len']} * avg_word_len
             + {_QM_WEIGHTS['distinct_ratio']} * distinct_ratio))), 6)
         AS quality_score,
       (1.0 / (1.0 + exp(-({_QM_BIAS}
             + {_QM_WEIGHTS['n_tokens']} * n_tokens
             + {_QM_WEIGHTS['avg_word_len']} * avg_word_len
             + {_QM_WEIGHTS['distinct_ratio']} * distinct_ratio)))) >= 0.5
         AS keep
FROM feats
"""


def quality_auc(spark, sf_dir):
    """Calibration + AUC monitoring for the quality model (r13): the
    fixed-logistic quality score is evaluated as a CLASSIFIER against
    a deterministic lexical gold (doc mentions 'slow') — per-decile
    calibration rows (mean predicted vs observed positive rate) plus
    the Mann-Whitney AUC, all integer-rank arithmetic
    (operators/metrics.py binary_auc_calibration).  The metric family
    a model-based filtering loop monitors for drift."""
    from ..operators.metrics import binary_auc_calibration
    d = _t(spark, sf_dir, "documents")
    toks = X.word_tokens(F.col("text"))
    feats = {
        "n_tokens": F.size(toks).cast("double"),
        "avg_word_len": X.avg_word_len(F.col("text")),
        "distinct_ratio": F.size(F.array_distinct(toks)) / F.size(toks),
    }
    z = F.lit(float(_QM_BIAS))
    for k, w in _QM_WEIGHTS.items():
        z = z + F.lit(float(w)) * feats[k]
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    scored = d.select(
        score.alias("score"),
        F.array_contains(F.split("text", " ", -1), "slow")
        .cast("int").alias("label"))
    return binary_auc_calibration(scored)


QUALITY_AUC_SQL = f"""
WITH sc AS (
  SELECT CAST(ROUND(ROUND(1.0 / (1.0 + exp(-({_QM_BIAS}
           + {_QM_WEIGHTS['n_tokens']}
             * len(string_split(text, ' '))::DOUBLE
           + {_QM_WEIGHTS['avg_word_len']}
             * (list_sum(list_transform(string_split(text, ' '),
                                        t -> len(t)))
                / len(string_split(text, ' ')))
           + {_QM_WEIGHTS['distinct_ratio']}
             * (len(list_distinct(string_split(text, ' ')))::DOUBLE
                / len(string_split(text, ' ')))))), 6) * 1e6, 0)
         AS BIGINT) AS s6,
         CASE WHEN list_contains(string_split(text, ' '), 'slow')
              THEN 1 ELSE 0 END AS y
  FROM documents
),
agg AS (
  SELECT s6, COUNT(*)::BIGINT AS c, SUM(y)::BIGINT AS p
  FROM sc GROUP BY s6
),
cum AS (
  SELECT s6, c, p,
         COALESCE(SUM(c) OVER (ORDER BY s6 ROWS BETWEEN UNBOUNDED
                               PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS below
  FROM agg
),
tot AS (
  SELECT SUM(p * (2 * below + c + 1))::BIGINT AS s2,
         SUM(c)::BIGINT AS n, SUM(p)::BIGINT AS np
  FROM cum
),
auc_t AS (
  SELECT CASE WHEN np = 0 OR np = n THEN 0.5
              ELSE ROUND((s2 - np * (np + 1))
                         / (2.0 * np * (n - np)), 6) END AS auc
  FROM tot
),
b AS (
  SELECT LEAST(s6 // 100000, 9) AS bucket,
         SUM(c)::BIGINT AS n_docs,
         ROUND(SUM(s6 * c) / (1e6 * SUM(c)), 6) AS avg_score,
         ROUND(SUM(p) / (1.0 * SUM(c)), 6) AS pos_rate
  FROM cum GROUP BY 1
)
SELECT bucket, n_docs, avg_score, pos_rate, auc FROM b, auc_t
"""


# ---- BPE-ish token counting (training-budget estimation) --------------

def bpe_token_counts(spark, sf_dir):
    """GPT-style pretoken split + ceil(len/4) long-word subdivision: the
    cheap BPE token-count estimate a training pipeline budgets with.
    Whitespace count alongside for comparison; pure regexp projection."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.token_count(F.col("text")).cast("bigint").alias("ws_tokens"),
        X.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


BPE_TOKEN_COUNTS_SQL = r"""
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
         AS ws_tokens,
       CAST(COALESCE(list_sum(list_transform(
         regexp_extract_all(text,
           ' ?[A-Za-zÀ-ɏ]+| ?[0-9]+| ?[^\sA-Za-zÀ-ɏ0-9]+'),
         p -> greatest(ceil(len(trim(p)) / 4.0), 1))), 0) AS BIGINT)
         AS bpe_tokens
FROM documents
"""


_LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and"],
    "fr": ["le", "la", "de", "et"],
    "de": ["der", "die", "das", "und"],
    "es": ["el", "la", "de", "y"],
}


def lang_id_heuristic(spark, sf_dir):
    """Stopword-vote language ID (north-star text-analysis op): argmax of
    per-language stopword hits, deterministic tiebreak by language code."""
    d = _t(spark, sf_dir, "documents")
    toks = X.word_tokens(F.lower(F.col("text")))

    def contains_fn(sw):
        arr = F.array(*[F.lit(s) for s in sw])
        return lambda t: F.array_contains(arr, t)

    scores = F.array(*[
        F.struct(
            (-F.size(F.filter(toks, contains_fn(sw))))
            .cast("bigint").alias("neg_score"),
            F.lit(code).alias("lang"),
        )
        for code, sw in sorted(_LANG_STOPWORDS.items())
    ])
    best = F.array_min(scores)
    return d.select(
        "doc_id",
        best["lang"].alias("pred_lang"),
        (-best["neg_score"]).cast("bigint").alias("score"),
    )


_lang_score_sql = ", ".join(
    f"len(list_filter(string_split(lower(text), ' '), "
    f"t -> list_contains({sw!r}, t))) AS score_{code}"
    for code, sw in sorted(_LANG_STOPWORDS.items())
)
LANG_ID_HEURISTIC_SQL = f"""
WITH scored AS (
  SELECT doc_id, {_lang_score_sql} FROM documents
), ranked AS (
  SELECT doc_id,
         list_min([
           {{'neg_score': -score_de, 'lang': 'de'}},
           {{'neg_score': -score_en, 'lang': 'en'}},
           {{'neg_score': -score_es, 'lang': 'es'}},
           {{'neg_score': -score_fr, 'lang': 'fr'}}
         ]) AS best
  FROM scored
)
SELECT doc_id, best.lang AS pred_lang, -best.neg_score AS score FROM ranked
"""


def _load_langid_pin() -> dict:
    """Pinned integer-quantized trained language-ID weights (sf0.01;
    scripts/pin_langid_weights.py).  Training determinism makes them a
    constant of (data, config)."""
    import json as _json
    import os as _os
    path = _os.path.join(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))), "resources", "langid_weights.json")
    with open(path) as f:
        return _json.load(f)


_LANGID_PIN = _load_langid_pin()


def langid_trained(spark, sf_dir):
    """MODEL-BASED language ID (VERDICT r9 brief #5): the multiclass
    averaged perceptron trained by train_doc_classifier on the planted
    bilingual corpus (label 'xx' = consonant-swapped text — a language
    the stopword-vote heuristic has no list for), exported as
    integer-quantized weights and applied as a PURE Spark projection
    (one hash pass + one scalar fold per class, no shuffle, no
    Python).  Output: (doc_id, true_lang, pred_lang, pred_name,
    correct, score_en, score_xx).

    The trained model replaces lang_id_heuristic's curated stopword
    lists with learned char-trigram bucket weights — on the planted
    set the heuristic CANNOT name the unseen language (<= 50%%
    accuracy) while the trained scorer is pinned >= 99%%
    (test_langid_trained_beats_heuristic)."""
    from ..operators.trainable import classify_docs
    d = _t(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 1,
               F.translate("text", "etaoins", "zqxjkvw"))
         .otherwise(F.col("text")).alias("text"))
    scored = classify_docs(corpus, _LANGID_PIN["W"], _LANGID_PIN["b"],
                           class_names=_LANGID_PIN["classes"],
                           ngram=3, n_buckets=64)
    true_lang = (F.col("doc_id") % 2).cast("int")
    return scored.select(
        "doc_id", true_lang.alias("true_lang"),
        F.col("pred").alias("pred_lang"), "pred_name",
        (F.col("pred") == true_lang).alias("correct"),
        F.col("score_0").alias("score_en"),
        F.col("score_1").alias("score_xx"),
    )


def _langid_trained_sql() -> str:
    w_en = "[" + ", ".join(str(x) for x in _LANGID_PIN["W"][0]) + "]"
    w_xx = "[" + ", ".join(str(x) for x in _LANGID_PIN["W"][1]) + "]"
    b_en, b_xx = _LANGID_PIN["b"]
    return f"""
WITH c AS (
  SELECT doc_id, (doc_id % 2)::INT AS true_lang,
         CASE WHEN doc_id % 2 = 1
              THEN translate(text, 'etaoins', 'zqxjkvw')
              ELSE text END AS t
  FROM documents
),
g AS (
  SELECT doc_id, true_lang,
         CASE WHEN length(t) >= 3 THEN
           list_transform(range(1, length(t) - 1),
             i -> ('0x' || substr(md5(substr(t, i, 3)), 1, 4))::BIGINT % 64)
         ELSE [] END AS bks
  FROM c
),
s AS (
  SELECT doc_id, true_lang,
         COALESCE(list_sum(list_transform(bks, k -> ({w_en})[k + 1])), 0)
           + len(bks)::BIGINT * ({b_en}) AS score_en,
         COALESCE(list_sum(list_transform(bks, k -> ({w_xx})[k + 1])), 0)
           + len(bks)::BIGINT * ({b_xx}) AS score_xx
  FROM g
)
SELECT doc_id, true_lang,
       (CASE WHEN score_en >= score_xx THEN 0 ELSE 1 END)::INT
         AS pred_lang,
       CASE WHEN score_en >= score_xx THEN 'en' ELSE 'xx' END
         AS pred_name,
       (CASE WHEN score_en >= score_xx THEN 0 ELSE 1 END) = true_lang
         AS correct,
       score_en::BIGINT AS score_en, score_xx::BIGINT AS score_xx
FROM s
"""


LANGID_TRAINED_SQL = _langid_trained_sql()


def doc_fingerprint(spark, sf_dir):
    """md5 content fingerprint + 16-hex prefix bucket (north-star
    document-fingerprinting op; md5 is identical across engines)."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.col("text"))
    return d.select("doc_id", fp.alias("fp"),
                    F.substring(fp, 1, 8).alias("fp_bucket"))


DOC_FINGERPRINT_SQL = """
SELECT doc_id, md5(text) AS fp, substr(md5(text), 1, 8) AS fp_bucket
FROM documents
"""


def dedup_exact(spark, sf_dir):
    """Exact dedup: keep the smallest doc_id per content hash."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_dupes"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dupes
FROM documents GROUP BY md5(text)
"""


# ---- engine-backed: phrase matcher ------------------------------------

_MATCH_TERMS = {"op": ["join", "merge", "hash join"], "sys": ["spark"]}


def phrase_match_tokens(spark, sf_dir):
    """PhraseMatcher (n-gram broadcast join) at token granularity."""
    notes = Pipeline([Tokenizer(mode="pretokenized")])(_notes(spark, sf_dir))
    m = PhraseMatcher(_MATCH_TERMS, attr="TEXT")
    ents = m.entities(notes)
    return ents.select(
        F.col("note_id").alias("doc_id"),
        (F.col("tok_start") + 1).cast("bigint").alias("pos"),
        "label",
        F.col("lexical_variant").alias("term"),
    )


PHRASE_MATCH_TOKENS_SQL = f"""
WITH {_TOK_CTE},
big AS (
  SELECT doc_id, pos,
         token || ' ' || LEAD(token) OVER (PARTITION BY doc_id ORDER BY pos)
           AS bigram
  FROM tok
)
SELECT doc_id, pos, 'op' AS label, token AS term
  FROM tok WHERE token IN ('join', 'merge')
UNION ALL
SELECT doc_id, pos, 'sys', token FROM tok WHERE token = 'spark'
UNION ALL
SELECT doc_id, pos, 'op', bigram FROM big WHERE bigram = 'hash join'
"""


# ---- engine-backed: negation qualifier (flagship) ---------------------

_NEG_TARGETS = {"target": ["spark", "merge", "table"]}
_NEG_CUES = {"preceding": ["slow", "small"], "termination": ["filter"]}


def negation_chain(notes):
    """The flagship qualifier chain over an already-prepared notes
    plane (tokenized + sentenced): phrase-match targets -> cue scan ->
    boundary sessionization -> interval join -> grouped EXISTS.

    Factored out of :func:`negation_tokens` so the EXACT same
    Transformer chain also runs per micro-batch under foreachBatch
    (streaming parity, SURVEY §2.12 / VERDICT r5 #6 — pinned by
    tests/test_trainable_llm_streaming.py::test_streaming_negation_chain_restart).
    """
    ents = PhraseMatcher(_NEG_TARGETS, attr="TEXT").entities(notes)
    q = QualifierEngine("negated", _NEG_CUES, attr="TEXT")
    out = q.qualify(notes, ents)
    return out.select(
        F.col("note_id").alias("doc_id"),
        (F.col("tok_start") + 1).cast("bigint").alias("pos"),
        F.col("lexical_variant").alias("term"),
        "negated",
    )


@caching.leased
def negation_tokens(spark, sf_dir):
    """Full qualifier engine: cue scan -> boundary sessionization ->
    interval join -> grouped EXISTS.  Oracle re-derives the same
    semantics with a last-marker window (the last cue-or-termination
    before the entity must be a cue)."""
    notes = caching.persist(_pipe_notes(spark, sf_dir))
    return negation_chain(notes)


NEGATION_TOKENS_SQL = f"""
WITH {_TOK_CTE},
marked AS (
  SELECT doc_id, pos, token,
         LAST_VALUE(
           CASE WHEN token = 'filter' THEN 'T'
                WHEN token IN ('slow', 'small') THEN 'C' END
           IGNORE NULLS) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_marker
  FROM tok
)
SELECT doc_id, pos, token AS term,
       COALESCE(prev_marker = 'C', FALSE) AS negated
FROM marked WHERE token IN ('spark', 'merge', 'table')
"""


# ---- engine-backed: sections ------------------------------------------

_SECTION_HEADERS = {"window": ["window"], "stream": ["stream"]}


def section_spans(spark, sf_dir):
    """SectionSegmenter: header scan + lead() window -> intervals."""
    notes = Pipeline([Tokenizer(mode="pretokenized")])(_notes(spark, sf_dir))
    s = SectionSegmenter(_SECTION_HEADERS, attr="TEXT")
    secs = s.sections_table(notes)
    return secs.select(
        F.col("note_id").alias("doc_id"),
        F.col("sec_id").cast("bigint").alias("sec_id"),
        F.col("section"),
        (F.col("tok_start") + 1).cast("bigint").alias("start_pos"),
        (F.col("tok_until") + 1).cast("bigint").alias("end_pos"),
    )


SECTION_SPANS_SQL = f"""
WITH {_TOK_CTE},
hdr AS (
  SELECT doc_id, pos, token,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS sec_id,
         LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS next_pos
  FROM tok WHERE token IN ('window', 'stream')
), ntok AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
)
SELECT h.doc_id, h.sec_id, h.token AS section,
       h.pos AS start_pos,
       COALESCE(h.next_pos, n.n + 1) AS end_pos
FROM hdr h JOIN ntok n ON h.doc_id = n.doc_id
"""


# ---- split/explode (eds.split fragment windows) -----------------------

def split_windows(spark, sf_dir):
    """eds.split analog: fragment docs into token windows of max length
    20 with stride 15 (overlap 5) — explode over a native sequence."""
    d = _t(spark, sf_dir, "documents")
    ntok = X.token_count(F.col("text"))
    starts = F.sequence(F.lit(1), F.greatest(ntok, F.lit(1)), F.lit(15))
    return (
        d.select("doc_id", ntok.alias("n"), F.explode(starts).alias("start_pos"))
        .filter(F.col("start_pos") <= F.col("n"))
        .select(
            "doc_id",
            ((F.col("start_pos") - 1) / 15).cast("bigint").alias("frag_id"),
            F.col("start_pos").cast("bigint"),
            F.least(F.col("start_pos") + 20, F.col("n") + 1)
            .cast("bigint").alias("end_pos"),
        )
    )


SPLIT_WINDOWS_SQL = """
WITH n AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents)
SELECT doc_id,
       (s - 1) // 15 AS frag_id,
       s AS start_pos,
       LEAST(s + 20, n + 1) AS end_pos
FROM n, unnest(range(1, n + 1, 15)) AS t(s)
"""


# ---- metrics: grouped precision/recall/F1 (metrics/ner.py parity) -----

_PRED_TERMS = ["spark", "join", "merge"]
_GOLD_TERMS = ["spark", "merge", "filter"]


def ner_token_metrics(spark, sf_dir):
    """Exact-position NER metrics via full outer join + rollup micro row
    (edsnlp/metrics/ner.py:34-100 semantics at token granularity)."""
    notes = _notes(spark, sf_dir)
    toks = notes.select(
        F.col("note_id").alias("doc_id"),
        F.posexplode(F.split("note_text", " ")).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    pred = toks.filter(F.col("token").isin(_PRED_TERMS)).select(
        "doc_id", "pos", F.col("token").alias("label"))
    gold = toks.filter(F.col("token").isin(_GOLD_TERMS)).select(
        "doc_id", "pos", F.col("token").alias("label"))
    j = pred.withColumn("p", F.lit(1)).join(
        gold.withColumn("g", F.lit(1)), ["doc_id", "pos", "label"], "full_outer")
    per = j.groupBy("label").agg(
        F.sum(F.when(F.col("p").isNotNull() & F.col("g").isNotNull(), 1)
              .otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("p").isNotNull() & F.col("g").isNull(), 1)
              .otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("p").isNull() & F.col("g").isNotNull(), 1)
              .otherwise(0)).alias("fn"),
    )
    micro = per.groupBy().agg(
        F.lit("ALL").alias("label"), F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"), F.sum("fn").alias("fn"))
    allrows = per.unionByName(micro)
    prec = F.try_divide(F.col("tp"), F.col("tp") + F.col("fp"))
    rec = F.try_divide(F.col("tp"), F.col("tp") + F.col("fn"))
    f1 = F.try_divide(2 * prec * rec, prec + rec)
    return allrows.select(
        "label", "tp", "fp", "fn",
        F.round(prec, 4).alias("precision"),
        F.round(rec, 4).alias("recall"),
        F.round(f1, 4).alias("f1"),
    )


NER_TOKEN_METRICS_SQL = f"""
WITH {_TOK_CTE},
pred AS (SELECT doc_id, pos, token AS label FROM tok
         WHERE token IN ('spark', 'join', 'merge')),
gold AS (SELECT doc_id, pos, token AS label FROM tok
         WHERE token IN ('spark', 'merge', 'filter')),
j AS (
  SELECT COALESCE(p.label, g.label) AS label,
         CASE WHEN p.doc_id IS NOT NULL AND g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS tp,
         CASE WHEN p.doc_id IS NOT NULL AND g.doc_id IS NULL THEN 1 ELSE 0 END AS fp,
         CASE WHEN p.doc_id IS NULL AND g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fn
  FROM pred p FULL OUTER JOIN gold g
    ON p.doc_id = g.doc_id AND p.pos = g.pos AND p.label = g.label
),
per AS (
  SELECT label, CAST(SUM(tp) AS BIGINT) AS tp, CAST(SUM(fp) AS BIGINT) AS fp,
         CAST(SUM(fn) AS BIGINT) AS fn
  FROM j GROUP BY label
  UNION ALL
  SELECT 'ALL', CAST(SUM(tp) AS BIGINT), CAST(SUM(fp) AS BIGINT),
         CAST(SUM(fn) AS BIGINT) FROM j
)
SELECT label, tp, fp, fn,
       ROUND(tp / NULLIF(tp + fp, 0), 4) AS precision,
       ROUND(tp / NULLIF(tp + fn, 0), 4) AS recall,
       ROUND(2.0 * (tp / NULLIF(tp + fp, 0)) * (tp / NULLIF(tp + fn, 0))
             / NULLIF(tp / NULLIF(tp + fp, 0) + tp / NULLIF(tp + fn, 0), 0),
             4) AS f1
FROM per
"""


# ---- eds.dates on constructed French date text ------------------------

def dates_extraction(spark, sf_dir):
    """Build 'Consultation du <j> <mois> <aaaa>' from o_orderdate, then
    recover the date with the engine's French date parser (eds.dates).
    The oracle re-parses the text independently in SQL."""
    o = _t(spark, sf_dir, "orders")
    months = F.array(*[F.lit(m) for m in FR_MONTHS])
    text = F.concat(
        F.lit("consultation du "),
        F.dayofmonth("o_orderdate").cast("string"), F.lit(" "),
        F.element_at(months, F.month("o_orderdate")), F.lit(" "),
        F.year("o_orderdate").cast("string"),
    )
    d = o.select("o_orderkey", text.alias("date_text"))
    return d.select(
        "o_orderkey", "date_text",
        F.date_format(parse_verbose_date(F.col("date_text")), "yyyy-MM-dd")
        .alias("parsed_date"),
    )


_MONTH_CASE = " ".join(
    f"WHEN '{m}' THEN {i + 1}" for i, m in enumerate(FR_MONTHS)
)
DATES_EXTRACTION_SQL = f"""
WITH built AS (
  SELECT o_orderkey,
         'consultation du ' || day(o_orderdate)::VARCHAR || ' ' ||
         (['janvier','fevrier','mars','avril','mai','juin','juillet',
           'aout','septembre','octobre','novembre','decembre'])[month(o_orderdate)]
         || ' ' || year(o_orderdate)::VARCHAR AS date_text
  FROM orders
)
SELECT o_orderkey, date_text,
       CAST(make_date(
         CAST(regexp_extract(date_text, 'du (\\d+) ([a-z]+) (\\d+)', 3) AS INT),
         CASE regexp_extract(date_text, 'du (\\d+) ([a-z]+) (\\d+)', 2)
              {_MONTH_CASE} END,
         CAST(regexp_extract(date_text, 'du (\\d+) ([a-z]+) (\\d+)', 1) AS INT)
       ) AS VARCHAR) AS parsed_date
FROM built
"""


# ---- full temporal model: durations / relatives / bounds --------------

@caching.leased
def durations_extraction(spark, sf_dir):
    """Build one French temporal mention per order (duration / signed
    relative / specific / bounded absolute), then recover kind,
    direction, bound, signed offset and the reference's str(timedelta)
    norm string with temporal_mentions (eds.dates models.py:179-460).
    The oracle re-derives every field arithmetically per branch."""
    from ..operators.dates import temporal_mentions
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    nj = (k % 28 + 2).cast("string")   # days 2..29
    nw = (k % 10 + 1).cast("string")   # weeks 1..10
    nm = (k % 11 + 1).cast("string")   # months 1..11
    nh = (k % 47 + 2).cast("string")   # hours 2..48 (exercises day carry)
    ds = F.date_format("o_orderdate", "dd/MM/yyyy")
    text = (
        F.when(k % 6 == 0,
               F.concat(F.lit("sous traitement pendant "), nj,
                        F.lit(" jours")))
        .when(k % 6 == 1,
              F.concat(F.lit("chute il y a "), nw, F.lit(" semaines")))
        .when(k % 6 == 2, F.concat(F.lit("controle dans "), nm,
                                   F.lit(" mois")))
        .when(k % 6 == 3, F.concat(F.lit("hospitalise depuis le "), ds))
        .when(k % 6 == 4, F.lit("vu hier en consultation"))
        .otherwise(F.concat(F.lit("surveillance pendant "), nh,
                            F.lit(" heures")))
    )
    # The sf0.1 orders parquet is ONE file -> one input partition, which
    # would serialize the Arrow regex stage; at real scale file splits
    # provide this parallelism and the repartition is a no-op cost-wise
    # (same rationale as _notes/_docs).  Persisted because
    # temporal_mentions references notes TWICE (matcher + text join-back)
    # and the unpersisted subtree would rebuild + reshuffle per
    # reference (measured: 2.9s -> 1.2s warm at sf0.1).
    par = spark.sparkContext.defaultParallelism
    notes = caching.persist(
        o.select(k.alias("note_id"), text.alias("note_text"))
        .repartition(par))
    return temporal_mentions(notes).select(
        F.col("note_id").alias("o_orderkey"), "lexical_variant", "kind",
        "direction", "bound", "offset_seconds", "norm",
    )


DURATIONS_EXTRACTION_SQL = """
WITH built AS (
  SELECT o_orderkey AS k,
         o_orderkey % 28 + 2 AS nj,
         o_orderkey % 10 + 1 AS nw,
         o_orderkey % 11 + 1 AS nm,
         o_orderkey % 47 + 2 AS nh,
         o_orderdate AS d
  FROM orders
)
SELECT k AS o_orderkey,
  CASE k % 6
    WHEN 0 THEN 'pendant ' || nj || ' jours'
    WHEN 1 THEN 'il y a ' || nw || ' semaines'
    WHEN 2 THEN 'dans ' || nm || ' mois'
    WHEN 3 THEN strftime(d, '%d/%m/%Y')
    WHEN 4 THEN 'hier'
    ELSE 'pendant ' || nh || ' heures' END AS lexical_variant,
  CASE k % 6 WHEN 0 THEN 'duration' WHEN 1 THEN 'relative'
    WHEN 2 THEN 'relative' WHEN 3 THEN 'absolute'
    WHEN 4 THEN 'relative' ELSE 'duration' END AS kind,
  CASE k % 6 WHEN 1 THEN 'past' WHEN 2 THEN 'future'
    WHEN 4 THEN 'past' END AS direction,
  CASE k % 6 WHEN 3 THEN 'from' END AS bound,
  CAST(CASE k % 6
    WHEN 0 THEN nj * 86400
    WHEN 1 THEN -nw * 7 * 86400
    WHEN 2 THEN nm * 30 * 86400
    WHEN 4 THEN -86400
    WHEN 5 THEN nh * 3600 END AS BIGINT) AS offset_seconds,
  CASE k % 6
    WHEN 0 THEN 'during ' || nj || ' days'
    WHEN 1 THEN '-' || (nw * 7) || ' days'
    WHEN 2 THEN '+' || (nm * 30) || ' days'
    WHEN 3 THEN strftime(d, '%Y-%m-%d')
    WHEN 4 THEN '-1 day'
    ELSE CASE WHEN nh < 24 THEN 'during ' || nh || ':00:00'
              WHEN nh = 24 THEN 'during 1 day'
              WHEN nh = 48 THEN 'during 2 days'
              ELSE 'during 1 day, ' || (nh - 24) || ':00:00' END
    END AS norm
FROM built
"""


# ---- eds.quantities on constructed dose text --------------------------

def quantities_extraction(spark, sf_dir):
    """Build 'dose : <v> <unit>' from l_quantity, extract value+unit with
    the engine's quantity parser, convert to SI (grams-scale mass)."""
    li = _t(spark, sf_dir, "lineitem")
    unit = (
        F.when(F.col("l_linenumber") % 3 == 0, "mg")
        .when(F.col("l_linenumber") % 3 == 1, "kg")
        .otherwise("g")
    )
    text = F.concat(F.lit("dose : "), F.col("l_quantity").cast("string"),
                    F.lit(" "), unit)
    d = li.select("l_orderkey", "l_linenumber", text.alias("qty_text"))
    q = extract_quantity(F.col("qty_text"))
    return d.select(
        "l_orderkey", "l_linenumber", "qty_text",
        q["value"].alias("value"),
        q["unit"].alias("unit"),
        F.round(q["value_si"], 6).alias("value_si"),
    )


QUANTITIES_EXTRACTION_SQL = """
WITH built AS (
  SELECT l_orderkey, l_linenumber,
         'dose : ' || l_quantity::VARCHAR || ' ' ||
         CASE l_linenumber % 3 WHEN 0 THEN 'mg' WHEN 1 THEN 'kg' ELSE 'g' END
           AS qty_text
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, qty_text,
       CAST(regexp_extract(qty_text, '(\\d+(?:\\.\\d+)?)\\s*(kg|mg|g)', 1)
            AS DOUBLE) AS value,
       regexp_extract(qty_text, '(\\d+(?:\\.\\d+)?)\\s*(kg|mg|g)', 2) AS unit,
       ROUND(CAST(regexp_extract(qty_text, '(\\d+(?:\\.\\d+)?)\\s*(kg|mg|g)', 1)
             AS DOUBLE) *
             CASE regexp_extract(qty_text, '(\\d+(?:\\.\\d+)?)\\s*(kg|mg|g)', 2)
                  WHEN 'kg' THEN 1000.0 WHEN 'g' THEN 1.0 ELSE 0.001 END,
             6) AS value_si
FROM built
"""


# ---- operator / range / letter-number quantities ----------------------

_Q_LETTER_WORDS = ["deux", "trois", "quinze", "vingt-cinq"]
_Q_LETTER_VALS = [2.0, 3.0, 15.0, 25.0]


def quantity_operators(spark, sf_dir):
    """Build comparison-operator / entre..et range / letter-number
    quantity texts from orders, recover operator, value and bounds with
    the engine's extended quantity parsers (quantities.py operator_terms
    + range_patterns + letter numbers)."""
    from ..operators.quantities import (
        extract_operator_quantity, extract_range, extract_letter_quantity)
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    n = (k % 40 + 1).cast("string")
    words = F.array(*[F.lit(w) for w in _Q_LETTER_WORDS])
    text = (
        F.when(k % 5 == 0, F.concat(F.lit("ferritine inf a "), n,
                                    F.lit(" ui")))
        .when(k % 5 == 1, F.concat(F.lit("plaquettes > "), n, F.lit(" µl")))
        .when(k % 5 == 2, F.concat(F.lit("poids entre "), n, F.lit(" et "),
                                   (k % 40 + 4).cast("string"),
                                   F.lit(" kg")))
        .when(k % 5 == 3, F.concat(F.lit("dose de "), n, F.lit(" a "),
                                   (k % 40 + 2).cast("string"),
                                   F.lit(" mg")))
        .otherwise(F.concat(F.lit("taille "),
                            F.element_at(words, (k % 4 + 1).cast("int")),
                            F.lit(" m")))
    )
    # small parquet reads land in ONE partition; spread the fat regex
    # tree below across cores (at cluster scale the scan already
    # provides parallelism and this collapses to a cheap round-robin)
    d = o.select("o_orderkey", text.alias("qty_text")) \
        .repartition(spark.sparkContext.defaultParallelism)

    # The three extractors are fat regex/when trees (the letter-number
    # branch alone is ~35 rlike whens); referencing them once per output
    # column duplicated the trees 8x and overflowed the 64 KB codegen
    # method limit (whole stage fell back to interpreted eval — 12s vs
    # ~2s at sf0.01).  let-bind each ONCE, build the output fields from
    # the bound variables, and expand via one inline() Generate.
    def build(op, rg, lt):
        has_range = rg.isNotNull()
        return F.struct(
            F.when(~has_range, F.coalesce(op["operator"], F.lit("=")))
             .alias("operator"),
            F.when(~has_range, F.coalesce(op["value"], lt["value"]))
             .alias("value"),
            F.coalesce(op["unit"], rg["unit"], lt["unit"]).alias("unit"),
            rg["low"].alias("low"), rg["high"].alias("high"),
        )

    fields = X.let_bound(
        extract_operator_quantity(F.col("qty_text")),
        lambda op: X.let_bound(
            extract_range(F.col("qty_text")),
            lambda rg: X.let_bound(
                extract_letter_quantity(F.col("qty_text")),
                lambda lt: build(op, rg, lt))))
    return d.select(
        "o_orderkey", "qty_text", F.inline(F.array(fields)))


_Q_WORD_CASE = " ".join(
    f"WHEN {i} THEN '{w}'" for i, w in enumerate(_Q_LETTER_WORDS))
_Q_VAL_CASE = " ".join(
    f"WHEN {i} THEN {v}" for i, v in enumerate(_Q_LETTER_VALS))
QUANTITY_OPERATORS_SQL = f"""
WITH built AS (
  SELECT o_orderkey, o_orderkey % 5 AS br, o_orderkey % 40 + 1 AS n,
         CASE o_orderkey % 5
           WHEN 0 THEN 'ferritine inf a ' || (o_orderkey % 40 + 1) || ' ui'
           WHEN 1 THEN 'plaquettes > ' || (o_orderkey % 40 + 1) || ' µl'
           WHEN 2 THEN 'poids entre ' || (o_orderkey % 40 + 1) || ' et '
                       || (o_orderkey % 40 + 4) || ' kg'
           WHEN 3 THEN 'dose de ' || (o_orderkey % 40 + 1) || ' a '
                       || (o_orderkey % 40 + 2) || ' mg'
           ELSE 'taille ' || (CASE o_orderkey % 4 {_Q_WORD_CASE} END) || ' m'
         END AS qty_text
  FROM orders
)
SELECT o_orderkey, qty_text,
       CASE br WHEN 0 THEN '<' WHEN 1 THEN '>'
               WHEN 4 THEN '=' END AS operator,
       CASE br WHEN 0 THEN n::DOUBLE WHEN 1 THEN n::DOUBLE
               WHEN 4 THEN (CASE o_orderkey % 4 {_Q_VAL_CASE} END)
       END AS value,
       CASE br WHEN 0 THEN 'ui' WHEN 1 THEN 'µl' WHEN 2 THEN 'kg'
               WHEN 3 THEN 'mg' ELSE 'm' END AS unit,
       CASE br WHEN 2 THEN n::DOUBLE WHEN 3 THEN n::DOUBLE END AS low,
       CASE br WHEN 2 THEN (o_orderkey % 40 + 4)::DOUBLE
               WHEN 3 THEN (o_orderkey % 40 + 2)::DOUBLE END AS high
FROM built
"""


# ---- HF NER: IOB -> entity spans --------------------------------------

_HF_KWS = ("spark", "join", "scan", "merge")


def hf_ner_spans(spark, sf_dir):
    """Build a token-level BIO tagging over the first 15 tokens of each
    document (keywords tagged B-KW, their successor I-KW), then decode
    spans with the HF converter's forgiving IOB decoder
    (edsnlp/data/converters.py:1252-1324) re-expressed as window
    sessionization.  Oracle re-derives tags and spans with SQL windows.
    """
    from ..sources.huggingface import iob_to_spans
    d = _t(spark, sf_dir, "documents")
    toks = F.slice(F.split(F.col("text"), " "), 1, 15)

    def tagger(arr):
        def f(x, i):
            prev = F.when(i > 0, F.element_at(arr, i))
            return (
                F.when(x.isin(*_HF_KWS), F.lit("B-KW"))
                .when(prev.isin(*_HF_KWS), F.lit("I-KW"))
                .otherwise(F.lit("O"))
            )
        return F.transform(arr, f)

    notes = d.select(
        F.col("doc_id").alias("note_id"),
        toks.alias("tokens"),
        tagger(toks).alias("ner_tags"),
    )
    return iob_to_spans(notes).select(
        F.col("note_id").alias("doc_id"), "tok_start", "tok_end",
        "start_char", "end_char", "label", "lexical_variant",
    )


HF_NER_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_slice(string_split(text, ' '), 1, 15) AS ws
  FROM documents
),
tok AS (
  SELECT doc_id,
         unnest(range(1, len(ws) + 1)) AS pos1,
         unnest(ws) AS word
  FROM toks
),
tagged AS (
  SELECT doc_id, pos1 - 1 AS pos, word,
         CASE WHEN word IN {_HF_KWS!r} THEN 'B'
              WHEN lag(word) OVER (PARTITION BY doc_id ORDER BY pos1)
                   IN {_HF_KWS!r} THEN 'I'
              ELSE 'O' END AS tag,
         CAST(COALESCE(SUM(len(word) + 1) OVER (
           PARTITION BY doc_id ORDER BY pos1
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_char
  FROM tok
),
eids AS (
  SELECT *, SUM(CASE WHEN tag = 'B' THEN 1 ELSE 0 END) OVER (
    PARTITION BY doc_id ORDER BY pos) AS eid
  FROM tagged WHERE tag <> 'O'
)
SELECT doc_id,
       CAST(MIN(pos) AS INT) AS tok_start,
       CAST(MAX(pos) + 1 AS INT) AS tok_end,
       CAST(MIN(start_char) AS INT) AS start_char,
       CAST(MAX(start_char + len(word)) AS INT) AS end_char,
       'KW' AS label,
       string_agg(word, ' ' ORDER BY pos) AS lexical_variant
FROM eids GROUP BY doc_id, eid
"""


# ---- composed units (mg/l, powers, per-time) --------------------------

def composed_units(spark, sf_dir):
    """Build one composed-unit mention per lineitem ('creatinine : V
    mg/l', 'surface : V cm2', 'prises : V/j', ...), extract value +
    canonical unit + dimension-degree string + SI value with
    extract_composed_quantity (reference UnitRegistry.parse_unit,
    quantities.py:142-167).  Oracle re-derives per branch."""
    from ..operators.quantities import extract_composed_quantity
    li = _t(spark, sf_dir, "lineitem")
    k = F.col("l_linenumber") % 6
    vs = F.col("l_quantity").cast("string")
    text = (
        F.when(k == 0, F.concat(F.lit("creatinine : "), vs, F.lit(" mg/l")))
        .when(k == 1, F.concat(F.lit("glycemie : "), vs, F.lit(" mmol/l")))
        .when(k == 2, F.concat(F.lit("surface : "), vs, F.lit(" cm2")))
        .when(k == 3, F.concat(F.lit("debit : "), vs, F.lit(" ml/min")))
        .when(k == 4, F.concat(F.lit("dose : "), vs, F.lit(" mg/kg")))
        .otherwise(F.concat(F.lit("prises : "), vs, F.lit("/j")))
    )
    # repartition: small parquet = 1 partition, and the composed-unit
    # regex tree is per-row heavy; let-bind q so the tree is evaluated
    # once per row instead of once per output column (same codegen-size
    # + work-duplication reasoning as quantity_operators above)
    d = li.select("l_orderkey", "l_linenumber", text.alias("qty_text")) \
        .repartition(spark.sparkContext.defaultParallelism)
    fields = X.let_bound(
        extract_composed_quantity(F.lower(F.col("qty_text"))),
        lambda q: F.struct(
            q["value"].alias("value"),
            q["unit"].alias("unit"),
            q["dimension"].alias("dimension"),
            F.round(q["value_si"], 9).alias("value_si"),
        ))
    return d.select(
        "l_orderkey", "l_linenumber", "qty_text", F.inline(F.array(fields)))


COMPOSED_UNITS_SQL = """
WITH built AS (
  SELECT l_orderkey, l_linenumber, l_quantity AS v,
         l_linenumber % 6 AS k
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
  CASE k WHEN 0 THEN 'creatinine : ' || v::VARCHAR || ' mg/l'
         WHEN 1 THEN 'glycemie : ' || v::VARCHAR || ' mmol/l'
         WHEN 2 THEN 'surface : ' || v::VARCHAR || ' cm2'
         WHEN 3 THEN 'debit : ' || v::VARCHAR || ' ml/min'
         WHEN 4 THEN 'dose : ' || v::VARCHAR || ' mg/kg'
         ELSE 'prises : ' || v::VARCHAR || '/j' END AS qty_text,
  CAST(v AS DOUBLE) AS value,
  CASE k WHEN 0 THEN 'mg/l' WHEN 1 THEN 'mmol/l' WHEN 2 THEN 'cm2'
         WHEN 3 THEN 'ml/min' WHEN 4 THEN 'mg/kg' ELSE '/j' END AS unit,
  CASE k WHEN 0 THEN '{''mass'': 1, ''volume'': -1}'
         WHEN 1 THEN '{''substance'': 1, ''volume'': -1}'
         WHEN 2 THEN '{''length'': 2}'
         WHEN 3 THEN '{''time'': -1, ''volume'': 1}'
         WHEN 4 THEN '{}'
         ELSE '{''time'': -1}' END AS dimension,
  ROUND(CASE k WHEN 0 THEN v * 0.001
               WHEN 1 THEN v * 0.001
               WHEN 2 THEN v * power(0.01, 2)
               WHEN 3 THEN v * (0.001 * power(60.0, -1))
               WHEN 4 THEN v * (0.001 * power(1000.0, -1))
               ELSE v * power(86400.0, -1) END, 9) AS value_si
FROM built
"""


# ---- engine-backed: hypothesis qualifier (following-direction cues) ---

_HYP_TARGETS = {"target": ["join", "scan"]}
_HYP_CUES = {"preceding": ["slow"], "following": ["big"],
             "termination": ["filter"]}


@caching.leased
def hypothesis_tokens(spark, sf_dir):
    """Qualifier with BOTH cue directions: preceded by 'slow' OR followed
    by 'big' within the boundary.  The oracle derives each direction with
    its own last/first-marker window (negation_tokens only covers the
    preceding direction)."""
    notes = caching.persist(_pipe_notes(spark, sf_dir))
    ents = PhraseMatcher(_HYP_TARGETS, attr="TEXT").entities(notes)
    q = QualifierEngine("hypothesis", _HYP_CUES, attr="TEXT")
    out = q.qualify(notes, ents)
    return out.select(
        F.col("note_id").alias("doc_id"),
        (F.col("tok_start") + 1).cast("bigint").alias("pos"),
        F.col("lexical_variant").alias("term"),
        "hypothesis",
    )


HYPOTHESIS_TOKENS_SQL = f"""
WITH {_TOK_CTE},
marked AS (
  SELECT doc_id, pos, token,
         LAST_VALUE(
           CASE WHEN token = 'filter' THEN 'T'
                WHEN token = 'slow' THEN 'C' END
           IGNORE NULLS) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_marker,
         FIRST_VALUE(
           CASE WHEN token = 'filter' THEN 'T'
                WHEN token = 'big' THEN 'C' END
           IGNORE NULLS) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_marker
  FROM tok
)
SELECT doc_id, pos, token AS term,
       (COALESCE(prev_marker = 'C', FALSE)
        OR COALESCE(next_marker = 'C', FALSE)) AS hypothesis
FROM marked WHERE token IN ('join', 'scan')
"""


# ---- full mention-level quantity engine --------------------------------

@caching.leased
def quantity_mentions_q(spark, sf_dir):
    """quantity_mentions over constructed French measurement texts: unit
    propagation ('N par M mm' -> both mm), followed_by composites
    ('1mNN' -> 1.NN m), ranges, unitless weight context, and plain
    pairs — every reference mention family in one oracled query."""
    from ..operators.quantities import quantity_mentions
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    n = (k % 28 + 2).cast("string")
    m2 = (k % 9 + 3).cast("string")
    c = (k % 90 + 10).cast("string")
    w = (k % 150 + 40).cast("string")
    text = (
        F.when(k % 5 == 0, F.concat(F.lit("la tumeur fait "), n,
                                    F.lit(" par "), m2, F.lit(" mm")))
        .when(k % 5 == 1, F.concat(F.lit("le patient fait 1m"), c))
        .when(k % 5 == 2, F.concat(F.lit("lesion entre "), n,
                                   F.lit(" et "), (k % 28 + 5).cast("string"),
                                   F.lit(" cm")))
        .when(k % 5 == 3, F.concat(F.lit("poids : "), w))
        .otherwise(F.concat(F.lit("mesure "), n, F.lit(" cm x "), m2,
                            F.lit(" cm")))
    )
    notes = caching.persist(
        o.select(k.alias("note_id"), text.alias("note_text"))
        .repartition(spark.sparkContext.defaultParallelism))
    out = quantity_mentions(notes)
    return out.select(
        F.col("note_id").alias("o_orderkey"),
        "label", "unit", "norm",
        F.round("value", 4).alias("value"),
        F.round("value_high", 4).alias("value_high"),
        F.round("value_si", 6).alias("value_si"),
    )


QUANTITY_MENTIONS_SQL = """
WITH b AS (
  SELECT o_orderkey AS k, o_orderkey % 28 + 2 AS n, o_orderkey % 9 + 3 AS m2,
         o_orderkey % 90 + 10 AS c, o_orderkey % 150 + 40 AS w,
         o_orderkey % 28 + 5 AS hi, o_orderkey % 5 AS br
  FROM orders
)
SELECT k AS o_orderkey, 'size' AS label, 'mm' AS unit,
       n::VARCHAR || ' mm' AS norm, CAST(n AS DOUBLE) AS value,
       CAST(NULL AS DOUBLE) AS value_high, ROUND(n * 0.001, 6) AS value_si
FROM b WHERE br = 0
UNION ALL
SELECT k, 'size', 'mm', m2::VARCHAR || ' mm', CAST(m2 AS DOUBLE),
       NULL, ROUND(m2 * 0.001, 6) FROM b WHERE br = 0
UNION ALL
SELECT k, 'size', 'm', (1 + c / 100.0)::VARCHAR || ' m',
       ROUND(1 + c / 100.0, 4), NULL, ROUND(1 + c / 100.0, 6)
FROM b WHERE br = 1
UNION ALL
SELECT k, 'size', 'cm', n::VARCHAR || '-' || hi::VARCHAR || ' cm',
       CAST(n AS DOUBLE), CAST(hi AS DOUBLE), ROUND(n * 0.01, 6)
FROM b WHERE br = 2
UNION ALL
SELECT k, 'weight', 'kg', w::VARCHAR || ' kg', CAST(w AS DOUBLE),
       NULL, ROUND(w * 1000.0, 6) FROM b WHERE br = 3
UNION ALL
SELECT k, 'size', 'cm', n::VARCHAR || ' cm', CAST(n AS DOUBLE),
       NULL, ROUND(n * 0.01, 6) FROM b WHERE br = 4
UNION ALL
SELECT k, 'size', 'cm', m2::VARCHAR || ' cm', CAST(m2 AS DOUBLE),
       NULL, ROUND(m2 * 0.01, 6) FROM b WHERE br = 4
"""


# ---- PII scrubbing (training-data pipeline) ----------------------------

def pii_redaction(spark, sf_dir):
    """PIIScrubber over documents with one injected identifier per doc
    (email / FR phone / NIR / FR IBAN by doc_id%4): per-class hit
    counts + the placeholder-redacted text.  Patterns are RE2-safe so
    the oracle runs the SAME regex strings.  NIR digits avoid '0' (via
    translate) so no phone-shaped substring hides inside — class counts
    stay independent of redaction order."""
    from ..operators.pii import PIIScrubber, PII_PATTERNS
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    email = F.concat(F.lit("contact jean.dupont"), k.cast("string"),
                     F.lit("@example.org"))
    phone = F.concat(F.lit("appeler 06 "),
                     F.lpad((k % 89 + 10).cast("string"), 2, "0"),
                     F.lit(" 34 56 78"))
    nir = F.concat(F.lit("nir 18411"),
                   F.translate(F.lpad((k % 100000000).cast("string"),
                                      8, "0"), "0", "9"),
                   F.lit("42"))
    iban = F.concat(F.lit("compte FR76"),
                    F.lpad(k.cast("string"), 23, "0"))
    inject = (F.when(k % 4 == 0, email).when(k % 4 == 1, phone)
              .when(k % 4 == 2, nir).otherwise(iban))
    notes = d.select(
        "doc_id",
        F.concat(F.substring("text", 1, 40), F.lit(" "), inject,
                 F.lit(" fin")).alias("note_text"))
    sc = PIIScrubber()
    out = sc.transform(notes)
    counts = [
        F.size(F.regexp_extract_all(
            "note_text", F.lit(PII_PATTERNS[c]), F.lit(0)))
        .cast("int").alias(f"n_{c}")
        for c in ("email", "phone", "nir", "iban")
    ]
    return out.select("doc_id", *counts, "note_text_redacted")


def _pii_sql():
    from ..operators.pii import PII_PATTERNS

    def esc(rx):
        return rx.replace("'", "''")

    red = "note_text"
    for label in ("iban", "nir", "email", "phone"):
        red = (f"regexp_replace({red}, '{esc(PII_PATTERNS[label])}', "
               f"'[{label.upper()}]', 'g')")
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(note_text, "
        f"'{esc(PII_PATTERNS[c])}')) AS INT) AS n_{c}"
        for c in ("email", "phone", "nir", "iban"))
    return f"""
WITH built AS (
  SELECT doc_id,
    substr(text, 1, 40) || ' ' ||
    CASE doc_id % 4
      WHEN 0 THEN 'contact jean.dupont' || doc_id || '@example.org'
      WHEN 1 THEN 'appeler 06 ' ||
                  lpad((doc_id % 89 + 10)::VARCHAR, 2, '0') || ' 34 56 78'
      WHEN 2 THEN 'nir 18411' ||
                  translate(lpad((doc_id % 100000000)::VARCHAR, 8, '0'),
                            '0', '9') || '42'
      ELSE 'compte FR76' || lpad(doc_id::VARCHAR, 23, '0')
    END || ' fin' AS note_text
  FROM documents)
SELECT doc_id, {counts}, {red} AS note_text_redacted
FROM built
"""


PII_REDACTION_SQL = _pii_sql()


def _pii_count_sql(col: str) -> str:
    """DuckDB expression for PIIScrubber.match_count(col): sum of
    per-pattern match counts on the pre-redaction text."""
    from ..operators.pii import PII_PATTERNS
    terms = " + ".join(
        f"len(regexp_extract_all({col}, '{rx}'))"
        for rx in PII_PATTERNS.values())
    return f"({terms})"


# ---- test-set decontamination (training-data pipeline) -----------------

_DECON_CANARY = ("the quick spark benchmark canary passage "
                 "rows columns shuffle joins")


def decontamination_overlap(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents sharing any
    8-token shingle with the eval split (doc_id%97==0).  A fixed canary
    passage is appended to the eval docs AND to doc_id%31==5 corpus
    docs, so known-contaminated rows exist.  Plan: one shingle explode,
    distinct eval shingles broadcast, equi-join + countDistinct — the
    standard n-gram-overlap decontamination shape (eval sets are tiny
    next to the corpus, so the broadcast side stays small at 100 TB)."""
    from ..operators.dedup import token_shingles
    docs = _notes(spark, sf_dir)
    k = F.col("note_id")
    is_eval = (k % 97 == 0)
    tainted = (k % 31 == 5) & ~is_eval
    docs = docs.select(
        "note_id", is_eval.alias("is_eval"),
        F.when(is_eval | tainted,
               F.concat("note_text", F.lit(" " + _DECON_CANARY)))
        .otherwise(F.col("note_text")).alias("note_text"))
    sh = docs.select(
        "note_id", "is_eval",
        F.explode(token_shingles(F.col("note_text"), 8)).alias("sh"))
    eval_sh = sh.filter("is_eval").select("sh").distinct()
    hits = (
        sh.filter(~F.col("is_eval"))
        .join(F.broadcast(eval_sh), "sh")
        .groupBy("note_id")
        .agg(F.countDistinct("sh").cast("bigint").alias("n_hits"))
    )
    return (
        docs.filter(~F.col("is_eval")).select("note_id")
        .join(hits, "note_id", "left")
        .select(
            F.col("note_id").alias("doc_id"),
            F.coalesce("n_hits", F.lit(0).cast("bigint")).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


DECONTAMINATION_SQL = f"""
WITH built AS (
  SELECT doc_id, doc_id % 97 = 0 AS is_eval,
         CASE WHEN doc_id % 97 = 0 OR doc_id % 31 = 5
              THEN text || ' {_DECON_CANARY}' ELSE text END AS text
  FROM documents),
tok AS (SELECT doc_id, is_eval, string_split(text, ' ') AS t FROM built),
sh AS (
  SELECT DISTINCT doc_id, is_eval,
         unnest([array_to_string(t[i:i+7], ' ')
                 for i in range(1, len(t) - 6)]) AS sh
  FROM tok),
ev AS (SELECT DISTINCT sh FROM sh WHERE is_eval),
hits AS (
  SELECT s.doc_id, CAST(COUNT(DISTINCT s.sh) AS BIGINT) AS n_hits
  FROM sh s JOIN ev USING (sh) WHERE NOT s.is_eval GROUP BY s.doc_id)
SELECT b.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM built b LEFT JOIN hits h USING (doc_id)
WHERE NOT b.is_eval
"""


# ---- unigram LM quality scoring (training-data pipeline) ---------------

def unigram_logppl(spark, sf_dir):
    """CCNet-style LM quality filter: train a unigram LM on the corpus
    itself (token -> ln(count/total)), score every document by its mean
    negative log-probability (low = in-distribution, high = outlier).

    Plan: one token explode feeds BOTH the LM aggregation and the
    scoring join.  The LM side carries NO broadcast hint: real vocabs
    follow Heaps' law into millions of rows, so a hard-coded
    broadcast hint on the LM would OOM the driver at web-corpus scale.  With
    AQE on, Spark measures the built side at runtime and broadcasts
    exactly when it fits (it does at test SF); above the threshold it
    degrades gracefully to a shuffle join on `t`.  The 1-row `total`
    aggregate is bounded by construction and keeps its hint."""
    docs = _notes(spark, sf_dir)
    tok = docs.select(
        "note_id", F.explode(F.split("note_text", " ")).alias("t"))
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("tot"))
    lm = counts.crossJoin(F.broadcast(total)).select(
        "t",
        F.log(F.col("c").cast("double") / F.col("tot").cast("double"))
        .alias("logp"))
    return (
        tok.join(lm, "t")
        .groupBy("note_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
             F.round(F.avg(-F.col("logp")), 4).alias("nll"))
        .select(F.col("note_id").alias("doc_id"), "n_tokens", "nll")
    )


UNIGRAM_LOGPPL_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT SUM(c) AS tot FROM cnt),
lm AS (SELECT t, ln(c::DOUBLE / tot::DOUBLE) AS logp FROM cnt, tot)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(-logp), 4) AS nll
FROM tok JOIN lm USING (t) GROUP BY doc_id
"""


def ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail quality buckets (Wenzek et al. 2020):
    per-LANGUAGE unigram LM, per-doc mean NLL, then per-language NLL
    tertiles — 'head' is the most in-distribution third, the slice
    CCNet ships as the highest-quality tier.

    Plan: one token explode feeds the per-lang LM aggregation and the
    scoring join (LM side un-hinted — AQE broadcasts when it fits,
    Heaps' law says don't promise it); the tertile is an exact
    ntile(3) per language, deterministic via (nll, doc_id) ordering so
    the DuckDB oracle reproduces bucket boundaries bit-for-bit.  At
    corpus scale swap the exact ntile for approx-percentile CUTOFFS
    computed on the nll plane (one pass, no per-language sort) and a
    threshold projection — same output contract, sort-free; the exact
    variant is kept here because the driver gate hashes values.
    """
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang",
                   F.explode(F.split("text", " ")).alias("t"))
    counts = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("lang").agg(F.sum("c").alias("tot"))
    lm = counts.join(totals, "lang").select(
        "lang", "t",
        F.log(F.col("c").cast("double") / F.col("tot").cast("double"))
        .alias("logp"))
    nll = (
        tok.join(lm, ["lang", "t"])
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg(-F.col("logp")), 4).alias("nll"))
    )
    w = Window.partitionBy("lang").orderBy("nll", "doc_id")
    nt = F.ntile(3).over(w)
    return nll.select(
        "doc_id", "lang", "nll",
        F.when(nt == 1, F.lit("head"))
        .when(nt == 2, F.lit("middle"))
        .otherwise(F.lit("tail")).alias("bucket"),
    )


CCNET_BUCKETS_SQL = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
  FROM documents),
cnt AS (SELECT lang, t, COUNT(*) AS c FROM tok GROUP BY lang, t),
tot AS (SELECT lang, SUM(c) AS tot FROM cnt GROUP BY lang),
lm AS (SELECT cnt.lang, t, ln(c::DOUBLE / tot::DOUBLE) AS logp
       FROM cnt JOIN tot USING (lang)),
nll AS (
  SELECT doc_id, lang, ROUND(AVG(-logp), 4) AS nll
  FROM tok JOIN lm USING (lang, t) GROUP BY doc_id, lang),
b AS (
  SELECT doc_id, lang, nll,
         NTILE(3) OVER (PARTITION BY lang ORDER BY nll, doc_id) AS nt
  FROM nll)
SELECT doc_id, lang, nll,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS bucket
FROM b
"""


def bigram_logppl(spark, sf_dir):
    """Interpolated bigram-LM quality filter — the next LM tier above
    unigram_logppl (CCNet trains 5-gram KenLM; a corpus-trained
    interpolated bigram is the same shape one order up): score each doc
    by the mean negative log of
    0.9 * P(w_i | w_{i-1}) + 0.1 * P(w_i).

    Plan: ONE bigram explode (single-pass lookahead regexp, like the
    shingle path) feeds both the bigram-count aggregate and the scoring
    join; unigram counts join twice (history count for the conditional,
    current-token count for the backoff).  Like unigram_logppl, the LM
    sides carry NO broadcast hint — real vocabs follow Heaps' law, AQE
    broadcasts exactly when the built side fits; only the 1-row total
    keeps its hint."""
    docs = _notes(spark, sf_dir)
    rx2 = r"(?=([^ ]+ [^ ]+))[^ ]+ "
    big = docs.select(
        "note_id",
        F.explode(F.regexp_extract_all(
            F.col("note_text"), F.lit(rx2), F.lit(1))).alias("bg"),
    ).select(
        "note_id", "bg",
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("prev"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("cur"),
    )
    tok = docs.select(F.explode(F.split("note_text", " ")).alias("t"))
    ug = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cu"))
    total = ug.agg(F.sum("cu").alias("tot"))
    bg_lm = big.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        big.join(bg_lm, "bg")
        .join(ug.select(F.col("t").alias("prev"),
                        F.col("cu").alias("cprev")), "prev")
        .join(ug.select(F.col("t").alias("cur"),
                        F.col("cu").alias("ccur")), "cur")
        .crossJoin(F.broadcast(total))
        .select(
            "note_id",
            (-F.log(
                F.lit(0.9) * (F.col("cb").cast("double")
                              / F.col("cprev").cast("double"))
                + F.lit(0.1) * (F.col("ccur").cast("double")
                                / F.col("tot").cast("double"))
            )).alias("nll_i"),
        )
    )
    return (
        scored.groupBy("note_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
             F.round(F.avg("nll_i"), 4).alias("nll"))
        .select(F.col("note_id").alias("doc_id"), "n_bigrams", "nll")
    )


BIGRAM_LOGPPL_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
big AS (
  SELECT doc_id,
         unnest([toks[i+1] || ' ' || toks[i+2]
                 for i in range(len(toks) - 1)]) AS bg
  FROM t
),
sp AS (
  SELECT doc_id, bg,
         string_split(bg, ' ')[1] AS prev,
         string_split(bg, ' ')[2] AS cur
  FROM big
),
ug AS (
  SELECT t AS tk, COUNT(*) AS cu
  FROM (SELECT unnest(toks) AS t FROM t) GROUP BY t
),
tot AS (SELECT SUM(cu) AS tot FROM ug),
bg_lm AS (SELECT bg, COUNT(*) AS cb FROM big GROUP BY bg),
scored AS (
  SELECT doc_id,
         -ln(0.9 * (cb::DOUBLE / up.cu::DOUBLE)
             + 0.1 * (uc.cu::DOUBLE / tot::DOUBLE)) AS nll_i
  FROM sp
  JOIN bg_lm USING (bg)
  JOIN ug up ON up.tk = sp.prev
  JOIN ug uc ON uc.tk = sp.cur
  CROSS JOIN tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(nll_i), 4) AS nll
FROM scored GROUP BY doc_id
"""


# ---- Gopher-style repetition filters (training-data pipeline) ----------

def gopher_repetition(spark, sf_dir):
    """Gopher/FineWeb repetition-quality rules per document: fraction of
    bigram INSTANCES whose bigram occurs more than once in the doc, and
    the share of the single most frequent bigram.

    SHUFFLE-FREE: the whole computation is per-document, so there is no
    (doc, gram) groupBy at all — bigram run statistics come from an
    in-row ``sort_array`` + scalar-accumulator ``aggregate`` fold
    (the repo's linear-fold pattern; the accumulator holds 4 scalars,
    never a growing array).  The plan has NO hash-partition Exchange:
    at 100 TB the stats are a projection over the scan.

    Token stream is ``split(text, ' ')`` — identical to the oracle's
    ``string_split`` (empty tokens kept), so both sides see the same
    bigram multiset even on documents with consecutive spaces
    (ADVICE r3 split-semantics parity)."""
    docs = _notes(spark, sf_dir)
    t = F.split("note_text", " ")
    n = F.size(t)
    grams = F.when(
        n >= 2,
        F.zip_with(F.slice(t, 1, n - 1), F.slice(t, 2, n - 1),
                   lambda a, b: F.concat_ws(" ", a, b)),
    ).otherwise(F.array().cast("array<string>"))
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("top"),
    )

    def _step(acc, x):
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        closed_dup = acc["dup"] + F.when(
            acc["run"] > 1, acc["run"]).otherwise(F.lit(0))
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(same, acc["dup"]).otherwise(closed_dup).alias("dup"),
            F.when(same, acc["top"])
            .otherwise(F.greatest(acc["top"], acc["run"])).alias("top"),
        )

    stats = F.aggregate(
        F.sort_array(grams), init, _step,
        lambda acc: F.struct(
            (acc["dup"] + F.when(acc["run"] > 1, acc["run"])
             .otherwise(F.lit(0))).alias("dup"),
            F.greatest(acc["top"], acc["run"]).alias("top"),
        ),
    )
    return (
        docs.select(
            F.col("note_id").alias("doc_id"),
            F.greatest(n - 1, F.lit(0)).cast("bigint").alias("n_bigrams"),
            stats.alias("__s"),
        )
        .filter(F.col("n_bigrams") >= 1)
        .select(
            "doc_id", "n_bigrams",
            F.round(F.col("__s.dup") / F.col("n_bigrams"), 4)
            .alias("dup_bigram_frac"),
            F.round(F.col("__s.top") / F.col("n_bigrams"), 4)
            .alias("top_bigram_frac"),
        )
    )


GOPHER_REPETITION_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id,
         unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
  FROM tok),
per AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) / SUM(c), 4)
         AS dup_bigram_frac,
       ROUND(MAX(c) / SUM(c), 4) AS top_bigram_frac
FROM per GROUP BY doc_id
"""


# ---- deterministic split assignment (training-data pipeline) -----------

_SPLIT_MULT = 2654435761  # Knuth multiplicative hash constant
_SPLIT_MOD = 4294967296   # 2^32


def _knuth32(col):
    """``(doc_id * 2654435761) mod 2^32`` WITHOUT int64 overflow.

    The naive product overflows int64 for doc_id above ~3.47e9 — Spark
    (non-ANSI) wraps silently while DuckDB widens to int128, so the
    "any engine derives the SAME split" determinism claim would break
    exactly at 100 TB scale (ADVICE r3).  Splitting the 32-bit residue
    into 16-bit halves keeps every intermediate < 2^49:
    ``a*b mod 2^32 == ((a_hi*b mod 2^16)*2^16 + a_lo*b) mod 2^32``.
    Identical to the plain product whenever it does not overflow, so
    existing small-id hashes are unchanged."""
    a = F.pmod(col, F.lit(_SPLIT_MOD))
    hi = F.shiftright(a, 16) * F.lit(_SPLIT_MULT) % F.lit(65536)
    lo = (a % F.lit(65536)) * F.lit(_SPLIT_MULT)
    return (hi * F.lit(65536) + lo) % F.lit(_SPLIT_MOD)


def _knuth32_sql(expr: str) -> str:
    """DuckDB rendering of :func:`_knuth32` (same 16-bit-split modmul,
    `//` integer division) so both engines agree for ANY int64 id."""
    a = f"((({expr}) % {_SPLIT_MOD} + {_SPLIT_MOD}) % {_SPLIT_MOD})"
    return (f"((({a} // 65536) * {_SPLIT_MULT} % 65536) * 65536"
            f" + ({a} % 65536) * {_SPLIT_MULT}) % {_SPLIT_MOD}")


def split_assignment(spark, sf_dir):
    """Deterministic train/val/test assignment: a Knuth multiplicative
    hash of the document id buckets every doc reproducibly (95/2.5/2.5)
    — no RNG state, so any engine (or a later re-run over 100 TB)
    derives the SAME split.  Pure projection + a per-(lang, split)
    count rollup to audit stratification."""
    d = _t(spark, sf_dir, "documents")
    u = _knuth32(F.col("doc_id"))
    split = (
        F.when(u < F.lit(int(0.95 * _SPLIT_MOD)), F.lit("train"))
        .when(u < F.lit(int(0.975 * _SPLIT_MOD)), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("doc_id", "lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


SPLIT_ASSIGNMENT_SQL = f"""
WITH assigned AS (
  SELECT doc_id, lang,
         CASE WHEN {_knuth32_sql('doc_id')}
                   < {int(0.95 * _SPLIT_MOD)} THEN 'train'
              WHEN {_knuth32_sql('doc_id')}
                   < {int(0.975 * _SPLIT_MOD)} THEN 'val'
              ELSE 'test' END AS split
  FROM documents)
SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM assigned GROUP BY lang, split
"""


# ---- end-to-end corpus curation (composed pipeline) --------------------

def curation_quality_gate(docs):
    """Per-row curation stage 1 (pure projection + filter — streams
    unchanged): Gopher-ish quality gate, length + lexical diversity.
    Factored out of :func:`corpus_curation` so the EXACT same stage
    runs in the streaming curation pipeline
    (streaming/pipeline_stream.py curation_stream, VERDICT r6 #7)."""
    toks = F.split("text", " ")
    return docs.select(
        "doc_id", "text", F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("__dr"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    ).filter((F.col("n_tokens") >= 30) & (F.col("__dr") >= 0.3)) \
     .drop("__dr")


def curation_finalize(kept, extra_cols=()):
    """Per-row curation stage 3 (pure projection — streams unchanged):
    deterministic split assignment + PII redaction.  Shared by
    :func:`corpus_curation` (batch), :func:`corpus_curation_strip`
    (batch, span-granular dedup) and curation_stream (streaming); the
    dedup stage BETWEEN gate and finalize is the only part whose
    mechanism differs (batch: min-doc_id per content hash OR Lee et al.
    span removal; streaming: first-arrival
    dropDuplicatesWithinWatermark).  ``extra_cols`` pass through
    untouched (e.g. the strip variant's n_removed — carrying it here
    keeps the upstream plan referenced ONCE instead of re-executing its
    subtree for a metadata join).

    Emits ``n_redactions`` alongside ``text_redacted`` so a consumer
    whose final projection is metadata-only still EXECUTES the PII
    scan (ADVICE r8 #3: with text_redacted alone, Catalyst pruned the
    scrubber out of both curation queries' plans and bench timings)."""
    from ..operators.pii import PIIScrubber
    scrub = PIIScrubber(text_col="text")
    u = _knuth32(F.col("doc_id"))
    split = (
        F.when(u < F.lit(int(0.95 * _SPLIT_MOD)), F.lit("train"))
        .when(u < F.lit(int(0.975 * _SPLIT_MOD)), F.lit("val"))
        .otherwise(F.lit("test")))
    return scrub.transform(
        kept.select("doc_id", "text", "n_tokens", split.alias("split"),
                    scrub.match_count(F.col("text"))
                    .cast("bigint").alias("n_redactions"),
                    *extra_cols))


def corpus_curation(spark, sf_dir):
    """A full FineWeb-style curation pass as ONE composed DataFrame
    plan: Gopher-ish quality gate (length + lexical diversity) -> exact
    content dedup (keep smallest doc_id per md5) -> PII redaction ->
    deterministic split assignment -> greedy sequence packing of the
    train split.  Every stage is one of this repo's operators; Catalyst
    sees the whole chain and prunes/pushes across stage boundaries —
    the composability argument for an engine living inside Spark.

    NOTE (r8): the ``scrubbed`` plane is deliberately NOT persisted
    despite being referenced twice — A/B'd both ways in one session at
    sf0.1: unpersisted 1.03-1.44s vs persisted 1.46-1.53s warm.  The
    gate+dedup subtree is one scan + a small groupBy, cheaper to run
    twice than to pay the persist's materialization barrier (the r3
    "persist is also a pruning barrier — measure both ways" lesson).
    The STRIP variant below makes the opposite call for the opposite
    reason."""
    from ..operators.packing import pack_documents
    d = _t(spark, sf_dir, "documents")
    kept = curation_quality_gate(d.select("doc_id", "text"))
    # exact dedup: survive iff smallest doc_id for this content hash
    first = kept.groupBy(F.md5("text").alias("__fp")).agg(
        F.min("doc_id").alias("doc_id"))
    kept = kept.join(first, "doc_id")
    scrubbed = curation_finalize(kept)
    train = scrubbed.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("note_id"),
        F.col("text_redacted").alias("note_text"),
        "n_tokens")
    packed = pack_documents(train, budget=512, n_shards=4,
                            count_col="n_tokens")
    return (
        scrubbed.select("doc_id", "split", "n_tokens", "n_redactions")
        .join(packed.select(F.col("note_id").alias("doc_id"),
                            "shard", "pack_id"), "doc_id", "left")
        .select("doc_id", "split",
                F.col("n_tokens").cast("bigint").alias("n_tokens"),
                F.col("n_redactions").cast("bigint")
                .alias("n_redactions"),
                "shard", "pack_id")
    )


CORPUS_CURATION_SQL = f"""
WITH RECURSIVE feat AS (
  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' ')))
           / len(string_split(text, ' ')) AS dr
  FROM documents),
kept AS (
  SELECT doc_id, text, n_tokens FROM feat
  WHERE n_tokens >= 30 AND dr >= 0.3),
first AS (SELECT md5(text) AS fp, MIN(doc_id) AS doc_id FROM kept
          GROUP BY md5(text)),
surv AS (
  SELECT k.doc_id, k.n_tokens,
         {_pii_count_sql('k.text')} AS n_redactions,
         CASE WHEN {_knuth32_sql('k.doc_id')}
                   < {int(0.95 * _SPLIT_MOD)} THEN 'train'
              WHEN {_knuth32_sql('k.doc_id')}
                   < {int(0.975 * _SPLIT_MOD)} THEN 'val'
              ELSE 'test' END AS split
  FROM kept k JOIN first f USING (doc_id)),
train AS (
  SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
         CAST(n_tokens AS INT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn
  FROM surv WHERE split = 'train'),
packed AS (
  SELECT shard, rn, doc_id, n_tokens, n_tokens AS used, 0 AS pack
  FROM train WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN p.used + t.n_tokens > 512
              THEN t.n_tokens ELSE p.used + t.n_tokens END,
         CASE WHEN p.used + t.n_tokens > 512 THEN p.pack + 1 ELSE p.pack END
  FROM train t JOIN packed p ON t.shard = p.shard AND t.rn = p.rn + 1)
SELECT s.doc_id, s.split, CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(s.n_redactions AS BIGINT) AS n_redactions,
       p.shard, CAST(p.pack AS INT) AS pack_id
FROM surv s LEFT JOIN packed p USING (doc_id)
"""


@caching.leased
def corpus_curation_strip(spark, sf_dir):
    """Curation with SPAN-GRANULAR dedup (VERDICT r7 #7): the same
    composed pass as :func:`corpus_curation` but the doc-level exact
    dedup stage is replaced by Lee et al. 2022 exact-substring span
    REMOVAL — quality gate -> strip_duplicated_spans (every duplicated
    13-token window keeps its first occurrence, the rest are cut
    in-place) -> PII redaction -> deterministic split -> greedy packing
    of the train split over the POST-strip token counts.  This is the
    production shape: doc-level dedup drops whole documents, span
    removal reclaims the unique remainder of partially-copied ones.

    Streaming note: the batch pipeline can swap this stage in because
    keeper election (min (doc, pos) per window hash) needs the WHOLE
    corpus's occurrences; under Structured Streaming that would be
    unbounded cross-document state (every window hash ever seen, with
    its first occurrence), so curation_stream keeps doc-level
    first-arrival dedup and span removal stays a batch-boundary
    compaction pass (see streaming/pipeline_stream.py).
    """
    from ..operators.dedup import strip_duplicated_spans
    from ..operators.packing import pack_documents
    d = _t(spark, sf_dir, "documents")
    kept = curation_quality_gate(d.select("doc_id", "text"))
    stripped = strip_duplicated_spans(
        kept.select("doc_id", "text"), n=13)
    n_tok = F.when(F.col("text_clean") == "", F.lit(0)).otherwise(
        F.size(F.split("text_clean", " ", -1)))
    scrubbed = curation_finalize(
        stripped.select("doc_id", F.col("text_clean").alias("text"),
                        n_tok.alias("n_tokens"), "n_removed"),
        extra_cols=("n_removed",))
    # the compact plane feeds BOTH the packing leg and the final
    # metadata join; unpersisted, the whole gate+strip subtree
    # executed twice (measured 2.43 -> 1.41s warm at sf0.1).
    # text_redacted is Catalyst-pruned (packing only reads
    # n_tokens) but n_redactions keeps the PII SCAN in the plan
    # (ADVICE r8 #3) — the persist holds metadata columns only.
    compact = caching.persist(
        scrubbed.select("doc_id", "split", "n_tokens", "n_removed",
                        "n_redactions"))
    train = compact.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("note_id"), "n_tokens")
    packed = pack_documents(train, budget=512, n_shards=4,
                            count_col="n_tokens")
    return (
        compact
        .join(packed.select(F.col("note_id").alias("doc_id"),
                            "shard", "pack_id"), "doc_id", "left")
        .select("doc_id", "split",
                F.col("n_tokens").cast("bigint").alias("n_tokens"),
                F.col("n_removed").cast("bigint").alias("n_removed"),
                F.col("n_redactions").cast("bigint")
                .alias("n_redactions"),
                "shard", "pack_id")
    )


CORPUS_CURATION_STRIP_SQL = f"""
WITH RECURSIVE feat AS (
  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' ')))
           / len(string_split(text, ' ')) AS dr
  FROM documents),
gated AS (
  SELECT doc_id, text FROM feat
  WHERE n_tokens >= 30 AND dr >= 0.3),
t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM gated
),
w AS (
  SELECT doc_id,
         unnest(range(greatest(len(toks) - 12, 0))) AS pos,
         unnest([array_to_string(toks[i+1:i+13], ' ')
                 for i in range(greatest(len(toks) - 12, 0))]) AS win
  FROM t
),
h AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(win), 1, 15))::BIGINT AS hv
  FROM w
),
r AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY hv) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY hv
                            ORDER BY doc_id, pos) AS rn
  FROM h
),
rem AS (SELECT doc_id, pos FROM r WHERE cnt >= 2 AND rn > 1),
cov AS (
  SELECT DISTINCT doc_id, idx FROM (
    SELECT doc_id, unnest(range(pos, pos + 13)) AS idx FROM rem)
),
tokrows AS (
  SELECT doc_id, unnest(range(len(toks))) AS idx, unnest(toks) AS tokv
  FROM t
),
keptrows AS (
  SELECT k.doc_id, k.idx, k.tokv
  FROM tokrows k ANTI JOIN cov c
    ON k.doc_id = c.doc_id AND k.idx = c.idx
),
agg AS (
  SELECT doc_id, string_agg(tokv, ' ' ORDER BY idx) AS text_clean
  FROM keptrows GROUP BY doc_id
),
nrem AS (SELECT doc_id, COUNT(*)::BIGINT AS n_removed FROM cov
         GROUP BY doc_id),
stripped AS (
  SELECT t.doc_id,
         CASE WHEN n.n_removed IS NULL THEN t.text
              ELSE COALESCE(a.text_clean, '') END AS text_clean,
         COALESCE(n.n_removed, 0) AS n_removed
  FROM t LEFT JOIN agg a USING (doc_id) LEFT JOIN nrem n USING (doc_id)),
surv AS (
  SELECT doc_id, n_removed,
         CASE WHEN text_clean = '' THEN 0
              ELSE len(string_split(text_clean, ' ')) END AS n_tokens,
         {_pii_count_sql('text_clean')} AS n_redactions,
         CASE WHEN {_knuth32_sql('doc_id')}
                   < {int(0.95 * _SPLIT_MOD)} THEN 'train'
              WHEN {_knuth32_sql('doc_id')}
                   < {int(0.975 * _SPLIT_MOD)} THEN 'val'
              ELSE 'test' END AS split
  FROM stripped),
train AS (
  SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
         CAST(n_tokens AS INT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn
  FROM surv WHERE split = 'train'),
packed AS (
  SELECT shard, rn, doc_id, n_tokens, n_tokens AS used, 0 AS pack
  FROM train WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN p.used + t.n_tokens > 512
              THEN t.n_tokens ELSE p.used + t.n_tokens END,
         CASE WHEN p.used + t.n_tokens > 512 THEN p.pack + 1 ELSE p.pack END
  FROM train t JOIN packed p ON t.shard = p.shard AND t.rn = p.rn + 1)
SELECT s.doc_id, s.split, CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(s.n_removed AS BIGINT) AS n_removed,
       CAST(s.n_redactions AS BIGINT) AS n_redactions,
       p.shard, CAST(p.pack AS INT) AS pack_id
FROM surv s LEFT JOIN packed p USING (doc_id)
"""


# ---- source mixture balancing (training-data pipeline) -----------------

_MIX_BUDGET_FRAC = 0.6  # corpus-level token/doc budget


def source_mixture_sample(spark, sf_dir):
    """Data-mixing pass: deterministically downsample each source to a
    weighted quota (weights from config; quota_s = share_s * budget),
    keeping doc iff knuth_hash(doc_id) * n_s < quota_s * 2^32 — an
    ALL-INTEGER threshold, so the oracle reproduces the exact keep set.
    Two passes: a per-source count (tiny aggregate, broadcast back) and
    a pure-projection filter — the standard mixture-reweighting shape
    (counts are metadata; the corpus is never shuffled)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    # configured weights: source index % 3 -> 1x / 2x / 3x
    widx = F.regexp_extract("source", r"(\d+)", 1).cast("int") % 3 + 1
    d = d.withColumn("w", widx.cast("bigint"))
    counts = d.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("w").alias("wsum"),
                     F.sum("n_docs").alias("n_total"))
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs",
        F.floor(F.col("w") * F.floor(F.lit(_MIX_BUDGET_FRAC)
                                     * F.col("n_total"))
                / F.col("wsum")).cast("bigint").alias("quota"))
    u = _knuth32(F.col("doc_id"))
    kept = (
        d.join(F.broadcast(quota), "source")
        .filter(u * F.col("n_docs") < F.col("quota") * F.lit(_SPLIT_MOD))
    )
    return (
        kept.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"))
        .join(quota, "source", "right")
        .select("source",
                F.col("n_docs").cast("bigint").alias("n_docs"), "quota",
                F.coalesce("n_kept", F.lit(0).cast("bigint"))
                .alias("n_kept"))
    )


SOURCE_MIXTURE_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 3 + 1 AS w
  FROM documents),
counts AS (
  SELECT source, any_value(w) AS w, COUNT(*) AS n_docs
  FROM d GROUP BY source),
tot AS (SELECT SUM(w) AS wsum, SUM(n_docs) AS n_total FROM counts),
quota AS (
  SELECT source, n_docs,
         CAST(FLOOR(w * FLOOR({_MIX_BUDGET_FRAC} * n_total) / wsum)
              AS BIGINT) AS quota
  FROM counts, tot),
kept AS (
  SELECT d.source, COUNT(*) AS n_kept
  FROM d JOIN quota q USING (source)
  WHERE ({_knuth32_sql('d.doc_id')}) * q.n_docs
        < q.quota * {_SPLIT_MOD}
  GROUP BY d.source)
SELECT q.source, CAST(q.n_docs AS BIGINT) AS n_docs, q.quota,
       COALESCE(k.n_kept, 0) AS n_kept
FROM quota q LEFT JOIN kept k USING (source)
"""


# ---- corpus duplication profile (Lee et al. reporting metric) -----------

def duplication_profile(spark, sf_dir):
    """Per-source duplication profile (r9): the reporting rollup Lee et
    al. 2022 publish — what fraction of each source's TOKENS sits in
    duplicated 13-token spans, and how many docs are affected ->
    (source, n_docs, n_docs_with_dups, total_tokens, dup_tokens,
    dup_fraction).  Removal semantics match strip_duplicated_spans
    (keeper = min (doc, pos) survives; covered-index union), but only
    the COUNTS are computed — no text reconstruction, so the plan is
    the skew-immune groupBy(h) + removed-window explode + one bounded
    per-source rollup."""
    from ..operators.dedup import strip_duplicated_spans
    d = _t(spark, sf_dir, "documents")
    s = strip_duplicated_spans(d.select("doc_id", "text"), n=13)
    j = s.join(d.select("doc_id", "source",
                        F.size(F.split("text", " ", -1))
                        .cast("bigint").alias("n_tokens")), "doc_id")
    return (
        j.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum((F.col("n_removed") > 0).cast("int")).cast("bigint")
             .alias("n_docs_with_dups"),
             F.sum("n_tokens").cast("bigint").alias("total_tokens"),
             F.sum("n_removed").cast("bigint").alias("dup_tokens"))
        .select("source", "n_docs", "n_docs_with_dups", "total_tokens",
                "dup_tokens",
                F.round(F.col("dup_tokens") / F.col("total_tokens"), 4)
                .alias("dup_fraction"))
    )


DUPLICATION_PROFILE_SQL = """
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
w AS (
  SELECT doc_id,
         unnest(range(greatest(len(toks) - 12, 0))) AS pos,
         unnest([array_to_string(toks[i+1:i+13], ' ')
                 for i in range(greatest(len(toks) - 12, 0))]) AS win
  FROM t
),
h AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(win), 1, 15))::BIGINT AS hv
  FROM w
),
r AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY hv) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY hv
                            ORDER BY doc_id, pos) AS rn
  FROM h
),
rem AS (SELECT doc_id, pos FROM r WHERE cnt >= 2 AND rn > 1),
cov AS (
  SELECT doc_id, COUNT(DISTINCT idx) AS n_removed FROM (
    SELECT doc_id, unnest(range(pos, pos + 13)) AS idx FROM rem)
  GROUP BY doc_id
),
j AS (
  SELECT t.source, len(t.toks)::BIGINT AS n_tokens,
         COALESCE(c.n_removed, 0)::BIGINT AS n_removed
  FROM t LEFT JOIN cov c USING (doc_id)
)
SELECT source, COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_docs_with_dups,
       SUM(n_tokens)::BIGINT AS total_tokens,
       SUM(n_removed)::BIGINT AS dup_tokens,
       ROUND(SUM(n_removed) / SUM(n_tokens), 4) AS dup_fraction
FROM j GROUP BY source
"""


# ---- temperature-based source mixing (XLM-R style) ----------------------

_TEMP_BUDGET_FRAC = 0.5


def temperature_mixture(spark, sf_dir):
    """Temperature-based mixture sampling (r9; Conneau et al. 2020
    §3.1 with alpha = 0.5): per-source sampling shares proportional to
    n_s^alpha flatten the source distribution — heads are downsampled,
    tails upweighted — before pretraining.  alpha = 0.5 makes the
    weight sqrt(n_s), which IEEE evaluates exactly-rounded on BOTH
    engines; the weight is then micro-scaled to an INTEGER
    (floor(sqrt(n_s) * 1e6)) so the share normalization and the keep
    threshold (knuth_hash(doc_id) * n_s < quota_s * 2^32) are
    all-integer, so both engines agree exactly.  Same two-pass shape
    as source_mixture_sample: one tiny per-source count broadcast
    back, one pure-projection filter."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.floor(F.sqrt(F.col("n_docs")) * F.lit(1000000.0)).cast("bigint")
    counts = counts.select("source", "n_docs", w.alias("w"))
    tot = counts.agg(F.sum("w").alias("wsum"),
                     F.sum("n_docs").alias("n_total"))
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs",
        F.floor(F.col("w") * F.floor(F.lit(_TEMP_BUDGET_FRAC)
                                     * F.col("n_total"))
                / F.col("wsum")).cast("bigint").alias("quota"))
    u = _knuth32(F.col("doc_id"))
    kept = (
        d.join(F.broadcast(quota), "source")
        .filter(u * F.col("n_docs") < F.col("quota") * F.lit(_SPLIT_MOD))
    )
    return (
        kept.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"))
        .join(quota, "source", "right")
        .select("source",
                F.col("n_docs").cast("bigint").alias("n_docs"), "quota",
                F.coalesce("n_kept", F.lit(0).cast("bigint"))
                .alias("n_kept"))
    )


TEMPERATURE_MIXTURE_SQL = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(FLOOR(sqrt(COUNT(*)) * 1000000.0) AS BIGINT) AS w
  FROM documents GROUP BY source),
tot AS (SELECT SUM(w) AS wsum, SUM(n_docs) AS n_total FROM counts),
quota AS (
  SELECT source, n_docs,
         CAST(FLOOR(w * FLOOR({_TEMP_BUDGET_FRAC} * n_total) / wsum)
              AS BIGINT) AS quota
  FROM counts, tot),
kept AS (
  SELECT d.source, COUNT(*) AS n_kept
  FROM documents d JOIN quota q USING (source)
  WHERE ({_knuth32_sql('d.doc_id')}) * q.n_docs
        < q.quota * {_SPLIT_MOD}
  GROUP BY d.source)
SELECT q.source, CAST(q.n_docs AS BIGINT) AS n_docs, q.quota,
       COALESCE(k.n_kept, 0) AS n_kept
FROM quota q LEFT JOIN kept k USING (source)
"""


# ---- sequence packing (training-data pipeline) -------------------------

def sequence_packing(spark, sf_dir):
    """Greedy token-budget packing of documents (budget 256, 8 hash
    shards): deterministic (shard, pack_id) per doc — the corpus-level
    sample-packing step before pretraining batch assembly."""
    from ..operators.packing import pack_documents
    docs = _notes(spark, sf_dir)
    return pack_documents(docs, budget=256, n_shards=8) \
        .withColumnRenamed("note_id", "doc_id")


SEQUENCE_PACKING_SQL = r"""
WITH RECURSIVE docs AS (
  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         CAST(len(regexp_extract_all(text, '[^ \t\n\r\f]+'))
              AS INT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents),
packed AS (
  SELECT shard, rn, doc_id, n_tokens, n_tokens AS used, 0 AS pack
  FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN p.used + d.n_tokens > 256
              THEN d.n_tokens ELSE p.used + d.n_tokens END,
         CASE WHEN p.used + d.n_tokens > 256 THEN p.pack + 1 ELSE p.pack END
  FROM docs d JOIN packed p ON d.shard = p.shard AND d.rn = p.rn + 1)
SELECT doc_id, n_tokens, shard, CAST(pack AS INT) AS pack_id FROM packed
"""


# ---- distributed markup converter (r4) ---------------------------------

def markup_extraction(spark, sf_dir):
    """Markup corpus -> entities plane, fully distributed (VERDICT r3
    missing #1): deterministic ``<ent attr=v>...</ent>`` markup is built
    around document substrings, then parsed by the NATIVE from_markup
    (one regexp_replace for clean text + a locate-fold entities column —
    reference `edsnlp/data/converters.py:713-950` semantics, zero
    driver collects, so the converter survives a corpus-sized markup
    table)."""
    from ..sources.converters import from_markup
    d = _t(spark, sf_dir, "documents")
    markup = F.concat(
        F.lit("<ent label=l"), (F.col("doc_id") % 3).cast("string"),
        F.lit(" norm=n"), (F.col("doc_id") % 5).cast("string"),
        F.lit(">"), F.substring("text", 1, 20),
        F.lit("</ent> mid <ent>"), F.substring("text", 30, 10),
        F.lit("</ent> tail"),
    )
    mk = d.select("doc_id", markup.alias("markup"))
    _, ents = from_markup(mk, markup_col="markup", id_col="doc_id")
    return ents.select(
        F.col("note_id").alias("doc_id"),
        F.col("start_char").cast("int").alias("start_char"),
        F.col("end_char").cast("int").alias("end_char"),
        "label", "lexical_variant",
        F.element_at("attrs", "norm").alias("norm"),
    )


MARKUP_EXTRACTION_SQL = """
WITH m AS (
  SELECT doc_id, substr(text, 1, 20) AS i1, substr(text, 30, 10) AS i2
  FROM documents)
SELECT doc_id, CAST(0 AS INT) AS start_char,
       CAST(len(i1) AS INT) AS end_char,
       'l' || (doc_id % 3) AS label, i1 AS lexical_variant,
       'n' || (doc_id % 5) AS norm
FROM m
UNION ALL
SELECT doc_id, CAST(len(i1) + 5 AS INT), CAST(len(i1) + 5 + len(i2) AS INT),
       'ent', i2, NULL
FROM m
"""


# ---- boilerplate line removal (training-data pipeline, r4) -------------

def boilerplate_line_removal(spark, sf_dir):
    """CCNet/FineWeb boilerplate scrub: drop every LINE whose exact
    content recurs in more than 2 distinct documents (nav headers,
    legal footers), keep document-local lines, and rebuild the text.

    Constructed input: a promo header on every doc + a legal footer on
    doc_id%2==0 around a unique 60-char body slice — so both hot-line
    classes actually trigger.

    Plan shape at 100 TB: one line explode -> one groupBy(line) doc-
    frequency aggregate -> LEFT ANTI join of the lines plane against
    the hot-line set -> per-doc rebuild (sorted array fold).  The hot
    set is df-thresholded (small in practice) but carries NO broadcast
    hint — AQE broadcasts when it fits (see tests/test_broadcast_guard
    policy).  Text shuffles once (the line explode feeds both sides)."""
    d = _t(spark, sf_dir, "documents")
    text2 = F.concat(
        F.lit("offre speciale cliquez ici\n"),
        F.substring("text", 1, 60),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("\nmentions legales standard")).otherwise(F.lit("")),
    )
    lines = d.select(
        "doc_id",
        F.posexplode(F.split(text2, "\n")).alias("ln", "line"))
    hot = (lines.groupBy("line")
           .agg(F.countDistinct("doc_id").alias("df"))
           .filter(F.col("df") > 2).select("line"))
    kept = lines.join(hot, "line", "left_anti")
    arr = F.sort_array(F.collect_list(F.struct("ln", "line")))
    return (
        kept.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"),
             F.concat_ws(
                 "\n",
                 F.transform(arr, lambda x: x["line"])).alias("clean_text"))
    )


BOILERPLATE_LINES_SQL = """
WITH built AS (
  SELECT doc_id,
         'offre speciale cliquez ici' || chr(10) || substr(text, 1, 60)
         || CASE WHEN doc_id % 2 = 0
                 THEN chr(10) || 'mentions legales standard'
                 ELSE '' END AS t
  FROM documents),
lines AS (
  SELECT doc_id,
         unnest(range(0, len(string_split(t, chr(10))))) AS ln,
         unnest(string_split(t, chr(10))) AS line
  FROM built),
hot AS (
  SELECT line FROM lines GROUP BY line
  HAVING COUNT(DISTINCT doc_id) > 2),
kept AS (
  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM hot))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       string_agg(line, chr(10) ORDER BY ln) AS clean_text
FROM kept GROUP BY doc_id
"""


# ---- URL / domain filtering (training-data pipeline, r4) ---------------

_URL_BLOCKLIST = ("spam7", "adsite13", "tracker21")  # blocked host stems


def url_domain_filtering(spark, sf_dir):
    """FineWeb-style URL filtering: parse each document's source URL,
    drop blocklisted domains, and report per-domain keep counts.

    Host extraction uses Spark's native ``parse_url`` (JVM-side); the
    oracle recovers the same host with a regexp — constructed URLs are
    well-formed so both agree.  The blocklist is a LITERAL config array
    (bounded by definition, in-row isin — no join at all); the per-
    domain rollup is the only shuffle."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(k % 17 == 3, F.lit("spam7"))
        .when(k % 17 == 9, F.lit("adsite13"))
        .otherwise(F.concat(F.lit("site"), (k % 23).cast("string"))),
        F.lit(".example.org/page/"), k.cast("string"),
    )
    host = F.parse_url(url, F.lit("HOST"))
    stem = F.split_part(host, F.lit("."), F.lit(1))
    blocked = stem.isin(*_URL_BLOCKLIST)
    return (
        d.select("doc_id", host.alias("domain"), blocked.alias("blocked"))
        .groupBy("domain", "blocked")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


URL_DOMAIN_FILTERING_SQL = f"""
WITH u AS (
  SELECT doc_id,
         'https://' ||
         CASE WHEN doc_id % 17 = 3 THEN 'spam7'
              WHEN doc_id % 17 = 9 THEN 'adsite13'
              ELSE 'site' || (doc_id % 23) END
         || '.example.org/page/' || doc_id AS url
  FROM documents),
h AS (
  SELECT doc_id,
         regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
         regexp_extract(url, 'https://([^.]+)\\.', 1) AS stem
  FROM u)
SELECT domain,
       stem IN {tuple(_URL_BLOCKLIST)} AS blocked,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM h GROUP BY domain, stem
"""


# ---- Gopher duplicate-line fractions (r4) ------------------------------

def gopher_line_repetition(spark, sf_dir):
    """Gopher's duplicate-LINE rules per document: fraction of lines
    that belong to a repeated line group, and the fraction of
    CHARACTERS inside repeated lines.  Same shuffle-free shape as
    gopher_repetition: per-doc stats from an in-row sort_array +
    scalar-accumulator run fold — no (doc, line) groupBy, no Exchange.

    Constructed input: body slices + doc_id%3 copies of a repeated
    line, so docs exercise 0/1/2 duplicate counts."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    arr = F.concat(
        F.array(F.substring("text", 1, 40)),
        F.array_repeat(F.lit("ligne repetee"), (k % 3).cast("int")),
        F.array(F.substring("text", 45, 30)),
    )
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dupl"),
        F.lit(0).cast("long").alias("dupc"),
    )

    def _close(acc):
        over = acc["run"] > 1
        return (
            acc["dupl"] + F.when(over, acc["run"]).otherwise(F.lit(0)),
            acc["dupc"] + F.when(
                over, acc["run"] * F.length(acc["prev"]))
            .otherwise(F.lit(0)),
        )

    def _step(acc, x):
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        cl, cc = _close(acc)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(same, acc["dupl"]).otherwise(cl).alias("dupl"),
            F.when(same, acc["dupc"]).otherwise(cc).alias("dupc"),
        )

    stats = F.aggregate(
        F.sort_array(arr), init, _step,
        lambda acc: F.struct(_close(acc)[0].alias("dupl"),
                             _close(acc)[1].alias("dupc")))
    total_chars = F.aggregate(
        arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    return d.select(
        "doc_id",
        F.size(arr).cast("bigint").alias("n_lines"),
        stats.alias("__s"),
        total_chars.alias("__tc"),
    ).select(
        "doc_id", "n_lines",
        F.round(F.col("__s.dupl") / F.col("n_lines"), 4)
        .alias("dup_line_frac"),
        F.round(F.col("__s.dupc") / F.col("__tc"), 4)
        .alias("dup_char_frac"),
    )


GOPHER_LINE_REPETITION_SQL = """
WITH built AS (
  SELECT doc_id,
         [substr(text, 1, 40)]
         || ['ligne repetee' for i in range(doc_id % 3)]
         || [substr(text, 45, 30)] AS ls
  FROM documents),
per AS (
  SELECT doc_id, l, COUNT(*) AS c, SUM(len(l)) AS ch
  FROM (SELECT doc_id, unnest(ls) AS l FROM built) GROUP BY doc_id, l)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
       ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) / SUM(c), 4)
         AS dup_line_frac,
       ROUND(SUM(CASE WHEN c > 1 THEN ch ELSE 0 END) / SUM(ch), 4)
         AS dup_char_frac
FROM per GROUP BY doc_id
"""


# ---- endlines rule classifier (r4) -------------------------------------

def endlines_rule(spark, sf_dir):
    """EndLinesClassifier rule path over constructed multi-line notes
    (reference `edsnlp/pipes/core/endlines`): per line, a real end iff
    blank OR sentence-final punctuation OR the next line opens with an
    uppercase/list marker.  The plan is ONE lead() window over the
    exploded lines — per-note partitioning, no join, no broadcast (the
    r3 per-note-stats broadcast lived in the ML path and is gone;
    see tests/test_broadcast_guard.py)."""
    from ..operators.endlines import EndLinesClassifier
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    mid = (
        F.when(k % 3 == 0, F.lit("Suite en majuscule"))
        .when(k % 3 == 1, F.lit("  "))
        .otherwise(F.lit("1. item liste"))
    )
    text = F.concat(
        F.substring("text", 1, 25), F.lit("\n"),
        F.substring("text", 27, 20), F.lit(".\n"),
        mid, F.lit("\n"),
        F.substring("text", 50, 15),
    )
    notes = d.select(k.alias("note_id"), text.alias("note_text"))
    t = EndLinesClassifier().endlines_table(notes)
    return t.select(
        F.col("note_id").alias("doc_id"),
        F.col("line_no").cast("int").alias("line_no"),
        "true_end",
    )


ENDLINES_RULE_SQL = r"""
WITH built AS (
  SELECT doc_id,
         substr(text, 1, 25) || chr(10) || substr(text, 27, 20) || '.'
         || chr(10)
         || CASE WHEN doc_id % 3 = 0 THEN 'Suite en majuscule'
                 WHEN doc_id % 3 = 1 THEN '  '
                 ELSE '1. item liste' END
         || chr(10) || substr(text, 50, 15) AS t
  FROM documents),
lines AS (
  SELECT doc_id,
         unnest(range(0, len(string_split(t, chr(10))))) AS line_no,
         unnest(string_split(t, chr(10))) AS line
  FROM built),
r AS (
  SELECT doc_id, line_no, line,
         lead(line) OVER (PARTITION BY doc_id ORDER BY line_no) AS nxt
  FROM lines)
SELECT doc_id, CAST(line_no AS INT) AS line_no,
       (trim(line) = '')
       OR regexp_matches(trim(line), '[.!?:;]\s*$')
       OR COALESCE(regexp_matches(nxt, '^\s*(?:[A-ZÀ-Ý]|\d+[.)]|[-•*])'),
                   TRUE) AS true_end
FROM r
"""


# ---- Exact-substring duplication (span-granular dedup tier) -----------

def exact_substring_dedup(spark, sf_dir):
    """Duplicated 13-token windows corpus-wide (Lee et al. 2022) — the
    span-granular dedup tier that catches partially-copied text
    (boilerplate, quoted passages) that doc-level dedup misses.  One
    lookahead-regexp pass emits (window-hash, doc, pos) integer rows;
    one window-function count per hash; no join-back."""
    from ..operators.dedup import duplicated_windows
    d = _t(spark, sf_dir, "documents")
    return duplicated_windows(d, n=13)


EXACT_SUBSTRING_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
w AS (
  SELECT doc_id,
         unnest(range(greatest(len(toks) - 12, 0))) AS pos,
         unnest([array_to_string(toks[i+1:i+13], ' ')
                 for i in range(greatest(len(toks) - 12, 0))]) AS win
  FROM t
),
h AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(win), 1, 15))::BIGINT AS hv
  FROM w
),
c AS (
  SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY hv) AS occurrences
  FROM h
)
SELECT doc_id, pos::BIGINT AS pos, occurrences::BIGINT AS occurrences
FROM c WHERE occurrences >= 2
"""


# ---- Incremental cross-corpus exact-substring dedup ----------------------

def cross_corpus_dedup(spark, sf_dir):
    """Incremental dedup: which 13-token windows of a NEW batch (here
    doc_id % 10 == 0) already occur in the existing reference corpus
    (the rest) — the daily-ingest shape that dedups new data against
    the training set WITHOUT re-pairing the old corpus with itself.
    The reference side collapses to a (hash, count) index first; the
    new batch semi-joins it."""
    from ..operators.dedup import cross_duplicated_windows
    d = _t(spark, sf_dir, "documents")
    new_docs = d.filter(F.col("doc_id") % 10 == 0)
    ref_docs = d.filter(F.col("doc_id") % 10 != 0)
    return cross_duplicated_windows(new_docs, ref_docs, n=13)


CROSS_CORPUS_DEDUP_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
w AS (
  SELECT doc_id,
         unnest(range(greatest(len(toks) - 12, 0))) AS pos,
         unnest([array_to_string(toks[i+1:i+13], ' ')
                 for i in range(greatest(len(toks) - 12, 0))]) AS win
  FROM t
),
h AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(win), 1, 15))::BIGINT AS hv
  FROM w
),
refidx AS (
  SELECT hv, COUNT(*) AS ref_occurrences
  FROM h WHERE doc_id % 10 <> 0 GROUP BY hv
)
SELECT n.doc_id, n.pos::BIGINT AS pos,
       ref_occurrences::BIGINT AS ref_occurrences
FROM h n JOIN refidx USING (hv)
WHERE n.doc_id % 10 = 0
"""


# ---- Exact-substring REMOVAL (Lee et al. 2022 §3) ----------------------

def strip_duplicated_spans_q(spark, sf_dir):
    """The removal half of exact-substring dedup: every duplicated
    13-token window keeps its first occurrence (min (doc, pos)) and all
    other occurrences' token ranges are cut; overlapping cuts merge.
    Counting + keeper election is ONE skew-immune groupBy(hash);
    reconstruction is an in-row array filter on a left join — untouched
    docs never re-tokenize."""
    from ..operators.dedup import strip_duplicated_spans
    d = _t(spark, sf_dir, "documents")
    return strip_duplicated_spans(d, n=13)


STRIP_DUPLICATED_SPANS_SQL = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
),
w AS (
  SELECT doc_id,
         unnest(range(greatest(len(toks) - 12, 0))) AS pos,
         unnest([array_to_string(toks[i+1:i+13], ' ')
                 for i in range(greatest(len(toks) - 12, 0))]) AS win
  FROM t
),
h AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(win), 1, 15))::BIGINT AS hv
  FROM w
),
r AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY hv) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY hv
                            ORDER BY doc_id, pos) AS rn
  FROM h
),
rem AS (SELECT doc_id, pos FROM r WHERE cnt >= 2 AND rn > 1),
cov AS (
  SELECT DISTINCT doc_id, idx FROM (
    SELECT doc_id, unnest(range(pos, pos + 13)) AS idx FROM rem)
),
tokrows AS (
  SELECT doc_id, unnest(range(len(toks))) AS idx, unnest(toks) AS tokv
  FROM t
),
kept AS (
  SELECT k.doc_id, k.idx, k.tokv
  FROM tokrows k ANTI JOIN cov c
    ON k.doc_id = c.doc_id AND k.idx = c.idx
),
agg AS (
  SELECT doc_id, string_agg(tokv, ' ' ORDER BY idx) AS text_clean
  FROM kept GROUP BY doc_id
),
nrem AS (SELECT doc_id, COUNT(*)::BIGINT AS n_removed FROM cov
         GROUP BY doc_id)
SELECT t.doc_id,
       CASE WHEN n.n_removed IS NULL THEN t.text
            ELSE COALESCE(a.text_clean, '') END AS text_clean,
       COALESCE(n.n_removed, 0) AS n_removed
FROM t LEFT JOIN agg a USING (doc_id) LEFT JOIN nrem n USING (doc_id)
"""


# ---- BPE tokenizer: distributed training + encode -------------------------

# Learned OFFLINE from the corpus by operators/bpe.py bpe_train (the
# realistic production shape: the merge table is pipeline config).
# Re-derive with:
#   bpe_train(spark.read.parquet(f"{sf_dir}/documents.parquet"), 16)
_BPE_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"), ("h", "</w>"),
    ("a", "t"), ("l", "u"), ("i", "n"), ("a", "</w>"), ("g", "</w>"),
    ("y", "</w>"), ("a", "r"),
]


def bpe_encoding(spark, sf_dir):
    """Encode every document with a learned 16-merge BPE table
    (operators/bpe.py): chars + </w> per word, merges replayed in
    order — a pure per-row projection.  The oracle replays the SAME
    greedy left-to-right merge semantics via the wrapped-symbol string
    rewrite ('|l| |r|' -> '|lr|'), which is provably equivalent to the
    array fold (non-overlapping left-to-right)."""
    from ..operators.bpe import bpe_encode
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    enc = bpe_encode(d, _BPE_MERGES)
    return enc.select(
        "doc_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", "tokens").alias("encoded"),
    )


def _bpe_encoding_sql() -> str:
    expr = "sym"
    for left, right in _BPE_MERGES:
        expr = f"replace({expr}, '|{left}| |{right}|', '|{left}{right}|')"
    return f"""
WITH w AS (
  SELECT doc_id, pos,
         array_to_string(
           list_transform(string_split(wd, ''), c -> '|' || c || '|'),
           ' ') || ' |</w>|' AS sym
  FROM (
    SELECT doc_id,
           unnest(range(len(string_split(text, ' ')))) AS pos,
           unnest(string_split(text, ' ')) AS wd
    FROM documents)
),
m AS (SELECT doc_id, pos, replace({expr}, '|', '') AS toks FROM w),
agg AS (
  SELECT doc_id, string_agg(toks, ' ' ORDER BY pos) AS encoded
  FROM m GROUP BY doc_id
)
SELECT doc_id,
       len(string_split(encoded, ' '))::BIGINT AS n_tokens,
       encoded
FROM agg
"""


BPE_ENCODING_SQL = _bpe_encoding_sql()


# ---- full tokenizer lifecycle: batched train -> arrow encode -------------

# The raw corpus has ~31 distinct words and exhausts at ~110 merges
# (r8 measurement), so the lifecycle trains on the DERIVED pair-word
# corpus (adjacent-token pairs joined by '_', ~1k distinct words) at a
# production-ish merge count that forces the Arrow encode path
# (> EXPR_PATH_MAX_MERGES).
_BPE_LIFECYCLE_MERGES = 128
_BPE_LIFECYCLE_BATCH = 64


def _bpe_pair_corpus(d):
    """(doc_id, text): the derived pair-word corpus — word i of doc j
    is tokens[i] '_' tokens[i+1].  Docs with < 2 tokens are dropped (an
    empty pair-word would hit the ''-word encode edge on one engine
    only).  The token array is projected FIRST so the per-element
    lambda reads a column, never re-splits (HOF re-evaluation rule)."""
    dd = d.filter(
        F.size(F.split("text", " ", -1)) >= 2
    ).select("doc_id", F.split("text", " ", -1).alias("__t"))
    return dd.select(
        "doc_id",
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), F.size("__t") - 1),
            _pair_word_fn())).alias("text"),
    )


def _pair_word_fn():
    def f(i):
        return F.concat(F.element_at(F.col("__t"), i), F.lit("_"),
                        F.element_at(F.col("__t"), i + 1))
    return f


def _load_bpe_pin() -> dict | None:
    import json as _json
    import os as _os
    path = _os.path.join(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))), "resources",
        "bpe_merges_batched.json")
    if not _os.path.exists(path):
        return None  # bootstrap: scripts/pin_bpe_merges.py not run yet
    with open(path) as f:
        return _json.load(f)


_BPE_PIN = _load_bpe_pin()


@caching.leased
def bpe_lifecycle(spark, sf_dir):
    """The FULL tokenizer lifecycle on the driver surface (VERDICT r9
    #8): bpe_train_batched learns a production-count merge table (128
    merges, batch 64 — two rounds of one bounded collect + one fold
    each) on the derived pair-word corpus, then bpe_encode applies it
    through the AUTO-selected Arrow path (merge count is past the
    expression cliff) — train-to-encode, end-to-end, every run.

    Oracle: training is deterministic (eager per-round checkpoints,
    ordered top-M collects, output-collision-safe adoption), so the
    merge table is pinned at sf0.01 (resources/bpe_merges_batched.json,
    scripts/pin_bpe_merges.py) and replayed via the wrapped-symbol
    string rewrite — a hash mismatch catches trainer drift, encoder
    drift, or batch-adoption drift."""
    from ..operators.bpe import bpe_encode, bpe_train_batched
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    # persisted: the pair-word derivation fed BOTH the trainer's
    # word-frequency build and the encode pass — two full corpus
    # derivations for one plane (r15, guide §2.3 compute-once).
    # Leased to this query (the trainer's nested call joins the
    # lease), released on the next call.
    corpus = caching.persist(_bpe_pair_corpus(d))
    merges = bpe_train_batched(corpus,
                               n_merges=_BPE_LIFECYCLE_MERGES,
                               batch=_BPE_LIFECYCLE_BATCH)
    enc = bpe_encode(corpus, merges)
    return enc.select(
        "doc_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", "tokens").alias("encoded"),
    )


def _bpe_lifecycle_sql() -> str | None:
    if _BPE_PIN is None:
        return None
    # DuckDB's binder caps expression nesting at 128, so the 128-merge
    # replace chain is CHUNKED across stacked CTEs (48 merges each —
    # well under the cap); CTE order preserves merge order exactly.
    chunks: list[str] = []
    merges = _BPE_PIN["merges"]
    prev = "w"
    for ci in range(0, len(merges), 48):
        expr = "sym"
        for left, right in merges[ci:ci + 48]:
            expr = (f"replace({expr}, '|{left}| |{right}|', "
                    f"'|{left}{right}|')")
        name = f"m{ci // 48}"
        chunks.append(
            f"{name} AS (SELECT doc_id, pos, {expr} AS sym FROM {prev})")
        prev = name
    chain = ",\n".join(chunks)
    return f"""
WITH base AS (
  SELECT doc_id,
         array_to_string([toks[i] || '_' || toks[i+1]
                          for i in range(1, len(toks))], ' ') AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 2
),
w AS (
  SELECT doc_id, pos,
         array_to_string(
           list_transform(string_split(wd, ''), c -> '|' || c || '|'),
           ' ') || ' |</w>|' AS sym
  FROM (
    SELECT doc_id,
           unnest(range(len(string_split(text, ' ')))) AS pos,
           unnest(string_split(text, ' ')) AS wd
    FROM base)
),
{chain},
agg AS (
  SELECT doc_id, string_agg(replace(sym, '|', ''), ' ' ORDER BY pos)
           AS encoded
  FROM {prev} GROUP BY doc_id
)
SELECT doc_id,
       len(string_split(encoded, ' '))::BIGINT AS n_tokens,
       encoded
FROM agg
"""


BPE_LIFECYCLE_SQL = _bpe_lifecycle_sql()


# ---- WordPiece lifecycle (r11) ------------------------------------------

_WP_MERGES, _WP_BATCH = 48, 16


def _load_wordpiece_pin() -> dict | None:
    import json as _json
    import os as _os
    path = _os.path.join(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))), "resources",
        "wordpiece_vocab.json")
    if not _os.path.exists(path):
        return None
    with open(path) as f:
        return _json.load(f)


_WP_PIN = _load_wordpiece_pin()


@caching.leased
def wordpiece_lifecycle(spark, sf_dir):
    """The THIRD tokenizer lifecycle (WordPiece, Schuster & Nakajima
    2012 — likelihood-scored merges + greedy longest-match encode,
    completing the family next to BPE's count-scored merges and the
    unigram LM's Viterbi): RETRAINS the vocabulary per run (48 merges,
    batch 16 — likelihood score c_lr/(c_l*c_r), disjoint-batch
    adoption) on the derived pair-word corpus, greedy-encodes the
    distinct-word plane, and rolls per-doc subword stats with an [UNK]
    count.

    Oracle: training is deterministic (ordered bounded collects, exact
    integer counts, one IEEE division), so the vocabulary is pinned at
    sf0.01 (resources/wordpiece_vocab.json,
    scripts/pin_wordpiece_vocab.py) and the oracle replays the greedy
    longest-match scan as a recursive CTE over a piece-lookup MAP — a
    hash mismatch catches trainer OR encoder drift."""
    from ..operators.wordpiece import (wordpiece_encode_words,
                                       wordpiece_train)
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    # persisted: referenced THREE times (trainer word-frequency
    # build + distinct-word encode plane + per-doc token join) —
    # three full pair-word derivations for one plane (r15, guide
    # §2.3).  Leased to this query; released on the next call.
    corpus = caching.persist(_bpe_pair_corpus(d))
    # ONE corpus explode+shuffle feeds BOTH the trainer's word-
    # frequency table and the distinct-word encode plane (r15,
    # guide §2.3): the groupBy(word) keys ARE the distinct set the
    # encode needs, so the former second explode+distinct shuffle
    # was pure duplication.  Pair-words are never '' (always
    # 'a_b'), so the sets coincide exactly.
    wfreq = caching.persist(
        corpus.select(
            F.explode(F.split("text", " ", -1)).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))
    vocab = wordpiece_train(corpus, n_merges=_WP_MERGES,
                            batch=_WP_BATCH, word_freqs=wfreq)
    words = wfreq.select(F.col("w").alias("word"))
    enc = wordpiece_encode_words(words, vocab)
    tok = corpus.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("word"))
    return (
        tok.join(enc, "word")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
             F.sum("n_pieces").cast("bigint").alias("n_pieces"),
             F.sum(F.col("is_unk").cast("int")).cast("bigint")
             .alias("n_unk"))
        .select("doc_id", "n_words", "n_pieces", "n_unk",
                F.round(F.col("n_pieces").cast("double")
                        / F.col("n_words"), 4).alias("fertility"))
    )


def _wordpiece_lifecycle_sql() -> str | None:
    if _WP_PIN is None:
        return None
    vocab = _WP_PIN["vocab"]
    maxlen = max(len(p) for p in vocab)
    vm = "MAP{" + ", ".join(
        "'" + p.replace("'", "''") + "': 1" for p in sorted(vocab)) + "}"
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id,
         array_to_string([toks[i] || '_' || toks[i+1]
                          for i in range(1, len(toks))], ' ') AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 2
),
tokp AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM base
),
words AS (SELECT DISTINCT word FROM tokp),
g AS (
  SELECT word, 0 AS i, 0::BIGINT AS np, FALSE AS failed FROM words
  UNION ALL
  SELECT word,
         CASE WHEN best IS NULL THEN i ELSE i + best END,
         CASE WHEN best IS NULL THEN np ELSE np + 1 END,
         best IS NULL
  FROM (
    SELECT word, i, np,
           list_max([L for L in range(1, {maxlen + 1})
                     if i + L <= length(word)
                     AND len(({vm})[
                       (CASE WHEN i = 0 THEN '' ELSE '##' END)
                         || substr(word, i + 1, L::INT)]) > 0]) AS best
    FROM g WHERE NOT failed AND i < length(word))
),
fin AS (
  SELECT word, np, failed FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY word ORDER BY failed DESC, i DESC) AS rn
    FROM g) WHERE rn = 1
),
encw AS (
  SELECT word, CASE WHEN failed THEN 1 ELSE np END AS n_pieces,
         failed AS is_unk
  FROM fin
)
SELECT doc_id, COUNT(*)::BIGINT AS n_words,
       SUM(n_pieces)::BIGINT AS n_pieces,
       SUM(is_unk::INT)::BIGINT AS n_unk,
       ROUND(SUM(n_pieces) / COUNT(*), 4) AS fertility
FROM tokp JOIN encw USING (word)
GROUP BY doc_id
"""


WORDPIECE_LIFECYCLE_SQL = _wordpiece_lifecycle_sql()


# ---- tokenizer fertility (per-source BPE efficiency monitor) ------------

def tokenizer_fertility(spark, sf_dir):
    """Per-source tokenizer-fertility stats over the real BPE encode
    path (another composed consumer — the merge table is pipeline
    config, the encode is the corpus pass): tokens-per-word and
    bytes-per-token tell a training pipeline which sources tokenize
    poorly (high fertility = wasted context window).  All ratios are
    exact-integer sums divided once, so the oracle agrees
    bit-for-bit."""
    from ..operators.bpe import bpe_encode
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    enc = bpe_encode(d, _BPE_MERGES)
    stats = d.select(
        "doc_id", "source",
        F.octet_length("text").alias("nb"),
        F.size(F.split("text", " ", -1)).alias("nw"))
    j = enc.select("doc_id", F.size("tokens").alias("nt")) \
        .join(stats, "doc_id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("bpe_tokens"),
        F.round(F.sum("nt") / F.sum("nw"), 4).alias("tokens_per_word"),
        F.round(F.sum("nb") / F.sum("nt"), 4).alias("bytes_per_token"),
    )


def _tokenizer_fertility_sql() -> str:
    return f"""
SELECT d.source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(b.n_tokens)::BIGINT AS bpe_tokens,
       ROUND(SUM(b.n_tokens)
             / SUM(len(string_split(d.text, ' '))), 4) AS tokens_per_word,
       ROUND(SUM(strlen(d.text)) / SUM(b.n_tokens), 4) AS bytes_per_token
FROM ( {_bpe_encoding_sql()} ) b JOIN documents d USING (doc_id)
GROUP BY d.source
"""


# ---- Sliding-window document chunking -------------------------------------

def document_chunking(spark, sf_dir):
    """Fixed-size overlapping token chunks (64 tokens, 16 overlap) —
    the long-document shaping step for pretraining context windows and
    RAG indexing.  Pure projection + explode; each row fans out to its
    own chunks only (no shuffle, no window)."""
    from ..operators.packing import chunk_documents
    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_size=64, overlap=16)


DOCUMENT_CHUNKING_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE (len(toks) - 64 + 47) // 48 + 1 END AS n_chunks
      FROM t),
e AS (SELECT doc_id, toks, n, unnest(range(n_chunks)) AS cid FROM c)
SELECT doc_id, cid::BIGINT AS chunk_id,
       (cid * 48)::BIGINT AS start_tok,
       least(64, n - cid * 48)::BIGINT AS n_tok,
       array_to_string(toks[cid * 48 + 1 : cid * 48 + least(64, n - cid * 48)],
                       ' ') AS chunk_text
FROM e
"""


# ---- Winnowing fingerprints (Schleimer et al. 2003) ---------------------

def winnowing_fp(spark, sf_dir):
    """MOSS winnowing: distinct per-doc fingerprints = the minimum
    5-gram hash of each sliding 4-hash window — any shared token run of
    >= w + k - 1 = 8 tokens between two docs guarantees a shared
    fingerprint at ~2/(w+1) the density of emitting every window."""
    from ..operators.dedup import winnowing_fingerprints
    # single small parquet -> 1 split; the per-window slice-min HOF is
    # compute-bound, so spread rows across cores (see _notes)
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    return winnowing_fingerprints(d, k=5, w=4)


WINNOWING_FP_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
h AS (
  SELECT doc_id,
         list_transform(
           [array_to_string(toks[i+1:i+5], ' ')
            for i in range(greatest(len(toks) - 4, 0))],
           x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
  FROM t
),
f AS (
  SELECT doc_id,
         CASE WHEN len(hs) = 0 THEN []::BIGINT[]
              WHEN len(hs) < 4 THEN [list_min(hs)]
              ELSE list_distinct([list_min(hs[j+1:j+4])
                                  for j in range(len(hs) - 3)])
         END AS fps
  FROM h
)
SELECT DISTINCT doc_id, fp
FROM (SELECT doc_id, unnest(fps) AS fp FROM f)
"""


def _load_unigram_pin():
    """Pinned unigram-LM tokenizer vocabulary (sf0.01;
    scripts/pin_unigram_vocab.py)."""
    import json as _json
    import os as _os
    path = _os.path.join(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))), "resources", "unigram_vocab.json")
    try:
        with open(path) as f:
            return _json.load(f)
    except OSError:
        return None


_UNIGRAM_PIN = _load_unigram_pin()


@caching.leased
def unigram_tokenizer(spark, sf_dir):
    """The unigram-LM tokenizer lifecycle (SentencePiece, Kudo 2018 —
    the vocabulary-scoring complement to bpe_lifecycle): RETRAINS
    the piece vocabulary per run (substring seeding + 2 hard-EM
    Viterbi rounds, operators/unigram.py), Viterbi-encodes the
    distinct-word plane under it, and rolls per-doc subword stats.

    Oracle: training is deterministic (exact integer E-step counts,
    sorted bounded M-step), so the vocabulary is pinned at sf0.01
    (resources/unigram_vocab.json) and the oracle replays the integer
    encode dp as a recursive CTE — a hash mismatch catches trainer OR
    encoder drift."""
    from ..operators.unigram import unigram_encode_words, unigram_train
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    # persisted: the repartitioned doc scan feeds the trainer's
    # word-frequency build, the distinct-word encode plane AND the
    # per-doc token join — three scans+shuffles of the full text
    # for one plane (r15, guide §2.3).  Released on the next call.
    d = caching.persist(d)
    # ONE corpus explode+shuffle feeds BOTH the trainer's word
    # counts and the distinct-word encode plane (r15, guide §2.3):
    # the groupBy(word) keys ARE the distinct set, so the former
    # second explode+distinct shuffle was pure duplication.
    wfreq = caching.persist(
        d.select(F.explode(F.split("text", " ", -1)).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("wcount")))
    vocab, unk = unigram_train(
        d, vocab_size=300, seed_size=800, max_piece_len=6,
        iterations=2, scale=4096, word_freqs=wfreq)
    words = wfreq.select("word")
    enc = unigram_encode_words(words, vocab, unk, max_piece_len=6)
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("word"))
    return (
        tok.join(enc, "word")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
             F.sum("n_pieces").cast("bigint").alias("n_pieces"),
             F.sum("score_q").cast("bigint").alias("score_q"))
        .select("doc_id", "n_words", "n_pieces", "score_q",
                F.round(F.col("n_pieces").cast("double")
                        / F.col("n_words"), 4).alias("fertility"))
    )


def _unigram_tokenizer_sql():
    if _UNIGRAM_PIN is None:
        return None
    items = ", ".join(
        "'" + k.replace("'", "''") + "': " + str(v)
        for k, v in sorted(_UNIGRAM_PIN["vocab"].items()))
    unk = _UNIGRAM_PIN["unk"]
    return f"""
WITH RECURSIVE w AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS word FROM documents
),
st AS (
  SELECT word, length(word)::BIGINT AS L, 0::BIGINT AS it,
         [0::BIGINT] AS dp
  FROM w
  UNION ALL
  SELECT word, L, it + 1,
    list_append(dp, list_max(
      list_transform(range(greatest(0, it + 1 - 6), it + 1),
        j -> dp[j + 1] + COALESCE(
               ((MAP {{{items}}})[substr(word, (j + 1)::INT,
                                         (it + 1 - j)::INT)])[1],
               CASE WHEN it + 1 - j = 1 THEN {unk} ELSE NULL END)
             * 64 - 1)))
  FROM st WHERE it < L
),
enc AS (
  SELECT word, (-dp[L + 1]) % 64 AS n_pieces,
         (dp[L + 1] + (-dp[L + 1]) % 64) // 64 AS score_q
  FROM st WHERE it = L
),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT doc_id, COUNT(*)::BIGINT AS n_words,
       SUM(n_pieces)::BIGINT AS n_pieces,
       SUM(score_q)::BIGINT AS score_q,
       ROUND(SUM(n_pieces)::DOUBLE / COUNT(*), 4) AS fertility
FROM tok JOIN enc USING (word) GROUP BY doc_id
"""


UNIGRAM_TOKENIZER_SQL = _unigram_tokenizer_sql()


def rouge_overlap(spark, sf_dir):
    """ROUGE-1 + ROUGE-2 (metrics.rouge_n) scoring each document
    against its successor (doc i as candidate, doc i+1 as reference) —
    the generation-eval overlap metric, with clipped multiset n-gram
    counts and exact 0-guarded P/R/F1 arithmetic shared with the
    oracle."""
    from ..operators.metrics import rouge_n
    d = _t(spark, sf_dir, "documents")
    cand = d.select(F.col("doc_id").alias("pair_id"), "text")
    ref = (d.select((F.col("doc_id") - 1).alias("pair_id"), "text")
           .filter(F.col("pair_id") >= 0))
    return rouge_n(cand, ref, 1).unionByName(rouge_n(cand, ref, 2))


def rouge_l_overlap(spark, sf_dir):
    """ROUGE-L (metrics.rouge_l): LCS-based P/R/F1 of each document
    vs its successor — the ORDER-SENSITIVE generation-eval complement
    of rouge_overlap's multiset n-gram counts.  Sequences truncate
    to 64 tokens on BOTH engines (the documented config bound that
    keeps the per-pair dp O(64^2) at any corpus scale); the oracle
    replays the exact dp as a recursive CTE — the within-row
    dependency (cur[j-1]) is eliminated by prefix-max DOUBLING passes
    (6 passes cover 64 positions), so every recursion step is one
    index-independent list comprehension."""
    from ..operators.metrics import rouge_l
    d = _t(spark, sf_dir, "documents")
    cand = d.select(F.col("doc_id").alias("pair_id"), "text")
    ref = (d.select((F.col("doc_id") - 1).alias("pair_id"), "text")
           .filter(F.col("pair_id") >= 0))
    return rouge_l(cand, ref, max_tokens=64)


ROUGE_L_SQL = """
WITH RECURSIVE pairs AS (
  SELECT c.doc_id AS pair_id,
         string_split(c.text, ' ')[1:64] AS a,
         string_split(r.text, ' ')[1:64] AS b
  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
),
dp AS (
  SELECT pair_id, a, b, 0 AS i, 6 AS ph,
         list_transform(range(1, len(b) + 1), x -> 0::BIGINT) AS row
  FROM pairs
  UNION ALL
  SELECT pair_id, a, b,
         CASE WHEN ph = 6 THEN i + 1 ELSE i END,
         CASE WHEN ph = 6 THEN 0 ELSE ph + 1 END,
         CASE WHEN ph = 6 THEN
           list_transform(range(1, len(b) + 1), j ->
             GREATEST(row[j::INT],
                      (CASE WHEN j >= 2 THEN row[(j - 1)::INT]
                            ELSE 0 END)
                      + CASE WHEN a[(i + 1)::INT] = b[j::INT]
                             THEN 1 ELSE 0 END))
         ELSE
           list_transform(range(1, len(b) + 1), j ->
             GREATEST(row[j::INT],
                      CASE WHEN j > (1 << ph)
                           THEN row[(j - (1 << ph))::INT]
                           ELSE 0 END))
         END
  FROM dp WHERE NOT (i = len(a) AND ph = 6)
)
SELECT pair_id, row[len(b)]::BIGINT AS lcs,
       len(a)::BIGINT AS n_cand, len(b)::BIGINT AS n_ref,
       ROUND(CASE WHEN len(a) > 0
                  THEN row[len(b)] / len(a) ELSE 0.0 END, 4)
         AS precision,
       ROUND(CASE WHEN len(b) > 0
                  THEN row[len(b)] / len(b) ELSE 0.0 END, 4) AS recall,
       ROUND(CASE WHEN row[len(b)] > 0
                  THEN 2.0 * (row[len(b)] / len(a))
                       * (row[len(b)] / len(b))
                       / (row[len(b)] / len(a) + row[len(b)] / len(b))
                  ELSE 0.0 END, 4) AS f1
FROM dp WHERE i = len(a) AND ph = 6
"""


def _rouge_overlap_sql() -> str:
    gen = {
        1: "toks",
        2: "[array_to_string(toks[i:i+1], ' ') "
           "for i in range(1, len(toks))]",
    }
    parts = []
    for n, g in gen.items():
        parts.append(f"""
SELECT pair_id, {n} AS n, overlap, n_cand, n_ref,
       ROUND(p, 4) AS precision,
       ROUND(r, 4) AS recall,
       ROUND(CASE WHEN overlap > 0 THEN 2.0 * p * r / (p + r)
                  ELSE 0.0 END, 4) AS f1
FROM (
  SELECT pair_id, overlap, n_cand, n_ref,
         CASE WHEN n_cand > 0 THEN overlap::DOUBLE / n_cand
              ELSE 0.0 END AS p,
         CASE WHEN n_ref > 0 THEN overlap::DOUBLE / n_ref
              ELSE 0.0 END AS r
  FROM (
    SELECT t.pair_id,
           t.n_cand, u.n_ref,
           COALESCE(o.overlap, 0)::BIGINT AS overlap
    FROM (SELECT pair_id, len({g})::BIGINT AS n_cand FROM c) t
    JOIN (SELECT pair_id, len({g})::BIGINT AS n_ref FROM r) u
      USING (pair_id)
    LEFT JOIN (
      SELECT pair_id, SUM(LEAST(cc, rc))::BIGINT AS overlap
      FROM (SELECT pair_id, gram, COUNT(*) AS cc
            FROM (SELECT pair_id, unnest({g}) AS gram FROM c)
            GROUP BY 1, 2) a
      JOIN (SELECT pair_id, gram, COUNT(*) AS rc
            FROM (SELECT pair_id, unnest({g}) AS gram FROM r)
            GROUP BY 1, 2) b
        USING (pair_id, gram)
      GROUP BY pair_id) o
      USING (pair_id)
  )
)""")
    body = "\nUNION ALL\n".join(parts)
    return f"""
WITH c AS (
  SELECT doc_id AS pair_id, string_split(text, ' ') AS toks
  FROM documents
),
r AS (
  SELECT doc_id - 1 AS pair_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id >= 1
)
{body}
"""


ROUGE_OVERLAP_SQL = _rouge_overlap_sql()


QUERIES = {
    "bigram_logppl": (bigram_logppl, BIGRAM_LOGPPL_SQL),
    "bpe_encoding": (bpe_encoding, BPE_ENCODING_SQL),
    # NEW r10: full tokenizer lifecycle — batched train -> arrow encode
    "bpe_lifecycle": (bpe_lifecycle, BPE_LIFECYCLE_SQL),
    # NEW r11: the THIRD tokenizer lifecycle — WordPiece likelihood
    # merges + greedy longest-match encode, pinned-vocab oracle
    "wordpiece_lifecycle": (wordpiece_lifecycle,
                            WORDPIECE_LIFECYCLE_SQL),
    # NEW r10 session-2: unigram-LM tokenizer lifecycle (train + encode)
    "unigram_tokenizer": (unigram_tokenizer, UNIGRAM_TOKENIZER_SQL),
    "ccnet_buckets": (ccnet_buckets, CCNET_BUCKETS_SQL),
    "cross_corpus_dedup": (cross_corpus_dedup, CROSS_CORPUS_DEDUP_SQL),
    "document_chunking": (document_chunking, DOCUMENT_CHUNKING_SQL),
    "tokenizer_fertility": (tokenizer_fertility,
                            _tokenizer_fertility_sql()),
    # NEW r10 session-2: ROUGE-N generation-eval overlap
    "rouge_overlap": (rouge_overlap, ROUGE_OVERLAP_SQL),
    # NEW r11: ROUGE-L — order-sensitive LCS eval, doubling-pass
    # recursive-CTE dp oracle
    "rouge_l": (rouge_l_overlap, ROUGE_L_SQL),
    "winnowing_fp": (winnowing_fp, WINNOWING_FP_SQL),
    "exact_substring_dedup": (exact_substring_dedup, EXACT_SUBSTRING_SQL),
    "strip_duplicated_spans": (strip_duplicated_spans_q,
                               STRIP_DUPLICATED_SPANS_SQL),
    "hypothesis_tokens": (hypothesis_tokens, HYPOTHESIS_TOKENS_SQL),
    "markup_extraction": (markup_extraction, MARKUP_EXTRACTION_SQL),
    "endlines_rule": (endlines_rule, ENDLINES_RULE_SQL),
    "boilerplate_line_removal": (boilerplate_line_removal,
                                 BOILERPLATE_LINES_SQL),
    "gopher_line_repetition": (gopher_line_repetition,
                               GOPHER_LINE_REPETITION_SQL),
    "url_domain_filtering": (url_domain_filtering,
                             URL_DOMAIN_FILTERING_SQL),
    "token_stats_by_lang": (token_stats_by_lang, TOKEN_STATS_BY_LANG_SQL),
    "doc_quality": (doc_quality, DOC_QUALITY_SQL),
    "quality_model_scores": (quality_model_scores, QUALITY_MODEL_SCORES_SQL),
    # NEW r13: per-decile calibration + Mann-Whitney AUC for the
    # quality classifier (integer midrank arithmetic)
    "quality_auc": (quality_auc, QUALITY_AUC_SQL),
    "bpe_token_counts": (bpe_token_counts, BPE_TOKEN_COUNTS_SQL),
    "lang_id_heuristic": (lang_id_heuristic, LANG_ID_HEURISTIC_SQL),
    # NEW r10: trained model-based language ID (integer-quantized
    # multiclass perceptron export as a pure projection)
    "langid_trained": (langid_trained, LANGID_TRAINED_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "phrase_match_tokens": (phrase_match_tokens, PHRASE_MATCH_TOKENS_SQL),
    "negation_tokens": (negation_tokens, NEGATION_TOKENS_SQL),
    "section_spans": (section_spans, SECTION_SPANS_SQL),
    "split_windows": (split_windows, SPLIT_WINDOWS_SQL),
    "ner_token_metrics": (ner_token_metrics, NER_TOKEN_METRICS_SQL),
    "dates_extraction": (dates_extraction, DATES_EXTRACTION_SQL),
    "durations_extraction": (durations_extraction, DURATIONS_EXTRACTION_SQL),
    "quantities_extraction": (quantities_extraction, QUANTITIES_EXTRACTION_SQL),
    "quantity_operators": (quantity_operators, QUANTITY_OPERATORS_SQL),
    "pii_redaction": (pii_redaction, PII_REDACTION_SQL),
    "decontamination_overlap": (decontamination_overlap,
                                DECONTAMINATION_SQL),
    "duplication_profile": (duplication_profile, DUPLICATION_PROFILE_SQL),
    "temperature_mixture": (temperature_mixture, TEMPERATURE_MIXTURE_SQL),
    "sequence_packing": (sequence_packing, SEQUENCE_PACKING_SQL),
    "unigram_logppl": (unigram_logppl, UNIGRAM_LOGPPL_SQL),
    "gopher_repetition": (gopher_repetition, GOPHER_REPETITION_SQL),
    "split_assignment": (split_assignment, SPLIT_ASSIGNMENT_SQL),
    "corpus_curation": (corpus_curation, CORPUS_CURATION_SQL),
    # NEW r8 (VERDICT r7 #7): span-granular dedup inside the composed
    # curation pass
    "corpus_curation_strip": (corpus_curation_strip,
                              CORPUS_CURATION_STRIP_SQL),
    "source_mixture_sample": (source_mixture_sample, SOURCE_MIXTURE_SQL),
    "composed_units": (composed_units, COMPOSED_UNITS_SQL),
    "hf_ner_spans": (hf_ner_spans, HF_NER_SPANS_SQL),
    "quantity_mentions": (quantity_mentions_q, QUANTITY_MENTIONS_SQL),
}
