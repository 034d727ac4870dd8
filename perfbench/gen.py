"""Seeded input generators for the benchmark, with ground truth.

Two corpora, both a pure function of ``seed``:

* clinical notes: French sentences drawn from a bank of labelled
  templates (negated, hypothetical, family and plain mentions, plus
  distractor sentences that mention no entity).  Each template carries
  the clinically correct (negation, hypothesis, family) value of every
  entity it mentions, so a note's expected annotation rows are the
  per-sentence rows with their offsets shifted.  The number of
  sentences per note has a long (Pareto) tail.
* near-duplicate corpus: single-space-tokenized documents over a large
  pseudo-word vocabulary, with planted clusters (a source document and
  1-3 copies in which each token is replaced with probability
  ``edit_rate``).

Inputs are written with pyarrow (the engine only ever sees the parquet
files) and identified by a digest of their logical content.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# Matcher terms: label -> surface forms.  No form is a token-prefix of
# another, so every mention yields exactly one entity row.
TERMS = {
    "covid": ["covid", "coronavirus"],
    "pneumopathie": ["pneumopathie", "pneumonie"],
    "diabete": ["diabète"],
    "cancer": ["cancer", "carcinome"],
    "hta": ["hypertension artérielle"],
    "tuberculose": ["tuberculose"],
    "cirrhose": ["cirrhose"],
    "pancreatite": ["pancréatite"],
    "polyarthrite": ["polyarthrite rhumatoïde"],
}

_F, _T = False, True

# (template, [(negation, hypothesis, family) per {i} slot]).  Values are
# the clinical reading of the sentence.  Templates avoid coordinations
# such as "absence de X et de Y", where the reference's rule semantics
# (a termination cue on "et" closes the negation scope) and the clinical
# reading disagree.
TEMPLATES = [
    # plain mentions
    ("Le patient est suivi pour {0}.", [(_F, _F, _F)]),
    ("Diagnostic de {0} posé lors de l'hospitalisation.", [(_F, _F, _F)]),
    ("Traitement en cours pour {0}.", [(_F, _F, _F)]),
    ("Hospitalisation en 2019 pour {0}.", [(_F, _F, _F)]),
    ("{0} connu depuis 2015.", [(_F, _F, _F)]),
    ("Le bilan confirme {0}.", [(_F, _F, _F)]),
    ("Découverte de {0} au scanner.", [(_F, _F, _F)]),
    # negated
    ("Pas de {0}.", [(_T, _F, _F)]),
    ("Absence de {0}.", [(_T, _F, _F)]),
    ("Le patient ne présente pas de {0}.", [(_T, _F, _F)]),
    ("Aucun signe de {0}.", [(_T, _F, _F)]),
    ("{0} exclu après bilan.", [(_T, _F, _F)]),
    ("Patient sans {0}.", [(_T, _F, _F)]),
    ("Le scanner élimine {0}.", [(_T, _F, _F)]),
    ("Il n'y a pas de {0}.", [(_T, _F, _F)]),
    # hypothetical
    ("Suspicion de {0}.", [(_F, _T, _F)]),
    ("Hypothèse de {0} à confirmer.", [(_F, _T, _F)]),
    ("{0} possible.", [(_F, _T, _F)]),
    ("Diagnostic de {0} probable.", [(_F, _T, _F)]),
    ("On suspecte {0}.", [(_F, _T, _F)]),
    # family
    ("Sa mère a été traitée pour {0}.", [(_F, _F, _T)]),
    ("Antécédents familiaux de {0}.", [(_F, _F, _T)]),
    ("Son père est décédé de {0}.", [(_F, _F, _T)]),
    ("{0} chez le frère du patient.", [(_F, _F, _T)]),
    ("Notion de {0} dans la famille.", [(_F, _F, _T)]),
    # combinations
    ("Pas de {0} dans la famille.", [(_T, _F, _T)]),
    ("Suspicion de {0} chez sa sœur.", [(_F, _T, _T)]),
    ("Pas de {0}, mais {1} connu depuis 2010.", [(_T, _F, _F), (_F, _F, _F)]),
    ("{0} possible, pas de {1}.", [(_F, _T, _F), (_T, _F, _F)]),
    ("Sa mère a eu {0} et son père {1}.", [(_F, _F, _T), (_F, _F, _T)]),
    ("Le patient a {0}, sa sœur a {1}.", [(_F, _F, _F), (_F, _F, _T)]),
    ("Pas de {0} ni de {1}.", [(_T, _F, _F), (_T, _F, _F)]),
    ("Le patient ne présente ni {0} ni {1}.", [(_T, _F, _F), (_T, _F, _F)]),
]

# Sentences with no entity; some carry qualifier cues, which must not
# leak into neighbouring sentences.
DISTRACTORS = [
    "Examen clinique sans particularité.",
    "Tension artérielle à 130/80 mmHg.",
    "Le patient est sorti à domicile.",
    "Poursuite du traitement habituel.",
    "Bilan biologique dans les normes.",
    "Apyrétique, eupnéique.",
    "Rendez-vous de contrôle dans trois mois.",
    "Pas de modification thérapeutique.",
    "Sa fille l'accompagne lors de la consultation.",
    "Une échographie de contrôle est possible.",
]

_SURFACES = [(label, form) for label, forms in TERMS.items() for form in forms]


@dataclass(frozen=True)
class Row:
    """One expected annotation row (the benchmark's oracle output)."""
    note_id: int
    start_char: int
    end_char: int
    label: str
    negation: bool
    hypothesis: bool
    family: bool


def _sentence(rnd: random.Random) -> tuple[str, list[tuple]]:
    """One sentence and its (start, end, label, neg, hyp, fam) mentions,
    offsets relative to the sentence."""
    if rnd.random() < DISTRACTOR_RATE:
        return rnd.choice(DISTRACTORS), []
    template, quals = rnd.choice(TEMPLATES)
    picks = [rnd.choice(_SURFACES) for _ in quals]
    parts, ents, pos, i = [], [], 0, 0
    while True:
        j = template.find("{", i)
        if j < 0:
            parts.append(template[i:])
            break
        parts.append(template[i:j])
        pos += j - i
        k = int(template[j + 1])
        label, form = picks[k]
        if pos == 0:
            form = form[0].upper() + form[1:]
        parts.append(form)
        ents.append((pos, pos + len(form), label, *quals[k]))
        pos += len(form)
        i = j + 3
    return "".join(parts), ents


# Note length.  The only measured figure is the mean: a prototype run of
# this pipeline produced 3,689 annotation rows on 300 notes (12.3 per
# note).
# With 30% distractors and 1.18 mentions per template, a sentence yields
# 0.83 rows, so a note needs ~15 sentences on average; a Pareto scale of
# 6.3 sentences gives 12.4 rows per note.  The tail shape (Pareto 1.6,
# capped at 200 sentences) and the distractor rate are assumptions.
PARETO_SCALE, PARETO_SHAPE, MAX_SENTENCES = 6.3, 1.6, 200
DISTRACTOR_RATE = 0.3


def sentence_counts(rnd: random.Random, n: int) -> list[int]:
    """Sentences per note for ``n`` notes: a long-tailed Pareto (minimum
    6, median 9, mean 15, a few notes at the cap), sampled at stratified
    quantiles and shuffled, so every corpus of ``n`` notes holds the same
    amount of text whatever the seed."""
    counts = [min(MAX_SENTENCES, int(PARETO_SCALE * (1 - (i + 0.5) / n)
                                     ** (-1 / PARETO_SHAPE)))
              for i in range(n)]
    rnd.shuffle(counts)
    return counts


def make_note(note_id: int, n_sentences: int,
              rnd: random.Random) -> tuple[str, list[Row]]:
    """Compose one note: sentences joined by a space, expected rows
    shifted to note offsets."""
    parts, rows, off = [], [], 0
    for _ in range(n_sentences):
        text, ents = _sentence(rnd)
        for s, e, label, neg, hyp, fam in ents:
            rows.append(Row(note_id, off + s, off + e, label, neg, hyp, fam))
        parts.append(text)
        off += len(text) + 1
    return " ".join(parts), rows


def make_notes(seed: int, n: int, first_id: int = 0):
    """``n`` notes (ids ``first_id``..) and their expected rows."""
    rnd = random.Random(f"notes:{seed}")
    notes, truth = [], []
    for i, k in enumerate(sentence_counts(rnd, n), start=first_id):
        text, rows = make_note(i, k, rnd)
        notes.append((i, text))
        truth.extend(rows)
    return notes, truth


# -- near-duplicate corpus ------------------------------------------------

_SYL = ["ba", "be", "bi", "bo", "bu", "da", "de", "di", "do", "du", "fa",
        "fe", "fi", "fo", "ka", "ke", "ki", "ko", "la", "le", "li", "lo",
        "ma", "me", "mi", "mo", "na", "ne", "ni", "no", "pa", "pe", "pi",
        "po", "ra", "re", "ri", "ro", "sa", "se", "si", "so", "ta", "te",
        "ti", "to", "va", "ve", "vi", "vo", "za", "zo", "ch", "an", "on"]


def vocabulary(rnd: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rnd.choice(_SYL) for _ in range(rnd.randint(2, 4))))
    return sorted(words)


@dataclass
class NearDupCorpus:
    docs: list[tuple[int, str]]      # (doc_id, text)
    cluster: dict[int, int]          # doc_id -> planted cluster id
    source: dict[int, int]           # planted duplicate id -> its source id


def make_dedup_corpus(seed: int, n_docs: int, vocab: list[str],
                      first_id: int = 0, dup_rate: float = 0.3,
                      edit_rate: float = 0.05) -> NearDupCorpus:
    """``n_docs`` documents over ``vocab`` (ids ``first_id``..) of which
    about ``dup_rate`` are planted near-duplicates (each of a source
    document, with each token replaced with probability ``edit_rate``).
    Ids are shuffled so a source is not always its cluster's smallest
    id."""
    rnd = random.Random(f"dedup:{seed}")
    texts: list[tuple[list[str], int, int | None]] = []  # toks, cluster, src
    n_dups_target = int(n_docs * dup_rate)
    n_dups = 0
    cid = 0
    while len(texts) < n_docs:
        toks = rnd.choices(vocab, k=rnd.randint(40, 120))
        src_idx = len(texts)
        texts.append((toks, cid, None))
        if n_dups < n_dups_target:
            for _ in range(min(rnd.randint(1, 3), n_dups_target - n_dups,
                               n_docs - len(texts))):
                copy = [rnd.choice(vocab) if rnd.random() < edit_rate else t
                        for t in toks]
                texts.append((copy, cid, src_idx))
                n_dups += 1
        cid += 1
    ids = list(range(first_id, first_id + len(texts)))
    rnd.shuffle(ids)
    docs, cluster, source = [], {}, {}
    for idx, (toks, c, src) in enumerate(texts):
        docs.append((ids[idx], " ".join(toks)))
        cluster[ids[idx]] = c
        if src is not None:
            source[ids[idx]] = ids[src]
    docs.sort()
    return NearDupCorpus(docs, cluster, source)


# -- parquet + digests ----------------------------------------------------

def digest_rows(rows) -> str:
    """sha256 of the rows' canonical JSON lines (logical content, so it
    does not depend on the parquet writer's byte layout)."""
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(list(r), ensure_ascii=False).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def write_parquet_files(path: str, id_col: str, text_col: str,
                        rows: list[tuple[int, str]], n_files: int) -> None:
    """Rows split into ``n_files`` parquet files so a read gets as many
    input partitions."""
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([(id_col, pa.int64()), (text_col, pa.string())])
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        chunk = rows[k * step:(k + 1) * step]
        if not chunk:
            break
        table = pa.table({id_col: [r[0] for r in chunk],
                          text_col: [r[1] for r in chunk]}, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k:03d}.parquet"))
