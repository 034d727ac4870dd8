"""Empty-input robustness: every core operator must return an EMPTY,
correctly-typed frame on empty input — not throw.  Production pipelines
hit empty partitions/splits constantly (a filter that matches nothing,
a date-gated subset with no dates)."""

from pyspark.sql import functions as F


def _empty_notes(spark):
    return spark.createDataFrame([], "note_id long, note_text string")


def test_pipeline_on_empty_notes(spark):
    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.operators.sentences import SentenceSegmenter
    out = Pipeline([Tokenizer(mode="pretokenized"), SentenceSegmenter()])(
        _empty_notes(spark))
    assert out.count() == 0
    assert "tokens" in out.columns and "sentences" in out.columns


def test_matchers_on_empty_notes(spark):
    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.operators.matcher import PhraseMatcher, RegexMatcher
    notes = Pipeline([Tokenizer(mode="pretokenized")])(_empty_notes(spark))
    assert PhraseMatcher({"x": ["a"]}).entities(notes).count() == 0
    assert RegexMatcher({"x": [r"\d+"]}).entities(notes).count() == 0
    assert RegexMatcher({"x": ["a+"]}, native="unchecked") \
        .entities(notes).count() == 0


def test_qualifier_on_empty_entities(spark):
    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.operators.sentences import SentenceSegmenter
    from edsnlp_spark.operators.matcher import PhraseMatcher
    from edsnlp_spark.operators.qualifiers import QualifierEngine
    notes = Pipeline([Tokenizer(mode="pretokenized"), SentenceSegmenter()])(
        spark.createDataFrame([(1, "rien a signaler")],
                              "note_id long, note_text string"))
    ents = PhraseMatcher({"sym": ["absent_term"]}).entities(notes)
    out = QualifierEngine("negated", {"preceding": ["sans"]}) \
        .qualify(notes, ents)
    assert out.count() == 0
    assert "negated" in out.columns


def test_filter_spans_and_packing_empty(spark):
    from edsnlp_spark.operators.filter_spans import filter_spans
    from edsnlp_spark.operators.packing import pack_documents
    ents = spark.createDataFrame(
        [], "note_id long, start_char int, end_char int, label string, "
            "lexical_variant string, span_type string")
    assert filter_spans(ents).count() == 0
    assert pack_documents(_empty_notes(spark), budget=100).count() == 0


def test_pii_and_dedup_empty(spark):
    from edsnlp_spark.operators.pii import PIIScrubber
    from edsnlp_spark.operators.dedup import token_shingles
    notes = _empty_notes(spark)
    assert PIIScrubber().entities(notes).count() == 0
    assert PIIScrubber().transform(notes).count() == 0
    one = spark.createDataFrame([(1, "")], "note_id long, note_text string")
    rows = one.select(token_shingles(F.col("note_text"), 3).alias("sh")) \
        .collect()
    assert rows[0].sh == []


def test_round7_operators_on_empty_docs(spark):
    """r7 operators on an empty docs frame: empty typed output, no
    throw (the daily-ingest pipeline regularly sees empty splits)."""
    from edsnlp_spark.operators.bpe import bpe_encode, bpe_train
    from edsnlp_spark.operators.dedup import (
        cross_duplicated_windows, duplicated_windows, simhash_neardup_pairs,
        strip_duplicated_spans, winnowing_fingerprints)

    empty = spark.createDataFrame([], "doc_id long, text string")
    some = spark.createDataFrame([(1, "a b c d e f")],
                                 "doc_id long, text string")

    assert duplicated_windows(empty, n=3).count() == 0
    out = strip_duplicated_spans(empty, n=3)
    assert out.count() == 0 and out.columns == ["doc_id", "text_clean",
                                                "n_removed"]
    assert winnowing_fingerprints(empty, k=2, w=2).count() == 0
    assert simhash_neardup_pairs(empty).count() == 0
    # cross dedup: empty on either side -> empty
    assert cross_duplicated_windows(empty, some, n=3).count() == 0
    assert cross_duplicated_windows(some, empty, n=3).count() == 0
    # BPE: nothing to merge -> empty merge list; encode of empty -> empty
    assert bpe_train(empty, n_merges=3) == []
    assert bpe_encode(empty, [("a", "b")]).count() == 0


def test_round9_operators_on_empty_docs(spark):
    """r9 operators degrade to typed empties on empty inputs — nothing
    raises, schemas stay stable."""
    from edsnlp_spark.operators.bpe import bpe_train_batched
    from edsnlp_spark.operators.dedup import strip_spans_incremental
    from edsnlp_spark.operators.trainable import ner_linear_crf

    empty = spark.createDataFrame([], "doc_id long, text string")
    some = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string")

    # batched BPE: nothing to merge
    assert bpe_train_batched(empty, n_merges=3, batch=4) == []
    # incremental strip: empty batch -> empty; empty INDEX -> batch-
    # local semantics only (the doc passes through untouched)
    empty_idx = spark.createDataFrame([], "h long")
    assert strip_spans_incremental(empty, None, n=3).count() == 0
    row = strip_spans_incremental(some, empty_idx, n=3).collect()[0]
    assert row["text_clean"] == "a b c d e f" and row["n_removed"] == 0
    # CRF head on empty notes -> typed empty entities plane
    notes = spark.createDataFrame([], "note_id long, note_text string")
    out = ner_linear_crf(notes)
    assert out.count() == 0
    assert "lexical_variant" in out.columns


def test_round10_operators_on_empty_docs(spark):
    """r10 operators degrade to typed empties (or raise the documented
    config errors) on empty inputs — nothing crashes mid-plan."""
    import pytest
    from pyspark.sql import functions as F

    from edsnlp_spark.operators.dedup import (
        cross_minhash_candidates, minhash_band_index)
    from edsnlp_spark.operators.trainable import (
        classify_docs, quantize_linear, train_doc_classifier)

    empty = spark.createDataFrame([], "doc_id long, text string")
    some = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string")

    # fuzzy index of an empty corpus -> empty index; probing an empty
    # index -> no candidates; empty batch against a real index -> none
    eidx = minhash_band_index(empty)
    assert eidx.count() == 0
    assert cross_minhash_candidates(some, eidx).count() == 0
    idx = minhash_band_index(some)
    assert cross_minhash_candidates(empty, idx).count() == 0

    # classifier training on an empty plane raises the documented error
    lab = empty.select("doc_id", "text",
                       F.lit(0).cast("int").alias("label"))
    with pytest.raises(ValueError, match="no training docs"):
        train_doc_classifier(lab, n_classes=2, n_epochs=1, n_shards=2)

    # the integer scorer over empty docs -> typed empty; over a doc
    # shorter than the ngram -> zero scores, class-0 tie
    Wq, bq = quantize_linear([[0.0] * 64, [0.0] * 64], [0.0, 0.0])
    assert classify_docs(empty, Wq, bq).count() == 0
    short = spark.createDataFrame([(7, "ab")], "doc_id long, text string")
    row = classify_docs(short, Wq, bq, class_names=["en", "xx"]).first()
    assert row["pred"] == 0 and row["score_0"] == 0 and row["score_1"] == 0
    assert row["pred_name"] == "en"


def test_unigram_and_mmr_empty_inputs(spark):
    from edsnlp_spark.operators.unigram import (
        unigram_encode_words, unigram_train)

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    vocab, unk = unigram_train(empty_docs, vocab_size=10, seed_size=10)
    assert vocab == {} and unk < 0
    w = spark.createDataFrame([("ab",)], "word string")
    row = unigram_encode_words(w, vocab, unk).collect()[0]
    assert row.n_pieces == 2 and row.score_q == 2 * unk


def test_r11_operators_empty_inputs(spark):
    """Empty-input robustness for the round-11 operators (the r9/r10
    convention): empty corpora/batches degrade to empty or identity
    results, never errors."""
    from edsnlp_spark.operators.dedup import (connected_components,
                                              incremental_components)
    from edsnlp_spark.operators.metrics import rouge_l
    from edsnlp_spark.operators.wordpiece import (wordpiece_encode_words,
                                                  wordpiece_train)

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    # wordpiece: empty corpus -> alphabet-only (empty) vocab
    assert wordpiece_train(empty_docs, n_merges=4, batch=2) == []
    empty_words = spark.createDataFrame([], "word string")
    assert wordpiece_encode_words(empty_words, ["a"]).count() == 0
    # rouge_l: no overlapping pair ids -> empty
    cand = spark.createDataFrame([(0, "a b")], "pair_id long, text string")
    ref = spark.createDataFrame([], "pair_id long, text string")
    assert rouge_l(cand, ref).count() == 0
    # incremental components: empty batch leaves labels unchanged
    labels = connected_components(spark.createDataFrame(
        [(1, 2)], "id_a long, id_b long"))
    empty_edges = spark.createDataFrame([], "id_a long, id_b long")
    got = {r.id: r.comp
           for r in incremental_components(labels, empty_edges).collect()}
    assert got == {1: 1, 2: 1}
    # and empty labels with a fresh batch == plain CC
    empty_labels = spark.createDataFrame([], "id long, comp long")
    batch = spark.createDataFrame([(5, 6)], "id_a long, id_b long")
    got2 = {r.id: r.comp
            for r in incremental_components(empty_labels, batch).collect()}
    assert got2 == {5: 5, 6: 5}


def test_r12_operators_empty_inputs(spark, tmp_path):
    """Empty-input robustness for the round-12 operators: empty
    batches/corpora degrade to empty results, never errors."""
    from edsnlp_spark.operators.dedup import (minhash_index_candidates,
                                              minhash_postings_index)

    # postings index over an empty corpus builds, and probing it with
    # a real batch yields no cross pairs (self pairs still possible)
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    path = str(tmp_path / "mhidx")
    minhash_postings_index(empty_docs, path)
    batch = spark.createDataFrame(
        [(1, "spark streams merge tables fast")],
        "doc_id long, text string")
    assert minhash_index_candidates(spark, path, batch).count() == 0
    # empty batch against a populated index -> no candidates
    minhash_postings_index(batch, path)
    assert minhash_index_candidates(spark, path, empty_docs).count() == 0
