"""The cache lease (edsnlp_spark/core/caching.py): every persisted plane
is leased to the outermost call's owner and ends with that owner's next
top-level call or an explicit release.  These tests pin the guard that
keeps every persist on the lease, and the lifetimes the facade and the
module functions get from it, measured on Spark's own persistent-RDD
registry rather than on the lease's bookkeeping.
"""

import pathlib
import re

import pytest
from pyspark import StorageLevel

from edsnlp_spark.core import caching

PKG = pathlib.Path(__file__).resolve().parents[1] / "edsnlp_spark"

_RAW_PERSIST_RX = re.compile(r"(?<!\bcaching)\.persist\(|\.cache\(\)")


def _rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _nlp(qualifiers=("negation",)):
    import edsnlp_spark as es
    nlp = es.blank()
    nlp.add_pipe("eds.matcher", terms={"diabete": ["diabete"]})
    for q in qualifiers:
        nlp.add_pipe(f"eds.{q}")
    return nlp


def _notes(spark, n=4):
    return spark.createDataFrame(
        [(i, f"Le patient {i} n'a pas de diabete.") for i in range(n)],
        "note_id long, note_text string")


def test_every_persist_goes_through_the_lease():
    """A raw ``.persist(``/``.cache()`` outside core/caching.py would
    hold a plane no lease ends (the leak this module exists to stop)."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "core/caching.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if _RAW_PERSIST_RX.search(line):
                bad.append(f"{rel}:{i}: {line.strip()}")
    assert not bad, "persist outside caching.persist:\n" + "\n".join(bad)


@pytest.mark.parametrize("qualifiers", [
    ["negation"], ["negation", "hypothesis", "family"]], ids="-".join)
def test_tracked_planes_match_persistent_rdds(spark, tmp_path, qualifiers):
    """After one written facade pass, the lease accounts for every
    persistent RDD the pass added: tracked_scopes() is the whole cache
    the pass holds, the prepared notes plane included.  However many
    qualifiers share the default termination set, the pass holds three
    planes: prepared notes, cues and boundaries."""
    caching.release()
    nlp = _nlp(qualifiers)
    before = _rdd_ids(spark)
    nlp.pipe(_notes(spark)).write.mode("overwrite").parquet(
        str(tmp_path / "out"))
    added = _rdd_ids(spark) - before
    assert added
    assert sum(caching.tracked_scopes().values()) == len(added)
    assert caching.tracked_scopes() == {"SparkNLP": len(added)}
    assert caching.tracked_scopes() == {"SparkNLP": 3}
    caching.release(nlp)
    assert not (_rdd_ids(spark) & added)


def test_nlp_call_leaves_no_cached_plane(spark):
    """``nlp(text)`` ends its lease after its collect: after one call
    and after five, no persistent RDD the calls added is left (each
    call's prepared notes plane included)."""
    nlp = _nlp()
    text = "Le patient n'a pas de diabete."
    before = _rdd_ids(spark)
    rows = nlp(text, spark)
    assert [r.negation for r in rows] == [True]
    after_first = _rdd_ids(spark)
    for _ in range(4):
        assert len(nlp(text, spark)) == 1
    after_fifth = _rdd_ids(spark)
    assert not (after_first - before)
    assert not (after_fifth - before)


def test_pipe_passes_do_not_accumulate_cache(spark, tmp_path):
    """Each ``pipe()`` pass ends the previous pass's lease: over three
    written passes the cache the facade holds stays one pass's worth,
    and ``release(nlp)`` drops that too."""
    nlp = _nlp()
    notes = _notes(spark)
    before = _rdd_ids(spark)
    added = []
    for _ in range(3):
        seen = _rdd_ids(spark)
        nlp.pipe(notes).write.mode("overwrite").parquet(
            str(tmp_path / "out"))
        now = _rdd_ids(spark)
        added.append(now - seen)
        assert len(now - before) == len(added[0])
    assert not (added[1] & now)  # pass 2's planes ended with pass 3
    caching.release(nlp)
    assert not (_rdd_ids(spark) - before)


def test_module_functions_own_separate_leases(spark):
    """Two module functions are two owners: a top-level
    strip_duplicated_spans call must not end the lease of a
    duplicated_windows result that has not been materialized yet, or
    its ``wins`` plane would be silently recomputed."""
    from edsnlp_spark.operators.dedup import (
        _window_hash_rows, duplicated_windows, strip_duplicated_spans)

    caching.release()
    docs_a = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    docs_b = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z v")], "doc_id long, text string")
    wins_a = _window_hash_rows(docs_a, 2, "doc_id", "text")
    out_a = duplicated_windows(docs_a, n=2)
    assert wins_a.storageLevel != StorageLevel.NONE
    strip_duplicated_spans(docs_b, n=2)
    assert wins_a.storageLevel != StorageLevel.NONE
    assert out_a.count() == 4  # windows "a b", "b c" in both docs
    # the same function's next top-level call does end its lease
    duplicated_windows(docs_b, n=2)
    assert wins_a.storageLevel == StorageLevel.NONE
    caching.release()


def test_shared_embedding_release_ends_its_lease(spark):
    """SharedEmbedding owns its embeddings plane: ``release()`` frees
    exactly the persistent RDD its materialized forward added."""
    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.operators.trainable import SharedEmbedding

    notes = Pipeline([Tokenizer()])(_notes(spark, 2))
    before = _rdd_ids(spark)
    shared = SharedEmbedding(notes, window=4, stride=4, dim=4).materialize()
    added = _rdd_ids(spark) - before
    assert len(added) == 1
    assert caching.tracked_scopes().get("SharedEmbedding") == 1
    shared.release()
    assert not (_rdd_ids(spark) & added)
    assert "SharedEmbedding" not in caching.tracked_scopes()


def test_persist_outside_a_lease_is_refused(spark):
    """A plane persisted with no active call would have no owner to
    end its lease, so caching.persist refuses it loudly."""
    import pytest

    with pytest.raises(RuntimeError, match="outside a leased call"):
        caching.persist(spark.range(3))
