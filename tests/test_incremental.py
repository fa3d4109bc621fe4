"""Incremental KG maintenance: ``construct_incremental(canon(A), B)``
must be row-identical to ``construct_canonical(A ∪ B)`` — including the
representative re-election case, where a later batch introduces a
lexicographically smaller component member and existing rows must be
rewritten."""

from __future__ import annotations

import datetime
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from fixtures import gen_transcripts  # noqa: E402

from jena_spark import terms as TM  # noqa: E402
from jena_spark.pipeline.canonicalize import (  # noqa: E402
    construct_canonical,
    construct_incremental,
)
from jena_spark.schemas import TRANSCRIPTS_SCHEMA  # noqa: E402


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _split_convs(spark, n_convs: int, seed: int):
    pdf, _ = gen_transcripts(n_convs=n_convs, seed=seed)
    convs = sorted(pdf["conv_id"].unique())
    half = set(convs[: len(convs) // 2])
    a = spark.createDataFrame(pdf[pdf["conv_id"].isin(half)], TRANSCRIPTS_SCHEMA)
    b = spark.createDataFrame(pdf[~pdf["conv_id"].isin(half)], TRANSCRIPTS_SCHEMA)
    full = spark.createDataFrame(pdf, TRANSCRIPTS_SCHEMA)
    return a, b, full


@pytest.mark.parametrize("seed", [42, 911])
def test_incremental_equals_full(spark, seed):
    a, b, full = _split_convs(spark, n_convs=30, seed=seed)
    inc = construct_incremental(construct_canonical(a), b)
    want = construct_canonical(full)
    assert _rows(inc) == _rows(want)


def _mini(spark, rows):
    data = [
        (conv, i, "user", text, None,
         datetime.datetime(2026, 1, 1, 0, 0, i))
        for conv, i, text in rows
    ]
    return spark.createDataFrame(data, TRANSCRIPTS_SCHEMA)


def test_incremental_reelection(spark):
    """Batch A mentions only 'Turing' (component rep = the hub
    alan_turing IRI); batch B introduces 'A. Turing', whose entity IRI
    a_turing is smaller — every existing edge/label row on the old rep
    must be rewritten, and the result must equal the full build."""
    a = _mini(spark, [
        ("conv-a", 0, "Turing wrote the paper"),
        ("conv-a", 1, "we discussed Turing at length"),
        ("conv-b", 0, "Spark is fast"),
    ])
    b = _mini(spark, [
        ("conv-c", 0, "A. Turing according to the archive"),
    ])
    canon_a = construct_canonical(a)
    old_rep = TM.entity_iri("Alan Turing")
    new_rep = TM.entity_iri("A. Turing")
    assert _rows(canon_a.where(f"o_val = '{old_rep}'")) != set()

    inc = construct_incremental(canon_a, b)
    full = construct_canonical(
        _mini(spark, [
            ("conv-a", 0, "Turing wrote the paper"),
            ("conv-a", 1, "we discussed Turing at length"),
            ("conv-b", 0, "Spark is fast"),
            ("conv-c", 0, "A. Turing according to the archive"),
        ])
    )
    assert _rows(inc) == _rows(full)
    # the re-election actually happened
    assert inc.where(f"o_val = '{old_rep}' or s_val = '{old_rep}'").count() == 0
    assert inc.where(f"s_val = '{new_rep}'").count() > 0


def test_incremental_pure_append_plan(spark):
    """A batch with no re-election must leave the existing frame
    untouched (the common case is a pure append — the returned plan's
    existing branch IS the input plan, no rewrite subtree)."""
    a = _mini(spark, [("conv-a", 0, "Spark is fast")])
    b = _mini(spark, [("conv-z", 0, "Spark again")])
    canon_a = construct_canonical(a).localCheckpoint(eager=True)
    inc = construct_incremental(canon_a, b)
    plan = inc._jdf.queryExecution().optimizedPlan().toString()
    # no isin-rewrite filter over the existing table in the plan
    assert "s_val IN" not in plan and "o_val IN" not in plan
    full = construct_canonical(_mini(spark, [
        ("conv-a", 0, "Spark is fast"),
        ("conv-z", 0, "Spark again"),
    ]))
    assert _rows(inc) == _rows(full)


def test_incremental_chain(spark):
    """Three-batch chain: incremental(incremental(A,B),C) == full."""
    pdf, _ = gen_transcripts(n_convs=18, seed=5)
    convs = sorted(pdf["conv_id"].unique())
    thirds = [set(convs[i::3]) for i in range(3)]
    frames = [
        spark.createDataFrame(pdf[pdf["conv_id"].isin(t)], TRANSCRIPTS_SCHEMA)
        for t in thirds
    ]
    full = spark.createDataFrame(pdf, TRANSCRIPTS_SCHEMA)
    acc = construct_canonical(frames[0])
    for nxt in frames[1:]:
        acc = construct_incremental(acc, nxt)
    assert _rows(acc) == _rows(construct_canonical(full))


# --- encoded (TDB-posture) incremental maintenance -----------------------


def _enc_rows(pair):
    t, n = pair
    return _rows(t), _rows(n)


@pytest.mark.parametrize("seed", [42, 911])
def test_incremental_encoded_equals_full(spark, seed):
    """Both output tables (id-tuple triples AND node dictionary) of the
    incremental fold must be row-identical to the one-shot encoded
    build over the union."""
    from jena_spark.pipeline.encoded import (
        construct_canonical_encoded,
        construct_incremental_encoded,
    )

    a, b, full = _split_convs(spark, n_convs=30, seed=seed)
    t_a, n_a = construct_canonical_encoded(a)
    inc_t, inc_n = _enc_rows(construct_incremental_encoded(t_a, n_a, b))
    want_t, want_n = _enc_rows(construct_canonical_encoded(full))
    assert inc_t == want_t
    assert inc_n == want_n


def test_incremental_encoded_reelection(spark):
    """Re-election in id space: every id referencing the old rep is
    rewritten, the old rep's dictionary row is dropped, and decoding
    the folded store equals the string-level full build."""
    from jena_spark.pipeline.encode import decode_triples
    from jena_spark.pipeline.encoded import (
        construct_canonical_encoded,
        construct_incremental_encoded,
    )

    rows_a = [
        ("conv-a", 0, "Turing wrote the paper"),
        ("conv-a", 1, "we discussed Turing at length"),
        ("conv-b", 0, "Spark is fast"),
    ]
    rows_b = [("conv-c", 0, "A. Turing according to the archive")]
    t_a, n_a = construct_canonical_encoded(_mini(spark, rows_a))
    inc_t, inc_n = construct_incremental_encoded(
        t_a, n_a, _mini(spark, rows_b))
    want_t, want_n = construct_canonical_encoded(_mini(spark, rows_a + rows_b))
    assert _rows(inc_t) == _rows(want_t)
    assert _rows(inc_n) == _rows(want_n)
    old_rep = TM.entity_iri("Alan Turing")
    assert inc_n.where(f"val = '{old_rep}'").count() == 0
    # decoded fold equals the oracle-checked string pipeline
    dec = decode_triples(inc_t.drop("conv_id"), inc_n)
    full_str = construct_canonical(_mini(spark, rows_a + rows_b))
    assert _rows(dec.select(*TM.TERM_COLS)) == _rows(
        full_str.select(*TM.TERM_COLS))


def test_incremental_encoded_chain(spark):
    from jena_spark.pipeline.encoded import (
        construct_canonical_encoded,
        construct_incremental_encoded,
    )

    pdf, _ = gen_transcripts(n_convs=18, seed=5)
    convs = sorted(pdf["conv_id"].unique())
    thirds = [set(convs[i::3]) for i in range(3)]
    frames = [
        spark.createDataFrame(pdf[pdf["conv_id"].isin(t)], TRANSCRIPTS_SCHEMA)
        for t in thirds
    ]
    full = spark.createDataFrame(pdf, TRANSCRIPTS_SCHEMA)
    acc_t, acc_n = construct_canonical_encoded(frames[0])
    for nxt in frames[1:]:
        acc_t, acc_n = construct_incremental_encoded(acc_t, acc_n, nxt)
    want_t, want_n = construct_canonical_encoded(full)
    assert _rows(acc_t) == _rows(want_t)
    assert _rows(acc_n) == _rows(want_n)


def test_mentionless_batch_both_directions(spark):
    """A batch whose texts mention no gazetteer surface (empty
    present-surface set, empty rep dim), in both store formats: its one-shot
    build equals the generic reference, and folding it onto a batch
    with mentions, or a batch with mentions onto it, equals the one-shot
    build of the union."""
    from jena_spark.pipeline.canonicalize import canonicalize_triples
    from jena_spark.pipeline.encode import decode_triples
    from jena_spark.pipeline.encoded import (
        construct_canonical_encoded,
        construct_incremental_encoded,
    )
    from jena_spark.pipeline.extract import raw_triples

    quiet = [("conv-q", 0, "nothing to see here"),
             ("conv-q", 1, "still no names at all")]
    loud = [("conv-m", 0, "Turing wrote the paper"),
            ("conv-m", 1, "Spark is fast")]
    terms = lambda df: _rows(df.select(*TM.TERM_COLS))  # noqa: E731

    only = construct_canonical(_mini(spark, quiet))
    assert terms(only) == terms(canonicalize_triples(raw_triples(_mini(spark, quiet))))
    assert only.where(f"p_val = '{TM.P_MENTIONS}'").count() == 0
    t_q, n_q = construct_canonical_encoded(_mini(spark, quiet))
    assert terms(decode_triples(t_q.drop("conv_id"), n_q)) == terms(only)

    union = _mini(spark, quiet + loud)
    want = _rows(construct_canonical(union))
    want_t, want_n = _enc_rows(construct_canonical_encoded(union))
    for first, then in ((quiet, loud), (loud, quiet)):
        inc = construct_incremental(
            construct_canonical(_mini(spark, first)), _mini(spark, then))
        assert _rows(inc) == want
        t_a, n_a = construct_canonical_encoded(_mini(spark, first))
        inc_t, inc_n = _enc_rows(
            construct_incremental_encoded(t_a, n_a, _mini(spark, then)))
        assert inc_t == want_t
        assert inc_n == want_n
