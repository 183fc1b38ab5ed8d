"""Sequence packing (operators/pack.py): placement math, boundary
straddles, empty docs, and invariance to the sampled range-partition
boundaries (the distributed-prefix-sum correctness claim)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wdedup_spark.operators import pack


def _docs(spark, counts):
    """docs whose whitespace token count is counts[i], id = i."""
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(counts)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_placement_handcrafted(spark):
    # L=10: counts 4,7,10,0,25 -> starts 0,4,11,21,21
    plan = pack.pack_plan(_docs(spark, [4, 7, 10, 0, 25]), seq_len=10)
    got = {r.id: r.asDict() for r in plan.collect()}
    exp = {
        0: dict(n_tokens=4, tok_start=0, seq_start=0, seq_off=0, seq_end=0),
        1: dict(n_tokens=7, tok_start=4, seq_start=0, seq_off=4, seq_end=1),
        2: dict(n_tokens=10, tok_start=11, seq_start=1, seq_off=1, seq_end=2),
        3: dict(n_tokens=0, tok_start=21, seq_start=2, seq_off=1, seq_end=2),
        4: dict(n_tokens=25, tok_start=21, seq_start=2, seq_off=1, seq_end=4),
    }
    for i, e in exp.items():
        for k, v in e.items():
            assert got[i][k] == v, (i, k, got[i])


def test_invariant_to_partition_count(spark):
    counts = [(i * 7919) % 40 for i in range(400)]  # incl. zeros
    base = None
    for par in (2, 3, 8):
        plan = pack.pack_plan(_docs(spark, counts), seq_len=32, n_partitions=par)
        rows = sorted(tuple(r) for r in plan.collect())
        if base is None:
            base = rows
        else:
            assert rows == base, f"partition count {par} changed the packing"


def test_matches_global_window_reference(spark):
    counts = [(i * 31) % 17 for i in range(200)]
    plan = {r.id: r.tok_start
            for r in pack.pack_plan(_docs(spark, counts), seq_len=16,
                                    n_partitions=4).collect()}
    run = 0
    for i, n in enumerate(counts):
        assert plan[i] == run, i
        run += n


def test_rejects_bad_seq_len(spark):
    import pytest

    with pytest.raises(ValueError):
        pack.pack_plan(_docs(spark, [1]), seq_len=0)


def test_duplicate_ids_deterministic(spark):
    # duplicate ids (review r5): the ROWS cumsum breaks id ties on
    # n_tokens, so the output MULTISET is deterministic across runs and
    # partitionings — remaining ties are rows identical in every
    # projected column, interchangeable by construction
    rows = [(i % 5, " ".join(["w"] * n))
            for i, n in enumerate([4, 7, 3, 9, 2, 11, 4, 6, 5, 8])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = None
    for par in (2, 3, 7):
        plan = pack.pack_plan(df, seq_len=8, n_partitions=par)
        got = sorted(tuple(r) for r in plan.collect())
        if base is None:
            base = got
        else:
            assert got == base, f"partition count {par} changed the packing"
    # reference: cumsum over (id, n_tokens) order
    counts = sorted((i % 5, len(t.split())) for i, t in
                    ((i, r[1]) for i, r in enumerate(rows)))
    run, exp = 0, []
    for i, n in enumerate(counts):
        exp.append((n[0], n[1], run))
        run += n[1]
    assert sorted((r[0], r[1], r[2]) for r in base) == sorted(exp)


def test_chunk_docs_windows(spark):
    from wdedup_spark.operators.pack import chunk_docs

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x"), (3, ""), (4, "  p  q  ")],
        "doc_id long, text string",
    )
    got = sorted(tuple(r) for r in chunk_docs(df, 4, 3).collect())
    # window 1 ("d e f g") reaches doc 1's end, so the start-6 window
    # ("g", a strict subset of it) is never emitted (review r5)
    assert got == [
        (1, 0, 4, "a b c d"), (1, 1, 4, "d e f g"),
        (2, 0, 1, "x"), (4, 0, 2, "p q"),
    ]
    # a token past the covering window resurrects the third chunk with
    # only genuinely new content at its end
    df8 = spark.createDataFrame([(1, "a b c d e f g h")],
                                "doc_id long, text string")
    got8 = sorted(tuple(r) for r in chunk_docs(df8, 4, 3).collect())
    assert got8 == [
        (1, 0, 4, "a b c d"), (1, 1, 4, "d e f g"), (1, 2, 2, "g h"),
    ]
    # stride defaults to chunk (disjoint windows, no overlap)
    disjoint = sorted(tuple(r) for r in chunk_docs(df, 3).collect()
                      if r.id == 1)
    assert disjoint == [(1, 0, 3, "a b c"), (1, 1, 3, "d e f"), (1, 2, 1, "g")]


def test_chunk_docs_rejects_bad_params(spark):
    from wdedup_spark.operators.pack import chunk_docs

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    for ct, st in ((0, None), (4, 0), (4, 5), (4, -1)):
        with pytest.raises(ValueError):
            chunk_docs(df, ct, st)


def test_chunk_docs_invariants_grid(spark):
    """Invariant sweep across doc lengths 0..40 x three (W, S) configs:
    (1) chunk_idx is contiguous from 0; (2) the windows cover every
    token exactly once per stride step (union of [iS, iS+len_i) =
    [0, n)); (3) no window is fully covered by its predecessor;
    (4) for S == W the chunks concatenate back to the token stream."""
    from wdedup_spark.operators.pack import chunk_docs

    docs = [(n, " ".join(f"t{j}" for j in range(n))) for n in range(41)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for w, s in ((4, 3), (5, 5), (7, 2)):
        rows = chunk_docs(df, w, s).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.id, []).append(r)
        assert 0 not in by_doc  # zero-token doc -> zero chunks
        for n in range(1, 41):
            chunks = sorted(by_doc[n], key=lambda r: r.chunk_idx)
            assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
            covered = set()
            prev_end = None
            for c in chunks:
                start = c.chunk_idx * s
                toks = c.chunk_text.split()
                assert c.n_tokens == len(toks) <= w
                assert toks == [f"t{j}" for j in range(start, start + len(toks))]
                end = start + len(toks)
                if prev_end is not None:
                    assert end > prev_end, (n, w, s, c.chunk_idx)
                prev_end = end
                covered.update(range(start, end))
            assert covered == set(range(n)), (n, w, s)
            if s == w:
                flat = [t for c in chunks for t in c.chunk_text.split()]
                assert flat == [f"t{j}" for j in range(n)]
