"""Prefix-subsumption dedup vs a transparent O(n²) Python oracle,
including forced cross-partition boundaries and equal-text runs."""

from __future__ import annotations

import pytest
import random

from wdedup_spark.operators.prefixdedup import prefix_subsumed


def prefix_edges(df, text_col: str = "doc", id_col: str = "conv_id"):
    """Cluster edges ``(conv_a=witness, conv_b=prefix)`` derived from the
    operator: one edge per subsumed document."""
    return prefix_subsumed(df, text_col, id_col).filter("subsumed").selectExpr(
        "witness AS conv_a", "id AS conv_b"
    )


def oracle(docs: list[tuple[int, str]]) -> dict[int, tuple[bool, int | None]]:
    """subsumed + witness: min-(text, id) proper extension."""
    out = {}
    for i, t in docs:
        exts = [
            (t2, j) for j, t2 in docs if len(t2) > len(t) and t2.startswith(t)
        ]
        out[i] = (True, min(exts)[1]) if exts else (False, None)
    return out


def _check(spark, docs, n_partitions):
    df = spark.createDataFrame(docs, ["conv_id", "doc"])
    got = {
        r.id: (r.subsumed, r.witness)
        for r in prefix_subsumed(df, n_partitions=n_partitions).collect()
    }
    assert got == oracle(docs)


def test_basic_prefix_chain(spark):
    docs = [
        (1, "a b c"),
        (2, "a b c d e"),      # extends 1
        (3, "a b c d e"),      # exact dup of 2 — NOT subsumed by 2
        (4, "a b c d e f"),    # extends 2/3 -> 2 and 3 ARE subsumed
        (5, "z z z"),
        (6, "q"),
    ]
    _check(spark, docs, n_partitions=2)


def test_equal_run_not_subsumed_without_extension(spark):
    docs = [(1, "x y"), (2, "x y"), (3, "x y"), (4, "other")]
    _check(spark, docs, n_partitions=3)


def test_boundary_stitch_across_partitions(spark):
    # duplicate-heavy input over many partitions: 20 copies of one text
    # collapse to one run row, so its extension sits in a later range
    # slice and the answer crosses a slice boundary; every copy must get
    # the same (subsumed, witness) answer
    docs = [(i, "p q r") for i in range(20)] + [(100, "p q r s"), (101, "a")]
    _check(spark, docs, n_partitions=8)


def test_randomized_vs_oracle(spark):
    rng = random.Random(11)
    vocab = ["a", "b", "c"]
    docs = []
    texts = []
    for i in range(120):
        if texts and rng.random() < 0.4:
            base = rng.choice(texts)
            ext = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 3)))
            t = (base + " " + ext).strip() if ext else base  # prefix, dup, or extension
        else:
            t = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 6)))
        texts.append(t)
        docs.append((i, t))
    for parts in (2, 5, 13):
        _check(spark, docs, parts)


def test_prefix_edges_connect_chains(spark):
    docs = [(1, "a b"), (2, "a b c"), (3, "a b c d"), (4, "z")]
    edges = {
        (r.conv_a, r.conv_b)
        for r in prefix_edges(spark.createDataFrame(docs, ["conv_id", "doc"])).collect()
    }
    # 1's smallest extension is 2; 2's is 3 — the chain connects transitively
    assert edges == {(2, 1), (3, 2)}


def test_null_text_is_answered_not_crashed(spark):
    docs = [(1, "a b"), (2, "a b c"), (3, None)]
    df = spark.createDataFrame(docs, "conv_id long, doc string")
    got = {r.id: (r.subsumed, r.witness) for r in prefix_subsumed(df).collect()}
    assert got == {1: (True, 2), 2: (False, None), 3: (False, None)}


# ---------------------------------------------------------------------------
# Committed-artifact flow: sorted runs + cross-run probes (incremental path)
# ---------------------------------------------------------------------------

from wdedup_spark.operators.prefixdedup import (  # noqa: E402
    corpus_bounds,
    cross_prefix_edges,
    edges_from_sorted,
    sorted_corpus,
)


def _pinned_run(spark, docs, n_partitions):
    """(corpus, bounds) for one committed run — localCheckpoint stands in
    for the ledger's parquet pin in tests."""
    df = spark.createDataFrame(docs, "conv_id string, doc string")
    corpus = sorted_corpus(df, "doc", "conv_id", n_partitions).localCheckpoint(
        eager=True
    )
    return corpus, corpus_bounds(corpus).localCheckpoint(eager=True)


def _oracle_edges(docs) -> set:
    """Canonical (witness, prefix) edges from the plain-Python oracle."""
    return {(w, i) for i, (sub, w) in oracle(docs).items() if sub}


def test_edges_from_sorted_matches_operator(spark):
    docs = [(str(i), t) for i, t in enumerate(
        ["ab", "abc", "abd", "b", "ba", "bab", "q", "qq", "qqq", "z"]
    )]
    corpus, bounds = _pinned_run(spark, docs, 4)
    got = {(r.conv_a, r.conv_b) for r in edges_from_sorted(corpus, bounds).collect()}
    assert got == _oracle_edges(docs)


def test_cross_run_edges_randomized_vs_full_operator(spark):
    """Two-day split of a random prefix-rich corpus: the union of per-day
    within-run edges plus cross-run probe edges must (a) flag EXACTLY the
    full recompute's subsumed set and (b) contain every canonical
    smallest-extension edge (both from the plain-Python oracle), (c) contain only true proper-prefix pairs —
    the documented coarser-clusters contract."""
    rng = random.Random(75)
    texts: set[str] = set()
    while len(texts) < 80:
        texts.add("".join(rng.choice("abc") for _ in range(rng.randint(1, 8))))
    docs = {f"d{i:03d}": t for i, t in enumerate(sorted(texts))}
    ids = list(docs)
    rng.shuffle(ids)
    for old_n, parts in ((40, 3), (10, 5)):
        old = [(i, docs[i]) for i in sorted(ids[:old_n])]
        new = [(i, docs[i]) for i in sorted(ids[old_n:])]
        old_run = _pinned_run(spark, old, parts)
        new_run = _pinned_run(spark, new, parts)
        new_df = spark.createDataFrame(new, ["conv_id", "doc"])
        edges = (
            edges_from_sorted(*old_run)
            .unionByName(edges_from_sorted(*new_run))
            .unionByName(cross_prefix_edges(new_df, [old_run], "doc", "conv_id"))
        )
        got = {(r.conv_a, r.conv_b) for r in edges.collect()}
        canonical = _oracle_edges(old + new)
        assert {b for _, b in got} == {b for _, b in canonical}, "subsumed-set parity"
        assert canonical <= got, "canonical witness edges present"
        for a, b in got:  # soundness: every emitted edge is a true pair
            assert docs[a] != docs[b] and docs[a].startswith(docs[b])


def test_cross_run_edges_empty_and_disjoint_runs(spark):
    new_df = spark.createDataFrame([("n1", "xyz")], ["conv_id", "doc"])
    # empty committed run: no probes, no edges
    empty = _pinned_run(spark, [], 2)
    assert cross_prefix_edges(new_df, [empty], "doc", "conv_id").count() == 0
    # disjoint texts: probes run, no startswith hits
    run = _pinned_run(spark, [("o1", "aaa"), ("o2", "bbb")], 2)
    assert cross_prefix_edges(new_df, [run], "doc", "conv_id").count() == 0
    # multiple runs, hits in both directions across different runs
    run2 = _pinned_run(spark, [("o3", "xy"), ("o4", "xyzq")], 2)
    got = {
        (r.conv_a, r.conv_b)
        for r in cross_prefix_edges(new_df, [run, run2], "doc", "conv_id").collect()
    }
    assert got == {("n1", "o3"), ("o4", "n1")}


# ---------------------------------------------------------------------------
# Degenerate-slice guard (VERDICT r4 #7): reject loudly, never OOM
# ---------------------------------------------------------------------------

def test_slice_guard_rows_cap_trips_loudly(spark, monkeypatch):
    import wdedup_spark.operators.prefixdedup as px

    monkeypatch.setattr(px, "MAX_SLICE_ROWS", 3)
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], ["conv_id", "doc"]
    )
    with pytest.raises(Exception, match="range slice holds .* rows"):
        px.prefix_subsumed(df, "doc", "conv_id", n_partitions=2).count()


def test_slice_guard_cross_prefix_edges_trips_loudly(spark, monkeypatch):
    import wdedup_spark.operators.prefixdedup as px

    run = _pinned_run(spark, [(f"o{i}", f"doc {i}") for i in range(10)], 1)
    new_df = spark.createDataFrame([("n1", "doc 5 x")], ["conv_id", "doc"])
    monkeypatch.setattr(px, "MAX_SLICE_ROWS", 3)
    with pytest.raises(Exception, match="cross_prefix_edges: range slice holds .* rows"):
        px.cross_prefix_edges(new_df, [run], "doc", "conv_id").count()


def test_slice_guard_bytes_cap_trips_loudly(spark, monkeypatch):
    import wdedup_spark.operators.prefixdedup as px

    monkeypatch.setattr(px, "MAX_SLICE_BYTES", 100)
    df = spark.createDataFrame(
        [(i, "x" * 200 + str(i)) for i in range(6)], ["conv_id", "doc"]
    )
    with pytest.raises(Exception, match="text bytes"):
        px.prefix_subsumed(df, "doc", "conv_id", n_partitions=1).count()


def test_slice_guard_quiet_within_caps(spark):
    # caps at defaults: a normal corpus is untouched
    df = spark.createDataFrame(
        [(1, "ab"), (2, "abc"), (3, "zz")], ["conv_id", "doc"]
    )
    got = {
        r.id: (r.subsumed, r.witness)
        for r in prefix_subsumed(df, "doc", "conv_id").collect()
    }
    assert got == {1: (True, 2), 2: (False, None), 3: (False, None)}
