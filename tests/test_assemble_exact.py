"""Conversation assembly (stable turn ordering) + exact dedup tests —
fixtures D0 (exact copy), D4 (row-shuffled), D4X (permuted indices)."""

from wdedup_spark.operators.assemble import assemble_conversations
from wdedup_spark.operators.exact import add_fingerprint, exact_dup_clusters


def test_assembly_stable_under_row_order(spark, tiny, tiny_turns):
    conv = assemble_conversations(tiny_turns).cache()
    docs = {r["conv_id"]: r["doc"] for r in conv.collect()}
    pairs = tiny.oracle_pairs
    # D0 exact copies and D4 shuffled-row copies assemble identically
    for _, row in pairs[pairs.dup_class.isin(["D0", "D4"])].iterrows():
        assert docs[row.conv_a] == docs[row.conv_b], row.dup_class
    # D1/D2 near-dups must NOT be byte-identical
    for _, row in pairs[pairs.dup_class.isin(["D1", "D2"])].iterrows():
        assert docs[row.conv_a] != docs[row.conv_b], row.dup_class


def _rep_of(conv):
    """conv_id → its exact group's representative (the group min id)."""
    clusters = exact_dup_clusters(conv, "doc", "conv_id")
    return {
        r["conv_id"]: r["rep_id"]
        for r in add_fingerprint(conv, "doc").join(clusters, "fp").collect()
    }


def test_exact_pairs_match_planted(spark, tiny, tiny_turns):
    rep = _rep_of(assemble_conversations(tiny_turns))
    planted = tiny.oracle_pairs
    exact = planted[planted.dup_class.isin(["D0", "D4"])]
    assert len(exact) > 0
    # planted exact copies share one group ...
    assert all(rep[a] == rep[b] for a, b in zip(exact.conv_a, exact.conv_b))
    # ... and every group is represented by its min id (first occurrence)
    assert all(r <= c for c, r in rep.items())


def test_determinism_across_runs(spark, tiny, tiny_turns):
    """Two runs → identical output (the reference's determinism contract,
    include/wdedup.hpp:114-116)."""
    conv = assemble_conversations(tiny_turns)
    a = sorted(map(tuple, exact_dup_clusters(conv, "doc", "conv_id").collect()))
    b = sorted(map(tuple, exact_dup_clusters(conv, "doc", "conv_id").collect()))
    assert a == b
