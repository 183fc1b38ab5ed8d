"""Benchmark decontamination: gram generation, hit counting, broadcast plan.

Pins the GPT-3-appendix-C semantics (a training doc is contaminated when
it shares ANY n-token gram with the benchmark corpus) and the broadcast
plan shape (the training corpus must not shuffle to find hits).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wdedup_spark.operators.decontaminate import contaminated

from ngram_oracle import ngram_array, string_gram_hits


def _df(spark, rows, cols=("doc_id", "text")):
    return spark.createDataFrame(rows, list(cols))


def test_ngram_array_basic(spark):
    out = (
        _df(spark, [(1, "a b c d")])
        .select(ngram_array("text", 2).alias("g"))
        .head()[0]
    )
    assert out == ["a b", "b c", "c d"]


def test_ngram_array_short_doc_empty(spark):
    # doc shorter than the gram width cannot be contaminated by the rule
    out = _df(spark, [(1, "a b")]).select(ngram_array("text", 3).alias("g")).head()[0]
    assert out == []


def test_ngram_array_distinct_and_whitespace(spark):
    # repeated grams collapse; runs of whitespace tokenize like single
    out = (
        _df(spark, [(1, "x y  x y\tx y")])
        .select(ngram_array("text", 2).alias("g"))
        .head()[0]
    )
    assert out == ["x y", "y x"]


def test_contaminated_counts_distinct_shared_grams(spark):
    train = _df(
        spark,
        [
            (1, "the quick brown fox jumps"),  # shares 2 grams with bench
            (2, "totally unrelated text here"),
            (3, "quick brown fox sentence"),  # shares 1 gram
        ],
    )
    bench = _df(spark, [(100, "a quick brown fox jumps high")])
    hits = {
        r["id"]: r["n_hit_grams"]
        for r in contaminated(train, bench, n=3).collect()
    }
    # doc 1: "quick brown fox", "brown fox jumps" hit; doc 3: "quick brown fox"
    assert hits == {1: 2, 3: 1}


def test_contaminated_no_bench_overlap_empty(spark):
    train = _df(spark, [(1, "alpha beta gamma delta")])
    bench = _df(spark, [(9, "one two three four")])
    assert contaminated(train, bench, n=2).count() == 0


def test_broadcast_plan_no_training_shuffle(spark):
    """The contamination probe must be a broadcast hash join: the
    training side's grams feed the join with no exchange between gram
    generation and the join (the 100-TB contract — training data never
    shuffles to discover hits)."""
    train = _df(spark, [(1, "a b c d e f g h i j")])
    bench = _df(spark, [(9, "c d e f")])
    plan = (
        contaminated(train, bench, n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_shuffle_fallback_matches_broadcast(spark):
    train = _df(
        spark,
        [(1, "p q r s t"), (2, "q r s t u"), (3, "zz yy xx ww")],
    )
    bench = _df(spark, [(9, "p q r s t u v")])
    a = sorted(
        tuple(r) for r in contaminated(train, bench, n=4, broadcast_bench=True).collect()
    )
    b = sorted(
        tuple(r)
        for r in contaminated(train, bench, n=4, broadcast_bench=False).collect()
    )
    assert a == b and len(a) == 2


def test_hashed_grams_no_structural_collision(spark):
    """The affine poly constants collide 'a b b a' with 'b a a b' at k=4
    (equal Σh and Σ j·h).  The hashed gram identity must use the mixed
    constants, which keep the two grams distinct — a bench doc
    containing only one of the pair must not flag a train doc containing
    only the other (caught by the r6 sf0.1 oracle sweep)."""
    train = spark.createDataFrame(
        [(1, "group window window group"), (2, "window group group window x")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "window group group window")], "doc_id long, text string"
    )
    got = {
        r["id"]: r["n_hit_grams"]
        for r in contaminated(train, bench, n=4).collect()
    }
    # doc 1 is the reversal-symmetric partner — NOT contaminated
    assert got == {2: 1}
    # and the hashed grams agree with the exact string grams
    assert got == string_gram_hits(train, bench, "text", "doc_id", 4)
