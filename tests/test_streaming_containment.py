"""Streaming containment probe: new docs flagged against a static corpus
in BOTH subsumption directions, with batch-operator parity and
index/probe threshold coupling."""

import pytest

from wdedup_spark.operators.containment import containment_join
from wdedup_spark.operators.minhash import add_signatures
from wdedup_spark.streaming.containment_stream import (
    containment_index,
    stream_containment_flags,
)

T = 0.9


def _doc(tokens):
    return " ".join(tokens)


@pytest.fixture(scope="module")
def corpus(spark):
    long = [f"tok{i:03d}" for i in range(200)]
    short = [f"s{i:02d}" for i in range(40)]
    docs = [
        ("idx-long", _doc(long)),                       # superset source
        ("idx-short", _doc(short)),                     # will be quoted BY a stream doc
        ("idx-other", _doc([f"o{i}" for i in range(100)])),
    ]
    return docs, long, short


@pytest.fixture(scope="module")
def index(spark, corpus):
    docs, _, _ = corpus
    static = spark.createDataFrame(docs, "conv_id string, doc string")
    signed = add_signatures(
        static, "doc", k=3, n_perms=32,
        enable_simhash=False, enable_substring=False,
    ).select("conv_id", "shingles")
    return containment_index(signed, T)


def test_index_pins_ordered_sets(index):
    """A stream runs its static side again every micro-batch, so the
    index must not re-run the ordering UDF per consumer: both static
    frames read the pinned ordered sets."""
    for df in (index.postings, index.sets):
        plan = df._jdf.queryExecution().executedPlan().toString()
        evals = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln and "_ordered" in ln]
        assert evals == [], plan


def test_stream_containment_both_directions(spark, tmp_path, corpus, index):
    docs, long, short = corpus
    new_docs = [
        ("new-quote", _doc(long[50:110])),   # stream doc ⊂ idx-long
        ("new-super", _doc(short + [f"x{i}" for i in range(120)])),  # idx-short ⊂ stream doc
        ("new-novel", _doc([f"q{i}" for i in range(80)])),
    ]
    src = str(tmp_path / "cont-src")
    spark.createDataFrame(new_docs, "conv_id string, doc string").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)

    flags = stream_containment_flags(stream, index, k=3)
    q = (
        flags.writeStream.format("memory")
        .queryName("cont_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "streaming query did not finish in time"
    got = {
        (r.conv_id, r.index_id)
        for r in spark.sql("SELECT DISTINCT conv_id, index_id FROM cont_sink").collect()
    }
    assert got == {("new-quote", "idx-long"), ("new-super", "idx-short")}

    # parity: the batch operator over the union finds the same cross pairs
    all_docs = spark.createDataFrame(docs + new_docs, "conv_id string, doc string")
    all_signed = add_signatures(
        all_docs, "doc", k=3, n_perms=32,
        enable_simhash=False, enable_substring=False,
    ).select("conv_id", "shingles")
    batch = {tuple(sorted(p)) for p in (
        (r.conv_a, r.conv_b) for r in containment_join(all_signed, T).collect()
    )}
    assert {tuple(sorted(p)) for p in got} <= batch


def test_probe_k_mismatch_rejected(spark, index):
    """ADVICE r4: an index built from k=3 shingles probed with a stream
    shingled at k=4 yields near-zero containments — silent false
    negatives unless refused loudly.  The index records its k; the
    default probe inherits it, an explicit mismatch raises."""
    stream = spark.readStream.format("rate").load().selectExpr(
        "cast(value as string) as conv_id", "'a b c d e' as doc"
    )
    assert index.k == 3
    with pytest.raises(ValueError, match="does not match the index's k"):
        stream_containment_flags(stream, index, k=4)
    # defaulting to the index's k is accepted (plan builds lazily — no error)
    stream_containment_flags(stream, index)


@pytest.fixture(scope="module")
def hot_corpus(spark):
    """Every doc shares one HOT shingle ('HOT HOT HOT' — a boilerplate
    3-gram with df == n_docs) plus its own rare tail."""
    docs = [
        (f"d{i}", " ".join(["HOT", "HOT", "HOT"] + [f"r{i}_{j}" for j in range(30)]))
        for i in range(20)
    ]
    return spark.createDataFrame(docs, "conv_id string, doc string")


def _signed(df):
    return add_signatures(
        df, "doc", k=3, n_perms=32, enable_simhash=False, enable_substring=False,
    ).select("conv_id", "shingles")


def test_freq_order_keeps_hot_token_out_of_prefixes(spark, monkeypatch):
    """VERDICT r4 #3: under the broadcast frequency order, a planted hot
    token must never enter a prefix posting.  The fixture plants a hot
    token that SORTS FIRST ('AAA...' before every 'r...' rare token) —
    under value order it lands in EVERY set's prefix, the worst case."""
    hot = "AAA HOT AAA"
    rows = [(f"d{i}", [hot] + [f"r{i}_{j}" for j in range(30)]) for i in range(20)]
    signed = spark.createDataFrame(rows, "conv_id string, shingles array<string>")
    import wdedup_spark.operators.containment as c

    idx_freq = containment_index(signed, T)             # freq order
    monkeypatch.setattr(c, "FREQ_TOP", 0)
    idx_val = containment_index(signed, T)              # value order
    assert idx_freq.freqs == {hot: 20}  # only df>=2 tokens enter the map
    n_val = idx_val.postings.filter(
        (idx_val.postings.side == "prefix") & (idx_val.postings.tk == hot)
    ).count()
    n_freq = idx_freq.postings.filter(
        (idx_freq.postings.side == "prefix") & (idx_freq.postings.tk == hot)
    ).count()
    assert n_val == 20, "value order must exhibit the hot-prefix pathology"
    assert n_freq == 0, "freq order must keep the hot token out of every prefix"


def test_freq_order_stream_batch_parity(spark, tmp_path, hot_corpus):
    """Losslessness under the broadcast order: the stream probe over a
    hot-token corpus finds exactly the cross pairs the batch operator
    finds on the union (both directions), so the optimization changed
    posting SIZE, not the answer."""
    from pyspark.sql import functions as F

    idx = containment_index(_signed(hot_corpus), T)
    new_docs = [
        # contains d3's full text (idx-smaller direction)
        ("n-super", "HOT HOT HOT " + " ".join(f"r3_{j}" for j in range(30))
         + " " + " ".join(f"x{j}" for j in range(40))),
        # a quote of d5 (stream-smaller direction)
        ("n-quote", "HOT HOT HOT " + " ".join(f"r5_{j}" for j in range(25))),
        ("n-novel", " ".join(f"z{j}" for j in range(50))),
    ]
    src = str(tmp_path / "hot-src")
    spark.createDataFrame(new_docs, "conv_id string, doc string").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        stream_containment_flags(stream, idx)
        .writeStream.format("memory").queryName("hot_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(240)
    got = {
        tuple(sorted((r.conv_id, r.index_id)))
        for r in spark.sql("SELECT DISTINCT conv_id, index_id FROM hot_sink").collect()
    }
    union = hot_corpus.unionByName(
        spark.createDataFrame(new_docs, "conv_id string, doc string")
    )
    new_ids = {n for n, _ in new_docs}
    batch = {
        tuple(sorted((r.conv_a, r.conv_b)))
        for r in containment_join(_signed(union), T).collect()
        if (r.conv_a in new_ids) != (r.conv_b in new_ids)  # cross pairs only
    }
    assert got == batch and ("d5", "n-quote") in got and ("d3", "n-super") in got


def test_probe_below_index_threshold_rejected(spark, index):
    """The index's prefix postings are sized for its build threshold;
    probing lower would be silently lossy in the indexed-smaller
    direction — must refuse."""
    stream = spark.readStream.format("rate").load().selectExpr(
        "cast(value as string) as conv_id", "'a b c' as doc"
    )
    with pytest.raises(ValueError, match="below the index build threshold"):
        stream_containment_flags(stream, index, threshold=0.5)
    with pytest.raises(ValueError, match="threshold"):
        stream_containment_flags(stream, index, threshold=1.5)


def test_freq_order_udf_null_and_empty_arrays(spark):
    """Review r5: a null shingle array reaching freq_order_udf crashed
    np.fromiter (len(None)); nulls must pass through as nulls
    (size(null) = -1 filters downstream) and empty arrays as empty, with
    non-null rows still freq-ordered."""
    from wdedup_spark.operators.containment import freq_order_udf
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType

    df = spark.createDataFrame(
        [("a", ["HOT", "rare", "zz"]), ("b", None), ("c", []), ("d", ["HOT"])],
        "id string, toks array<string>",
    ).repartition(1)  # one Arrow batch: nulls and values share a batch
    udf = freq_order_udf({"HOT": 9}, ArrayType(StringType()))
    out = {r.id: r.o for r in df.select("id", udf(F.col("toks")).alias("o")).collect()}
    assert out["a"] == ["rare", "zz", "HOT"]  # rare first by value, hot last
    assert out["b"] is None
    assert out["c"] == []
    assert out["d"] == ["HOT"]
