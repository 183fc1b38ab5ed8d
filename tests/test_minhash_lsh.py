"""MinHash/LSH recall vs the O(n²) oracle (FIXTURES.md F2, BASELINE
recall >= 0.99) + SimHash and substring candidate generators."""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

import dedup_oracle as oracle
from wdedup_spark.operators.assemble import assemble_conversations
from wdedup_spark.operators.lsh import minhash_lsh_candidates
from wdedup_spark.operators.minhash import add_signatures
from wdedup_spark.operators.simhash import simhash_candidates
from wdedup_spark.operators.substring import substring_candidates
from wdedup_spark.operators.verify import verify_pairs

K = 3
N_PERMS = 128
N_BANDS = 32
THRESHOLD = 0.8


@pytest.fixture(scope="module")
def conv(spark, tiny_turns):
    df = assemble_conversations(tiny_turns).localCheckpoint(eager=True)
    return df


@pytest.fixture(scope="module")
def oracle_pairs_high(conv):
    pdf = conv.select("conv_id", "doc").toPandas()
    return oracle.all_pairs_jaccard(pdf["conv_id"], pdf["doc"], K, THRESHOLD)


def _signed(conv):
    """The signing path the entry queries use (MinHash lanes only)."""
    return add_signatures(
        conv, "doc", k=K, n_perms=N_PERMS, enable_simhash=False, enable_substring=False,
        enable_shingles=False,
    )


def _verified(cands, conv):
    """MinHash candidates through the verify engine, against ``conv``'s
    documents (no substring candidates: min_span is never read)."""
    tagged = cands.withColumn("via", F.array(F.lit("minhash")))
    return verify_pairs(tagged, conv.select("conv_id", "doc"), K, THRESHOLD, min_span=0)


def test_lsh_verified_recall(spark, conv, oracle_pairs_high, tiny):
    signed = _signed(conv)
    cands = minhash_lsh_candidates(signed, n_perms=N_PERMS, n_bands=N_BANDS,
                                   max_bucket=None)
    verified = _verified(cands, conv)
    got = {(r["conv_a"], r["conv_b"]) for r in verified.collect()}
    want = {
        (r.conv_a, r.conv_b) for r in oracle_pairs_high.itertuples(index=False)
    }
    assert want, "oracle found no pairs — fixture broken"
    recall = len(got & want) / len(want)
    assert recall >= 0.99, f"recall {recall}: missed {want - got}"
    # no false positives: every verified pair is in the oracle set
    assert got <= want
    # planted D0/D1/D4 pairs are covered (D2 usually too; D3 by design not)
    planted = tiny.oracle_pairs
    for cls in ("D0", "D1", "D4"):
        sub = planted[planted.dup_class == cls]
        hit = sum((min(a, b), max(a, b)) in got for a, b in zip(sub.conv_a, sub.conv_b))
        assert hit == len(sub), f"{cls}: {hit}/{len(sub)}"


def test_verified_jaccard_values_match_oracle(spark, conv, oracle_pairs_high):
    signed = _signed(conv)
    cands = minhash_lsh_candidates(signed, n_perms=N_PERMS, n_bands=N_BANDS,
                                   max_bucket=None)
    verified = _verified(cands, conv).toPandas()
    want = {
        (r.conv_a, r.conv_b): r.jaccard for r in oracle_pairs_high.itertuples(index=False)
    }
    for r in verified.itertuples(index=False):
        assert abs(want[(r.conv_a, r.conv_b)] - r.jaccard) < 1e-12


def test_simhash_catches_bitflip_dups(spark, conv, tiny):
    pairs = simhash_candidates(conv, "doc", "conv_id", max_hamming=3)
    got = {(r["conv_a"], r["conv_b"]) for r in pairs.collect()}
    planted = tiny.oracle_pairs
    d2 = planted[planted.dup_class == "D2"]
    # D0/D4 (identical docs) always collide; D2 should mostly collide
    d0 = planted[planted.dup_class.isin(["D0", "D4"])]
    hit0 = sum((min(a, b), max(a, b)) in got for a, b in zip(d0.conv_a, d0.conv_b))
    assert hit0 == len(d0)
    hit2 = sum((min(a, b), max(a, b)) in got for a, b in zip(d2.conv_a, d2.conv_b))
    assert hit2 >= 0.6 * len(d2), f"simhash D2 recall {hit2}/{len(d2)}"



def test_simhash_candidates_plan_has_one_join(conv):
    """The Hamming filter reads the signatures the bucket self-join
    carries; no join back to the signature table."""
    for max_bucket in (256, None):
        plan = simhash_candidates(conv, "doc", "conv_id", max_bucket=max_bucket)
        joins = re.findall(r"\b\w+Join\b", plan._jdf.queryExecution().executedPlan().toString())
        assert joins == ["ShuffledHashJoin"], max_bucket


def test_stream_index_plan_has_no_join(conv):
    """The streaming near-dup index carries each id's signature through
    its banding instead of joining the signature table back on."""
    from wdedup_spark.streaming.neardup_stream import index_for_stream

    index = index_for_stream(_signed(conv), N_PERMS, N_BANDS)
    assert index.columns == ["band", "bucket", "index_id", "index_sig"]
    plan = index._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"\b\w+Join\b", plan) == [], plan


def test_substring_catches_shared_span(spark, conv, tiny):
    pairs = substring_candidates(conv, "doc", "conv_id", min_span=100)
    got = {(r["conv_a"], r["conv_b"]) for r in pairs.collect()}
    planted = tiny.oracle_pairs
    d3 = planted[planted.dup_class == "D3"]
    assert len(d3) > 0
    for a, b in zip(d3.conv_a, d3.conv_b):
        assert (min(a, b), max(a, b)) in got, f"substring missed {(a, b)}"
    # substring-verified pairs carry the true common-run length
    runs = {
        (r["conv_a"], r["conv_b"]): r["common_run"]
        for r in substring_candidates(conv, "doc", "conv_id", min_span=100).collect()
    }
    for p, run in runs.items():
        assert run >= 100
