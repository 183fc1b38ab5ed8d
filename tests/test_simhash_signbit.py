"""Regression: simhash block extraction must mask, not modulo.

Spark's % keeps the dividend's sign, so ``shiftrightunsigned(sig, 0) %
2^w`` yields a negative block-0 value for any signature with bit 63 set.
A cross-sign pair within the Hamming budget whose ONLY agreeing block
subset includes block 0 then never shares a bucket key — a silent recall
hole in the Manku pigeonhole guarantee.
"""

from pyspark.sql.types import LongType, StringType, StructField, StructType

from wdedup_spark.operators.lsh import candidate_pairs
from wdedup_spark.operators.simhash import simhash_chunks


def _pairs_for(spark, sig_a: int, sig_b: int):
    def i64(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    schema = StructType(
        [StructField("conv_id", StringType()), StructField("simhash", LongType())]
    )
    df = spark.createDataFrame([("a", i64(sig_a)), ("b", i64(sig_b))], schema)
    banded = simhash_chunks(df, "simhash", "conv_id", max_hamming=3)
    return {
        (r["conv_a"], r["conv_b"])
        for r in candidate_pairs(banded, max_bucket=None).collect()
    }


def test_cross_sign_pair_agreeing_only_on_low_blocks(spark):
    # blocks (widths 11,11,11,11,10,10): differing bits land in blocks
    # 3, 4, 5 — so the ONLY agreeing 3-subset is {0, 1, 2}.  sig_b has
    # bit 63 set (negative long); pre-fix, block 0 of the negative sig
    # came out as a negative remainder and the pair never collided.
    sig_a = 0x0000_0555_0AAA_0333
    sig_b = sig_a ^ (1 << 63) ^ (1 << 35) ^ (1 << 45)  # blocks 5, 3, 4
    assert bin(sig_a ^ sig_b).count("1") == 3
    assert _pairs_for(spark, sig_a, sig_b) == {("a", "b")}


def test_same_sign_control_pair_still_found(spark):
    sig_a = 0x0000_0555_0AAA_0333
    sig_b = sig_a ^ (1 << 35) ^ (1 << 45)  # Hamming 2, both positive
    assert _pairs_for(spark, sig_a, sig_b) == {("a", "b")}


def test_far_pair_not_candidate(spark):
    # differ in one bit of EVERY block -> no 3-subset agrees -> no pair
    sig_a = 0x0000_0555_0AAA_0333
    sig_b = sig_a ^ (1 << 1) ^ (1 << 12) ^ (1 << 23) ^ (1 << 34) ^ (1 << 45) ^ (1 << 56)
    assert _pairs_for(spark, sig_a, sig_b) == set()
