"""Deterministic hash-based sampling — the reproducible way to cut a
training mixture at corpus scale.

``df.sample()`` draws from a per-partition RNG: the kept set changes with
partitioning, retries, and cluster size, which is unacceptable for a
training corpus that must be reproducible (and auditable) across reruns.
The scalable idiom is a KEYED coin flip: hash the document id with a salt
into a uniform 60-bit integer and keep the row iff it falls below
``frac << 60``.  Properties that matter at 100 TB:

* stateless and shuffle-free — the filter fuses into the scan;
* reproducible on any cluster shape, any retry, any engine (the driver's
  DuckDB oracle replays the identical md5-derived draw);
* consistent across tables: the same (id, salt) always lands on the same
  side, so derived tables sampled with the same salt stay aligned;
* integer threshold compare — no float edge cases in the keep decision.

Reference scope: no counterpart (the reference stops at word dedup);
part of the training-pipeline layer like pack.py / pii.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCALE = 1 << 60  # 15 md5 hex chars


def uniform_hash60(col: Column | str, salt: str = "") -> Column:
    """Deterministic uniform draw in [0, 2^60) keyed on (value, salt):
    the first 15 hex chars of md5, as a long.  SQL mirror:
    ``('0x' || substr(md5(x || ':' || salt), 1, 15))::UBIGINT``."""
    c = F.col(col) if isinstance(col, str) else col
    keyed = F.concat(c.cast("string"), F.lit(":" + salt))
    return F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("long")


def stratified_sample(
    df: DataFrame,
    fracs: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
    default_frac: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli fractions — the training-mix cut ("keep 50%
    of web, 100% of books").  Strata absent from ``fracs`` keep
    ``default_frac`` (0.0 = drop, the explicit-mixture default)."""
    for k, v in fracs.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"frac for stratum {k!r} must be in [0, 1], got {v}")
    if not 0.0 <= default_frac <= 1.0:
        raise ValueError(f"default_frac must be in [0, 1], got {default_frac}")
    thresh = F.lit(int(default_frac * _SCALE))
    for k, v in fracs.items():
        thresh = F.when(F.col(strata_col) == k, F.lit(int(v * _SCALE))).otherwise(thresh)
    return df.filter(uniform_hash60(id_col, salt) < thresh)


def quota_sample(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum — the hard-count
    contract Bernoulli sampling cannot give (binomial counts), needed
    for eval-set carving and per-source caps.  The kept set is the
    first k rows of each stratum in the deterministic (id, salt) hash
    order, so it inherits every property above (reproducible anywhere,
    consistent across tables at the same salt) plus NESTING: the
    quota-j set is a subset of the quota-k set for j <= k, letting a
    pipeline grow an eval set without resampling.  Composition of two
    pinned primitives: uniform_hash60 order + topk.grouped_topk (whose
    map-side WindowGroupLimit bounds a hot stratum's shuffle).  Hash
    collisions tie-break on id, keeping the order total."""
    from wdedup_spark.operators.topk import grouped_topk

    if "_qs_h" in df.columns or "_qs_rnk" in df.columns:
        raise ValueError("quota_sample: input already carries _qs_h/_qs_rnk")
    # NULL ids hash to NULL, which Spark's ASC sorts FIRST (DuckDB: LAST)
    # and which breaks the total order among themselves — drop them, the
    # same outcome the threshold samplers reach implicitly (NULL < t is
    # never true).  Review r5: without this, dirty ids silently filled
    # quotas nondeterministically.
    return grouped_topk(
        df.filter(F.col(id_col).isNotNull())
        .withColumn("_qs_h", uniform_hash60(id_col, salt)),
        strata_cols,
        [F.asc("_qs_h"), F.asc(id_col)],
        k,
        rank_col="_qs_rnk",
    ).drop("_qs_h", "_qs_rnk")
