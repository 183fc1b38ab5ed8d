"""Plain-Python reference semantics of the candidate stage.

No Spark and no engine code: bucket keys come straight from the banding
definitions (MinHash band lanes, SimHash pigeonhole block subsets,
substring anchors), and expansion is a per-bucket enumeration.  Tests diff
``lsh.candidate_pairs`` and ``pipeline.build_candidates`` against this
module, so neither is compared with the engine it is built on.

Rules mirrored, per channel:

* a bucket of m rows with 1 < m <= max_bucket (or any m when max_bucket
  is None) yields one collision per row pair with id_a < id_b;
* an oversize bucket yields star edges (min id, member) instead, and star
  edges bypass the collision floor;
* incremental mode (rows carry an is-new flag): collisions must touch a
  new id, and oversize buckets star-connect only NEW members, anchored
  at the min over OLD members (min over new when the bucket is all new);
* build_candidates folds per pair: a channel passes on its floor or a
  star edge, the simhash channel additionally needs Hamming <= budget,
  and the pair keeps the sorted names of the channels that pass.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from itertools import combinations

from wdedup_spark.plans.pipeline import MAX_HAMMING, MIN_BAND_COLLISIONS

_U64 = (1 << 64) - 1


def expand(buckets, max_bucket):
    """{key: [(id, is_new or None), ...]} → (hits Counter[(a, b)], star set)."""
    hits: Counter = Counter()
    star: set = set()
    for rows in buckets.values():
        m = len(rows)
        if m < 2:
            continue
        incremental = rows[0][1] is not None
        if max_bucket is not None and m > max_bucket:
            if incremental:
                old = [i for i, new in rows if not new]
                anchor = min(old) if old else min(i for i, _ in rows)
                star |= {
                    (min(anchor, i), max(anchor, i))
                    for i, new in rows
                    if new and i != anchor
                }
            else:
                lo = min(i for i, _ in rows)
                star |= {(lo, i) for i, _ in rows if i != lo}
            continue
        for (x, nx), (y, ny) in combinations(rows, 2):
            if x == y or (incremental and not (nx or ny)):
                continue
            hits[(min(x, y), max(x, y))] += 1
    return hits, star


def candidate_pairs(rows, max_bucket, min_collisions=1):
    """(band, bucket, id) rows → {(conv_a, conv_b)}: one channel, no
    incremental flag — the ``lsh.candidate_pairs`` contract."""
    buckets = defaultdict(list)
    for band, bucket, i in rows:
        buckets[(band, bucket)].append((i, None))
    hits, star = expand(buckets, max_bucket)
    return {p for p, n in hits.items() if n >= min_collisions} | star


def _minhash_buckets(docs, n_bands, n_perms):
    r = n_perms // n_bands
    out = defaultdict(list)
    for d in docs:
        for b in range(n_bands):
            out[(b, tuple(d["sig"][b * r:(b + 1) * r]))].append((d["id"], d["new"]))
    return out


def _simhash_buckets(docs, max_hamming, n_blocks=6):
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    out = defaultdict(list)
    for d in docs:
        s = d["simhash"] & _U64
        blocks = [(s >> o) & ((1 << w) - 1) for o, w in zip(offsets, widths)]
        for t, combo in enumerate(combinations(range(n_blocks), n_blocks - max_hamming)):
            out[(t, tuple(blocks[i] for i in combo))].append((d["id"], d["new"]))
    return out


def _anchor_buckets(docs):
    out = defaultdict(list)
    for d in docs:
        for a in d["anchors"]:
            out[a].append((d["id"], d["new"]))
    return out


def build_candidates(signed_rows, cfg, new_col=None):
    """Collected ``signed`` rows (conv_id, sig, simhash, anchors[, new_col])
    → {(conv_a, conv_b, via)} — the ``pipeline.build_candidates`` contract."""
    docs = [
        {
            "id": r["conv_id"],
            "sig": list(r["sig"]),
            "simhash": r["simhash"],
            "anchors": list(r["anchors"]),
            "new": bool(r[new_col]) if new_col else None,
        }
        for r in signed_rows
    ]
    channels = {"minhash": (_minhash_buckets(docs, cfg.n_bands, cfg.n_perms),
                            MIN_BAND_COLLISIONS)}
    if cfg.enable_simhash:
        channels["simhash"] = (_simhash_buckets(docs, MAX_HAMMING), 1)
    if cfg.enable_substring:
        channels["substring"] = (_anchor_buckets(docs), 1)
    simhash = {d["id"]: d["simhash"] & _U64 for d in docs}

    via = defaultdict(set)
    for name, (buckets, floor) in channels.items():
        hits, star = expand(buckets, cfg.max_bucket)
        passed = {p for p, n in hits.items() if n >= floor} | star
        if name == "simhash":
            passed = {
                (a, b) for a, b in passed
                if bin(simhash[a] ^ simhash[b]).count("1") <= MAX_HAMMING
            }
        for p in passed:
            via[p].add(name)
    return {(a, b, tuple(sorted(names))) for (a, b), names in via.items()}
