"""spark-submit entry point (the reference's CLI, src/wcli.cpp:77-198).

Three subcommands:

  dedup      — the transcript near-dup pipeline:
               spark-submit --py-files wdedup_spark.zip -m wdedup_spark.cli \\
                 dedup --input turns.parquet --workdir /work --threshold 0.8
  dedup-incr — the same pipeline for a new batch against a committed
               workdir: ... dedup-incr --base /work --input day.parquet
               --workdir /work-day1 (same flags as dedup)
  findfirst  — wdedup parity: first non-repeated word of a text file:
               ... findfirst --input big.txt

Debug-stage flags mirror the reference's --wprof-only/--wmerge-only
(src/wcli.cpp:115-125): --stop-after <stage> commits up to that stage and
exits, leaving outputs inspectable; a later run resumes.
"""

from __future__ import annotations

import argparse
import json
import sys

STAGES = ["assemble", "exact", "prefix", "sign", "candidates", "verify",
          "containment", "cluster"]


def _add_pipeline_args(d: argparse.ArgumentParser) -> None:
    from wdedup_spark.plans.pipeline import PipelineConfig

    cfg = PipelineConfig()
    d.add_argument("--input", required=True, help="turns table: parquet path or Iceberg name")
    d.add_argument("--workdir", required=True, help="stage-output / ledger directory")
    d.add_argument("--k", type=int, default=cfg.k)
    d.add_argument("--n-perms", type=int, default=cfg.n_perms)
    d.add_argument("--n-bands", type=int, default=cfg.n_bands)
    d.add_argument("--threshold", type=float, default=cfg.threshold)
    d.add_argument("--seed", type=int, default=cfg.seed)
    d.add_argument("--max-bucket", type=int, default=cfg.max_bucket)
    d.add_argument("--no-simhash", action="store_true")
    d.add_argument("--no-substring", action="store_true")
    d.add_argument("--prefix", action="store_true",
                   help="prefix-subsumption channel: cluster conversations "
                        "that are byte prefixes of longer ones (dedup-incr "
                        "probes every chain day's sorted run, so every day "
                        "needs it)")
    d.add_argument("--containment", action="store_true",
                   help="set-containment channel: cluster quote-in-"
                        "transcript pairs (containment >= threshold over "
                        "shingle sets; dedup-incr expands only pairs "
                        "touching the new batch)")
    d.add_argument("--containment-threshold", type=float,
                   default=cfg.containment_threshold)
    d.add_argument("--min-span", type=int, default=cfg.substring_min_span)
    d.add_argument("--sync-ranges", type=int, default=cfg.sync_ranges,
                   help="sub-stage commit granularity for the sign stage — the "
                        "reference's --sync-distance analog (wcli.cpp:109-112): "
                        "a crash mid-sign loses at most 1/N of the stage "
                        "(dedup and dedup-incr alike)")
    d.add_argument("--stop-after", choices=STAGES, default=None,
                   help="debug: commit stages up to this one, then exit")
    d.add_argument("--no-gc", action="store_true",
                   help="keep all intermediate stage outputs (reference --disable-gc); "
                        "REQUIRED on a run that will serve as an incremental base "
                        "(dedup-incr reads the committed sign stage)")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="wdedup-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("dedup", help="near-duplicate pipeline over transcript turns")
    _add_pipeline_args(d)

    i = sub.add_parser(
        "dedup-incr",
        help="daily increment: dedup NEW turns against a committed base workdir "
             "(a dedup --no-gc run, or a previous dedup-incr workdir — chains)",
    )
    _add_pipeline_args(i)
    i.add_argument("--base", required=True,
                   help="committed base workdir (sign/exact stages retained)")

    f = sub.add_parser("findfirst", help="wdedup parity: first unique word of a text file")
    f.add_argument("--input", required=True)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from wdedup_spark.session import spark_session

    spark = spark_session(app_name=f"wdedup-{args.cmd}")

    if args.cmd == "findfirst":
        from wdedup_spark.sources.io import find_first_unique_word_in_file

        print(find_first_unique_word_in_file(spark, args.input))
        return 0

    from wdedup_spark.plans.pipeline import PipelineConfig, run_incremental, run_pipeline
    from wdedup_spark.sources.io import read_turns

    cfg = PipelineConfig(
        k=args.k, n_perms=args.n_perms, n_bands=args.n_bands,
        threshold=args.threshold, seed=args.seed, max_bucket=args.max_bucket,
        enable_simhash=not args.no_simhash, enable_substring=not args.no_substring,
        substring_min_span=args.min_span, sync_ranges=args.sync_ranges,
        enable_prefix=args.prefix, enable_containment=args.containment,
        containment_threshold=args.containment_threshold,
    )
    turns = read_turns(spark, args.input)
    if args.cmd == "dedup-incr":
        out = run_incremental(
            spark, turns, args.base, args.workdir, cfg,
            stop_after=args.stop_after, gc=not args.no_gc,
        )
    else:
        out = run_pipeline(
            spark, turns, args.workdir, cfg,
            stop_after=args.stop_after, gc=not args.no_gc,
        )
    ledger = out["ledger"]
    print(json.dumps({"stages": ledger.metrics()}, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
