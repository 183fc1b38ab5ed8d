"""Stage ledger — the WAL of the graft (checkpointed multi-stage resume).

The reference recovers via an append-only typed log with group commit
(/root/reference/src/wiobase.cpp:131-151) replayed on restart
(src/wprof.cpp:179-216, src/wmerge.cpp:62-104).  Here each stage's output
is a parquet (or Iceberg, when a catalog is configured) table written
atomically — Spark's ``_SUCCESS`` marker / Iceberg snapshot is the group
commit — plus one ledger row of metrics and per-file lineage (the analog
of the profile size the reference logs for its planner,
src/wpflsimple.cpp:71-80).

Storage: ALL filesystem access goes through the Hadoop FileSystem API
(via the session's JVM gateway), so the workdir may live on any Spark-
reachable store — local path, ``file:/`` URI, HDFS, S3A, GCS.  Ledger
entries are one-immutable-file-each under ``workdir/_ledger/`` (object
stores have atomic single-object PUT but no append), sequence-numbered so
replay order is the filename sort.

Resume = skip stages whose commit marker exists and read their output —
the replay semantics of src/wprof.cpp:183-186 ("'e' record → return with
zero I/O") at stage granularity.  ``run_ranged`` adds the reference's
``--sync-distance`` granularity INSIDE a stage (src/wprof.cpp:258-284,
src/wcli.cpp:109-112): the expensive transform commits per key-range, so
a crash loses at most 1/n_ranges of the stage's work.  A version fence
(like main.cpp:196-206) invalidates ledgers written by an incompatible
pipeline config.
"""

from __future__ import annotations

import json
import posixpath
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LEDGER_DIR = "_ledger"
RANGE_COL = "rng"


class _HadoopFS:
    """Thin Hadoop FileSystem wrapper — the storage-agnostic layer.

    Everything the ledger needs (exists/mkdirs/delete/list/tiny text
    files) in one place; no ``os`` calls anywhere else in this module.
    """

    def __init__(self, spark: SparkSession, base: str) -> None:
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(base).getFileSystem(spark._jsc.hadoopConfiguration())

    def _p(self, path: str):
        return self._Path(path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def delete(self, path: str) -> None:
        self._fs.delete(self._p(path), True)

    def touch(self, path: str) -> None:
        self._fs.create(self._p(path), True).close()

    def write_text(self, path: str, text: str) -> None:
        out = self._fs.create(self._p(path), True)
        out.write(bytearray(text.encode("utf-8")))
        out.close()

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            return str(
                self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            )
        finally:
            stream.close()

    def list_files(self, path: str) -> list[tuple[str, int]]:
        if not self.exists(path):
            return []
        return sorted(
            (str(st.getPath().getName()), int(st.getLen()))
            for st in self._fs.listStatus(self._p(path))
        )

    def list_files_recursive(self, path: str) -> list[tuple[str, int]]:
        """(relative_path, size) for every file under path, any depth —
        ranged stages keep their parquet inside rng=<r>/ bucket dirs."""
        if not self.exists(path):
            return []
        # listStatus, not listFiles: listFiles builds LocatedFileStatus,
        # which reads each file's permission — on the local filesystem
        # without native Hadoop that forks an `ls -ld` per file
        out, todo = [], [("", self._p(path))]
        while todo:
            prefix, p = todo.pop()
            for st in self._fs.listStatus(p):
                rel = prefix + str(st.getPath().getName())
                if st.isDirectory():
                    todo.append((rel + "/", st.getPath()))
                else:
                    out.append((rel, int(st.getLen())))
        return sorted(out)


class StageLedger:
    def __init__(
        self,
        workdir: str,
        config_fence: str = "",
        spark: SparkSession | None = None,
    ) -> None:
        self.workdir = workdir.rstrip("/")
        self.config_fence = config_fence
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("StageLedger needs an active SparkSession")
        self._spark = spark
        self.fs = _HadoopFS(spark, self.workdir)
        self.fs.mkdirs(self.workdir)
        self.entries: list[dict] = []
        ldir = self._ledger_dir()
        for name, _size in self.fs.list_files(ldir):
            if name.endswith(".json"):
                self.entries.append(json.loads(self.fs.read_text(posixpath.join(ldir, name))))
        fences = {e.get("config_fence", "") for e in self.entries}
        if self.config_fence and fences and fences != {self.config_fence}:
            # config changed → prior outputs are invalid (version fence,
            # main.cpp:196-206 "log version mismatch → corrupt")
            self.entries = []
            self.fs.delete(ldir)

    def _ledger_dir(self) -> str:
        return posixpath.join(self.workdir, LEDGER_DIR)

    def _out_path(self, stage: str) -> str:
        return posixpath.join(self.workdir, stage)

    def _append_entry(self, entry: dict) -> None:
        self.entries.append(entry)
        name = f"{len(self.entries):06d}-{entry['stage']}.json"
        self.fs.mkdirs(self._ledger_dir())
        self.fs.write_text(posixpath.join(self._ledger_dir(), name), json.dumps(entry))

    def is_committed(self, stage: str) -> bool:
        if self.is_gcd(stage):
            return True  # committed, output reclaimed (reference GC,
            # src/wmerge.cpp:141-144: merged inputs deleted post-commit)
        ok_marker = self.fs.exists(posixpath.join(self._out_path(stage), "_SUCCESS"))
        in_ledger = any(e["stage"] == stage and "rows" in e for e in self.entries)
        return ok_marker and in_ledger

    def is_gcd(self, stage: str) -> bool:
        return any(e["stage"] == stage and e.get("event") == "gc" for e in self.entries)

    def gc(self, stage: str) -> None:
        """O14: reclaim a committed stage's output once every downstream
        consumer has committed (caller's responsibility — mirrors the
        reference deleting merge inputs only after the merge record is
        synced, src/wmerge.cpp:136-144)."""
        if not self.is_committed(stage) or self.is_gcd(stage):
            return
        self.fs.delete(self._out_path(stage))
        self._append_entry(
            {"stage": stage, "event": "gc", "config_fence": self.config_fence, "ts": time.time()}
        )

    def output(self, spark: SparkSession, stage: str) -> DataFrame:
        df = spark.read.parquet(self._out_path(stage))
        if RANGE_COL in df.columns:  # ranged stages carry the bucket key dir
            df = df.drop(RANGE_COL)
        return df

    def _row_count(self, out: str, files: list[dict], result: DataFrame) -> int:
        """Committed row count: free parquet-footer reads when the store is
        the local filesystem (no Spark job), a metadata count() otherwise."""
        local = out[7:] if out.startswith("file://") else out
        if not local.startswith(("hdfs:", "s3", "gs:", "abfs", "wasb")):
            try:
                import os

                import pyarrow.parquet as pq

                if os.path.isdir(local):
                    return sum(
                        pq.ParquetFile(os.path.join(local, f["file"])).metadata.num_rows
                        for f in files
                    )
            except Exception:
                pass
        return result.count()

    def _commit(self, stage: str, out: str, wall: float, extra: dict | None = None) -> DataFrame:
        result = self._spark.read.parquet(out)
        files = [
            {"file": name, "bytes": size}
            for name, size in self.fs.list_files_recursive(out)
            if name.endswith(".parquet")
        ]
        entry = {
            "stage": stage,
            "rows": self._row_count(out, files, result),
            "wall_s": round(wall, 3),
            "n_files": len(files),
            "bytes": sum(f["bytes"] for f in files),
            "files": files,
            "config_fence": self.config_fence,
            "ts": time.time(),
        }
        if extra:
            entry.update(extra)
        self._append_entry(entry)
        if RANGE_COL in result.columns:
            result = result.drop(RANGE_COL)
        return result

    def entry(self, stage: str) -> dict | None:
        """The committed ledger entry for ``stage`` (the row-count commit
        record, not gc events) — None if the stage never committed.  Lets
        chain validators inspect commit METADATA (e.g. the containment
        threshold a base day ran at) even when the base ledger was opened
        without a config fence."""
        for e in self.entries:
            if e["stage"] == stage and "rows" in e:
                return e
        return None

    def run(
        self,
        spark: SparkSession,
        stage: str,
        fn: Callable[[], DataFrame],
        range_key: str | None = None,
        n_ranges: int = 0,
        extra: dict | None = None,
    ) -> DataFrame:
        """Run ``fn`` and commit its output under ``stage`` — or, if already
        committed, read it back untouched (idempotent replay).  A committed
        stage whose output was GC'd returns None — valid only when every
        consumer of the stage is itself committed (the pipeline's GC policy
        guarantees this).

        ``range_key``/``n_ranges``: additionally lay the output out
        partitioned by ``rng = pmod(xxhash64(range_key), n_ranges)`` so a
        downstream ``run_ranged`` stage can partition-prune its per-range
        input straight off this commit.  At ``n_ranges <= 1`` the layout
        buys nothing and is skipped (plain write).

        ``extra``: metadata recorded in the commit entry (e.g. the
        threshold a channel ran at) so later chain runs can validate
        compatibility against what ACTUALLY committed, not what today's
        config assumes."""
        if self.is_committed(stage):
            return None if self.is_gcd(stage) else self.output(spark, stage)
        t0 = time.time()
        df = fn()
        out = self._out_path(stage)
        if range_key and n_ranges > 1:
            df = df.withColumn(
                RANGE_COL, F.pmod(F.xxhash64(F.col(range_key)), F.lit(n_ranges))
            )
            # repartition by (rng, key), NOT rng alone: rng has only
            # n_ranges distinct values, so hashing on it alone would
            # funnel the whole stage output through <= n_ranges write
            # tasks; adding the key keeps all writers busy.  Cost: each
            # task can hold every rng, so the dir gets up to
            # par * n_ranges files — fine for the compact stage tables
            # this writes (size the two knobs down together if not)
            par = spark.sparkContext.defaultParallelism * 2
            df.repartition(par, F.col(RANGE_COL), F.col(range_key)).write.mode(
                "overwrite"
            ).partitionBy(RANGE_COL).parquet(out)
            if not any(n.endswith(".parquet") for n, _ in self.fs.list_files_recursive(out)):
                # an empty partitioned write leaves no file to read a schema
                # from (e.g. an increment whose every doc was seen before):
                # commit one empty file that carries rng as a plain column
                df.limit(0).write.mode("overwrite").parquet(out)
        else:
            df.write.mode("overwrite").parquet(out)
        return self._commit(stage, out, time.time() - t0, extra=extra)

    def run_ranged(
        self,
        spark: SparkSession,
        stage: str,
        input_stage: str,
        transform: Callable[[DataFrame, int], DataFrame],
        n_ranges: int,
        input_select: Callable[[DataFrame], DataFrame] | None = None,
    ) -> DataFrame:
        """Sub-stage recovery — the reference's ``--sync-distance`` analog
        (src/wprof.cpp:258-284 bounds within-wprof recompute to a byte
        budget; here the budget is 1/n_ranges of the stage).

        Protocol:
          1. the input is the committed upstream ``input_stage``, written
             by ``run(range_key=..., n_ranges=n_ranges)``: per-range reads
             are partition-pruned scans of that output (zero-copy);
          2. per range r: if ``<stage>/rng=r/_SUCCESS`` exists, skip;
             else run ``transform(partition-pruned input, r)`` and write
             that bucket — each bucket is its own atomic commit;
          3. after all buckets: top-level ``_SUCCESS`` + ledger row.

        ``input_select`` adapts the committed upstream schema to the
        transform's input (applied after the rng filter).  A fence file
        inside the output dir ties buckets to the pipeline config: stale
        buckets from an incompatible earlier run are wiped, never resumed
        from.
        """
        if self.is_committed(stage):
            return None if self.is_gcd(stage) else self.output(spark, stage)
        t0 = time.time()
        if not self.is_committed(input_stage) or self.is_gcd(input_stage):
            raise ValueError(f"input stage {input_stage!r} has no committed output")
        staged = spark.read.parquet(self._out_path(input_stage))
        if RANGE_COL not in staged.columns:
            raise ValueError(
                f"input stage {input_stage!r} was not written range-partitioned"
            )
        out = self._out_path(stage)
        fence_file = posixpath.join(out, ".fence")
        fence_ok = (
            self.fs.exists(fence_file)
            and self.fs.read_text(fence_file) == f"{self.config_fence}:{n_ranges}"
        )
        if not fence_ok:
            self.fs.delete(out)
            self.fs.mkdirs(out)
            self.fs.write_text(fence_file, f"{self.config_fence}:{n_ranges}")
        todo = [
            r
            for r in range(n_ranges)
            if not self.fs.exists(posixpath.join(out, f"{RANGE_COL}={r}", "_SUCCESS"))
        ]  # committed ranges are never recomputed (syncDistance semantics)

        def _run_range(r: int) -> None:
            part = staged.filter(F.col(RANGE_COL) == r).drop(RANGE_COL)
            if input_select is not None:
                part = input_select(part)
            bucket = posixpath.join(out, f"{RANGE_COL}={r}")
            transform(part, r).write.mode("overwrite").parquet(bucket)

        if todo:
            # ranges are independent atomic commits; run them as concurrent
            # Spark jobs so granular recovery costs no cluster utilization
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(4, len(todo))) as pool:
                for f in [pool.submit(_run_range, r) for r in todo]:
                    f.result()
        self.fs.touch(posixpath.join(out, "_SUCCESS"))
        return self._commit(stage, out, time.time() - t0, extra={"ranged": n_ranges})

    def metrics(self) -> dict[str, dict]:
        return {
            e["stage"]: {k: e[k] for k in ("rows", "wall_s", "bytes")}
            for e in self.entries
            if "rows" in e
        }
