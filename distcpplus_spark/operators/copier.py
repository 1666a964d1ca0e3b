"""The copy executor: the engine's one genuinely imperative operator.

Per plan row (inside mapPartitions — distributed, no driver loop):
mkdir for dirs; re-check skip condition at exec time (plan may be
stale, DefaultCopyFilesMapper.java:129-136); stream bytes to
``<dst>/_distcp_tmp_<runid>/<relative>`` in 128 KB chunks; verify
copied length; atomic publish via delete-then-rename; verify again
post-rename; preserve attributes. Failures are caught per-row and
emitted as result rows (DefaultCopyFilesMapper.java:248-287) — the
job-level failure gate is relational (count FAIL rows).

Mirrors the protocol of DefaultCopyFilesMapper.java:105-206 and
DistCpUtils.rename (DistCpUtils.java:44-57), re-expressed for a
POSIX filesystem. Speculative execution must stay off for copy jobs
(two writers, one dst — DistCPPlus.java:459-461); Spark's default is
off, and the tmp-file name includes the task attempt to be safe.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

COPY_BUFFER_BYTES = 128 * 1024  # copy.buf.size, DefaultCopyFilesMapper.java:33
CLEANUP_RETRIES = 3  # DefaultCopyFilesMapper.java:267-279
CLEANUP_RETRY_SLEEP_S = 3.0

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("relative_dst", T.StringType(), True),
        T.StructField("action", T.StringType(), True),
        T.StructField("status", T.StringType(), False),  # COPY|SKIP|MKDIR|FAIL
        T.StructField("bytes_copied", T.LongType(), False),
        T.StructField("bytes_expected", T.LongType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("elapsed_ms", T.LongType(), False),
    ]
)


class CopyFailedError(Exception):
    """Raised by the job-level gate when FAIL rows exist and
    ignore_failures is off (DefaultCopyFilesMapper.java:289-295)."""


def _copy_one(
    src: str,
    tmp_path: str,
    final_path: str,
    expected_len: int,
    preserve: frozenset[str],
    src_stat: os.stat_result,
) -> int:
    os.makedirs(os.path.dirname(tmp_path), exist_ok=True)
    copied = 0
    with open(src, "rb") as fin, open(tmp_path, "wb") as fout:
        while True:
            buf = fin.read(COPY_BUFFER_BYTES)
            if not buf:
                break
            fout.write(buf)
            copied += len(buf)
    # verify tmp length (DefaultCopyFilesMapper.java:166-171)
    actual = os.stat(tmp_path).st_size
    if actual != expected_len:
        raise OSError(
            f"length mismatch after copy: expected {expected_len}, got {actual}"
        )
    # atomic publish: delete-then-rename (DistCpUtils.java:44-57)
    os.makedirs(os.path.dirname(final_path), exist_ok=True)
    if os.path.exists(final_path):
        os.remove(final_path)
    os.replace(tmp_path, final_path)
    # verify post-rename (DefaultCopyFilesMapper.java:191-198)
    actual = os.stat(final_path).st_size
    if actual != expected_len:
        raise OSError(
            f"length mismatch after rename: expected {expected_len}, got {actual}"
        )
    _apply_attrs(final_path, src_stat, preserve)
    return copied


def _apply_attrs(path: str, src_stat: os.stat_result, preserve: frozenset[str]) -> None:
    """-p attribute preservation for files, applied in-task
    (DistCPPlus.java:234-262; dirs are finalized post-job).

    u/g → chown (DistCPPlus.java:239-248), p → chmod (:250-253),
    t → utime. chown runs BEFORE chmod: chown clears setuid/setgid
    bits, so the reverse order would silently drop them. r/b
    (replication/block size) have no POSIX meaning and are ignored.
    """
    import stat as statmod

    if "u" in preserve or "g" in preserve:
        os.chown(
            path,
            src_stat.st_uid if "u" in preserve else -1,
            src_stat.st_gid if "g" in preserve else -1,
        )
    if "p" in preserve:
        os.chmod(path, statmod.S_IMODE(src_stat.st_mode))
    if "t" in preserve:
        os.utime(path, (src_stat.st_atime, src_stat.st_mtime))


def finalize_dir_attrs(
    plan: DataFrame, dst_root: str, preserve: frozenset[str]
) -> None:
    """O16 finalize pass (DistCPPlus.finalize, DistCPPlus.java:264-297):
    after all copies land, apply owner/group/permission to every copied
    directory. Dirs are created with default modes in-task (a parent
    dir's mode must stay writable while children stream in), so the
    attribute pass has to run after the copy action — the action
    boundary IS the ordering barrier. Timestamps are deliberately not
    set on dirs, matching the reference (HDFS-2436 exclusion).

    Distributed: foreachPartition over the plan's dir rows — the dir
    manifest (_distcp_dst_dirs analogue) never collects to the driver.
    """
    if not (preserve & {"p", "u", "g"}):
        return
    if "status" in plan.columns:
        # result-DataFrame input: MKDIR rows are exactly the copied
        # dirs, and the result is already materialized/cached — no
        # re-execution of the copy-plan DAG just to enumerate dirs
        dirs = plan.filter(F.col("status") == "MKDIR").select(
            "path", "relative_dst"
        )
    else:
        dirs = plan.filter(F.col("is_dir")).select("path", "relative_dst")

    def set_attrs(rows: Iterator) -> None:
        import stat as statmod

        for row in rows:
            target = os.path.join(dst_root, row["relative_dst"])
            try:
                st = os.stat(row["path"])
            except OSError:
                continue  # src dir vanished since planning
            # each attribute applies INDEPENDENTLY (like the
            # reference's finalize): a chown EPERM (non-superuser)
            # must not rob the dir of the chmod that would succeed
            if "u" in preserve or "g" in preserve:
                try:
                    os.chown(
                        target,
                        st.st_uid if "u" in preserve else -1,
                        st.st_gid if "g" in preserve else -1,
                    )
                except OSError:
                    pass
            if "p" in preserve:
                try:
                    os.chmod(target, statmod.S_IMODE(st.st_mode))
                except OSError:
                    pass

    dirs.foreachPartition(set_attrs)


def default_copy_fn(
    rows: Iterator, dst_root: str, tmp_root: str, preserve: frozenset[str]
) -> Iterator[tuple]:
    """Copy a partition of plan rows; yields result tuples.

    This is the default "mapper"; the engine accepts a user-supplied
    replacement (the -mapper pluggable surface, DistCPPlus.java:467-480).
    """
    import stat as statmod

    for row in rows:
        t0 = time.time()
        rel = row["relative_dst"]
        final_path = os.path.join(dst_root, rel)
        try:
            if row["is_dir"]:
                os.makedirs(final_path, exist_ok=True)
                yield (
                    row["path"], rel, row["action"], "MKDIR", 0, 0, None,
                    int((time.time() - t0) * 1000),
                )
                continue
            src_stat = os.stat(row["path"])
            expected = src_stat.st_size
            # exec-time re-check (P12): plan may be stale by now
            if (
                row["action"] == "copy_changed"
                and os.path.exists(final_path)
                and os.stat(final_path).st_size == expected
                and int(os.stat(final_path).st_mtime) == int(src_stat.st_mtime)
            ):
                yield (
                    row["path"], rel, row["action"], "SKIP", 0, expected, None,
                    int((time.time() - t0) * 1000),
                )
                continue
            tmp_path = os.path.join(tmp_root, rel)
            copied = 0
            try:
                copied = _copy_one(
                    row["path"], tmp_path, final_path, expected,
                    preserve, src_stat,
                )
            except Exception:
                # tmp cleanup with retries (DefaultCopyFilesMapper.java:267-279)
                for attempt in range(CLEANUP_RETRIES):
                    try:
                        if os.path.exists(tmp_path):
                            os.remove(tmp_path)
                        break
                    except OSError:
                        time.sleep(CLEANUP_RETRY_SLEEP_S)
                raise
            yield (
                row["path"], rel, row["action"], "COPY", copied, expected, None,
                int((time.time() - t0) * 1000),
            )
        except Exception as e:  # per-row failure isolation (O14)
            yield (
                row["path"], rel, row.asDict().get("action"), "FAIL", 0,
                row["length"], f"{type(e).__name__}: {e}",
                int((time.time() - t0) * 1000),
            )


def execute_copy(
    plan: DataFrame,
    dst_root: str,
    run_id: str,
    preserve: frozenset[str] = frozenset(),
    copy_fn: Callable | None = None,
    num_buckets: int | None = None,
) -> DataFrame:
    """Run the copy: cost bucket b → task b → mapPartitions(copy).

    Returns the result DataFrame (one row per plan row) — the engine's
    counters (O15) are aggregations over it. ``copy_fn`` swaps the
    copy implementation (pluggable-mapper surface, O18).
    ``num_buckets`` is the plan's bucket count; without it (a
    rehydrated plan) one job reads ``max(bucket)``.
    """
    spark = plan.sparkSession
    tmp_root = os.path.join(dst_root, f"_distcp_tmp_{run_id}")
    fn = copy_fn or default_copy_fn

    if "bucket" in plan.columns:
        n = num_buckets or (plan.agg(F.max("bucket")).collect()[0][0] or 0) + 1
        # bucket b IS partition b: hashing buckets into n partitions
        # lets two buckets collide and one task copy both. mkdir rows
        # must run before file rows within a partition;
        # sortWithinPartitions puts dirs first (paths sort parent<child)
        work = plan.repartitionById(n, "bucket").sortWithinPartitions(
            F.desc("is_dir"), F.asc("path")
        )
    else:
        work = plan

    def run_partition(rows: Iterator) -> Iterator[tuple]:
        return fn(rows, dst_root, tmp_root, preserve)

    result = spark.createDataFrame(
        work.rdd.mapPartitions(run_partition), RESULT_SCHEMA
    )
    return result


def counters(result: DataFrame) -> dict[str, int]:
    """Counter aggregation (O15): {COPY, SKIP, FAIL, MKDIR} counts +
    byte totals, one pass."""
    rows = (
        result.groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum("bytes_copied").alias("bytes"),
            F.sum("bytes_expected").alias("expected"),
        )
        .collect()
    )
    out = {"COPY": 0, "SKIP": 0, "FAIL": 0, "MKDIR": 0,
           "BYTESCOPIED": 0, "BYTESEXPECTED": 0}
    for r in rows:
        out[r["status"]] = r["n"]
        out["BYTESCOPIED"] += r["bytes"] or 0
        out["BYTESEXPECTED"] += r["expected"] or 0
    return out


def cleanup_tmp(dst_root: str, run_id: str) -> None:
    """Remove the run's tmp dir (cleanupJob, DistCPPlus.java:389-403)."""
    tmp_root = os.path.join(dst_root, f"_distcp_tmp_{run_id}")
    shutil.rmtree(tmp_root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Chunked copy: intra-file parallelism for files >> bytes_per_task
# ---------------------------------------------------------------------------


def split_into_chunks(plan: DataFrame, chunk_bytes: int) -> DataFrame:
    """Explode file rows larger than ``chunk_bytes`` into byte-range
    chunk rows (chunk_idx, offset, chunk_len, n_chunks).

    This removes the last straggler class cost-bucketing can't fix: a
    single file bigger than the per-task byte budget is otherwise ONE
    task no matter how many executors idle (true of the reference too —
    DefaultCopyFilesMapper copies a file serially). On object stores
    the assemble phase maps to native multipart-upload completion;
    on POSIX we emulate with part files + concatenation.
    """
    n_chunks = F.greatest(
        F.ceil(F.col("length") / F.lit(chunk_bytes)), F.lit(1)
    ).cast("int")
    return (
        plan.withColumn("n_chunks", F.when(F.col("is_dir"), 1).otherwise(n_chunks))
        .withColumn(
            "chunk_idx",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)),
        )
        .withColumn("offset", F.col("chunk_idx").cast("long") * chunk_bytes)
        .withColumn(
            "chunk_len",
            F.least(F.lit(chunk_bytes).cast("long"), F.col("length") - F.col("offset")),
        )
    )


def _copy_range(
    src: str, part_path: str, offset: int, length: int
) -> tuple[int, int]:
    """Copy one byte range; returns (bytes_copied, crc32 of the range).
    The CRC is computed IN-STREAM over the same buffers being written
    — integrity comes free with the transfer, no re-read."""
    import zlib

    os.makedirs(os.path.dirname(part_path), exist_ok=True)
    copied = 0
    crc = 0
    with open(src, "rb") as fin, open(part_path, "wb") as fout:
        fin.seek(offset)
        remaining = length
        while remaining > 0:
            buf = fin.read(min(COPY_BUFFER_BYTES, remaining))
            if not buf:
                break
            fout.write(buf)
            crc = zlib.crc32(buf, crc)
            copied += len(buf)
            remaining -= len(buf)
    if copied != length:
        raise OSError(f"chunk length mismatch: expected {length}, got {copied}")
    return copied, crc


def execute_copy_chunked(
    plan: DataFrame,
    dst_root: str,
    run_id: str,
    chunk_bytes: int,
    preserve: frozenset[str] = frozenset(),
) -> DataFrame:
    """Two-phase chunked copy.

    Phase 1 (parallel transfer): every chunk row copies its byte range
    to ``tmp/<relative>.part<idx>`` — a 10 GB file with 256 MB chunks
    engages 40 tasks, not 1.
    Phase 2 (assembly): one task per file concatenates its parts in
    order into a tmp file, verifies the total length, atomically
    renames, applies attributes — the same tmp+rename+verify contract
    as the single-shot copier. Dirs mkdir in phase 2's first pass.
    """
    spark = plan.sparkSession
    tmp_root = os.path.join(dst_root, f"_distcp_tmp_{run_id}")
    chunks = split_into_chunks(plan.filter(~F.col("is_dir")), chunk_bytes)

    chunk_result_schema = T.StructType(
        [
            T.StructField("path", T.StringType(), False),
            T.StructField("relative_dst", T.StringType(), True),
            T.StructField("chunk_idx", T.IntegerType(), False),
            T.StructField("n_chunks", T.IntegerType(), False),
            T.StructField("length", T.LongType(), False),
            T.StructField("ok", T.BooleanType(), False),
            T.StructField("bytes_copied", T.LongType(), False),
            T.StructField("crc", T.LongType(), False),
            T.StructField("error", T.StringType(), True),
        ]
    )

    def copy_chunks(rows: Iterator) -> Iterator[tuple]:
        for row in rows:
            part = os.path.join(
                tmp_root, f"{row['relative_dst']}.part{row['chunk_idx']:06d}"
            )
            try:
                n, crc = _copy_range(
                    row["path"], part, row["offset"], row["chunk_len"]
                )
                yield (
                    row["path"], row["relative_dst"], row["chunk_idx"],
                    row["n_chunks"], row["length"], True, n, crc, None,
                )
            except Exception as e:
                yield (
                    row["path"], row["relative_dst"], row["chunk_idx"],
                    row["n_chunks"], row["length"], False, 0, 0,
                    f"{type(e).__name__}: {e}",
                )

    # spread chunks round-robin so one file's chunks land on many tasks
    n_part = max(4, chunks.rdd.getNumPartitions())
    phase1 = spark.createDataFrame(
        chunks.repartition(n_part, "relative_dst", "chunk_idx")
        .rdd.mapPartitions(copy_chunks),
        chunk_result_schema,
    ).cache()
    phase1.count()

    # per-file verdict: all chunks ok → assemble; any failed → FAIL row
    per_file = (
        phase1.groupBy("path", "relative_dst", "n_chunks", "length")
        .agg(
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("ok_chunks"),
            F.sum("bytes_copied").alias("bytes_transferred"),
            F.max("error").alias("first_error"),
            F.collect_list(
                F.struct("chunk_idx", "crc", "bytes_copied")
            ).alias("chunk_crcs"),
        )
    )

    def assemble(rows: Iterator) -> Iterator[tuple]:
        import time as _t

        for row in rows:
            t0 = _t.time()
            rel = row["relative_dst"]
            final_path = os.path.join(dst_root, rel)
            try:
                if row["ok_chunks"] != row["n_chunks"]:
                    raise OSError(row["first_error"] or "missing chunks")
                # chunk ranges were sliced at PLAN-time lengths; a
                # source that grew or shrank since would assemble to a
                # silently-truncated copy — re-stat and fail on drift
                src_len = os.stat(row["path"]).st_size
                if src_len != row["length"]:
                    raise OSError(
                        f"source length drifted since planning: "
                        f"planned {row['length']}, now {src_len}"
                    )
                # expected whole-file CRC from the in-stream chunk
                # CRCs via the GF(2) combine (operators/checksum.py) —
                # COMPOSITE_CRC-style: no task ever re-reads the file
                from distcpplus_spark.operators.checksum import (
                    combine_chunk_crcs,
                )

                expected_crc = combine_chunk_crcs(
                    [
                        (c["crc"], c["bytes_copied"])
                        for c in sorted(
                            row["chunk_crcs"],
                            key=lambda c: c["chunk_idx"],
                        )
                    ]
                )
                import zlib as _zlib

                assembled = os.path.join(tmp_root, rel + ".assembled")
                os.makedirs(os.path.dirname(assembled), exist_ok=True)
                actual_crc = 0
                with open(assembled, "wb") as out:
                    for i in range(row["n_chunks"]):
                        part = os.path.join(tmp_root, f"{rel}.part{i:06d}")
                        with open(part, "rb") as fin:
                            while True:
                                buf = fin.read(COPY_BUFFER_BYTES)
                                if not buf:
                                    break
                                out.write(buf)
                                actual_crc = _zlib.crc32(buf, actual_crc)
                if os.stat(assembled).st_size != row["length"]:
                    raise OSError("assembled length mismatch")
                if actual_crc != expected_crc:
                    # a part file corrupted/substituted between phases
                    raise OSError(
                        f"composite CRC mismatch: transfer saw "
                        f"{expected_crc:#010x}, assembly saw "
                        f"{actual_crc:#010x}"
                    )
                os.makedirs(os.path.dirname(final_path), exist_ok=True)
                if os.path.exists(final_path):
                    os.remove(final_path)
                os.replace(assembled, final_path)
                if os.stat(final_path).st_size != row["length"]:
                    raise OSError("post-rename length mismatch")
                src_stat = os.stat(row["path"])
                _apply_attrs(final_path, src_stat, preserve)
                for i in range(row["n_chunks"]):
                    try:
                        os.remove(os.path.join(tmp_root, f"{rel}.part{i:06d}"))
                    except OSError:
                        pass
                yield (
                    row["path"], rel, "copy_chunked", "COPY",
                    row["bytes_transferred"], row["length"], None,
                    int((_t.time() - t0) * 1000),
                )
            except Exception as e:
                yield (
                    row["path"], rel, "copy_chunked", "FAIL", 0,
                    row["length"], f"{type(e).__name__}: {e}",
                    int((_t.time() - t0) * 1000),
                )

    files_result = spark.createDataFrame(
        per_file.repartition(n_part, "relative_dst").rdd.mapPartitions(assemble),
        RESULT_SCHEMA,
    )

    # dirs: same mkdir handling as the single-shot path
    def mkdirs(rows: Iterator) -> Iterator[tuple]:
        for row in rows:
            p = os.path.join(dst_root, row["relative_dst"])
            os.makedirs(p, exist_ok=True)
            yield (row["path"], row["relative_dst"], "mkdir", "MKDIR", 0, 0,
                   None, 0)

    dirs_result = spark.createDataFrame(
        plan.filter(F.col("is_dir")).rdd.mapPartitions(mkdirs), RESULT_SCHEMA
    )
    return dirs_result.unionByName(files_result)
