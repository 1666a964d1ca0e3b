"""File-ETL engine tests: the reference's operator semantics (SURVEY.md
§2a) exercised end-to-end on real temp trees."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from distcpplus_spark.engine import CopyOptions, DistCpPlusEngine
from distcpplus_spark.operators.copier import CopyFailedError
from distcpplus_spark.plans.copy_plan import DuplicationError, assign_cost_buckets
from distcpplus_spark.sources.lister import list_tree
from distcpplus_spark.sources.regex_select import filter_name_regex, touched_dirs


def tree_files(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


# ---------------------------------------------------------------------------
# O1: lister
# ---------------------------------------------------------------------------


def test_list_tree_counts(spark, src_tree):
    df = list_tree(spark, [src_tree])
    rows = df.collect()
    files = [r for r in rows if not r["is_dir"]]
    dirs = [r for r in rows if r["is_dir"]]
    assert len(files) == 5
    # root + a + a/deep + b
    assert len(dirs) == 4
    by_rel = {r["relative_dst"]: r for r in files}
    assert by_rel["src/a/one.txt"]["length"] == 1000
    assert by_rel["src/a/deep/three.txt"]["cost"] == 123456
    assert all(r["cost"] == 0 for r in dirs)


def test_list_tree_distributed_fanout(spark, tmp_path):
    """Force the distributed path with a wide tree."""
    root = tmp_path / "wide"
    for i in range(100):
        d = root / f"d{i:03d}"
        d.mkdir(parents=True)
        (d / "f.txt").write_bytes(b"x" * i)
    df = list_tree(spark, [str(root)], fanout_threshold=10)
    assert df.filter(~F.col("is_dir")).count() == 100


def _two_root_tree(tmp_path):
    """Two roots, three levels, files of varied size and mode; every
    directory read once so later listings see settled atimes."""
    roots = []
    for name in ("r1", "r2"):
        root = tmp_path / name
        for a in range(3):
            for b in range(2):
                d = root / f"t{a}" / f"m{b}"
                d.mkdir(parents=True)
                for c in range(2):
                    f = d / f"f{c}.bin"
                    f.write_bytes(b"x" * (a * 7 + b * 3 + c))
                    os.chmod(f, 0o600 + c * 0o40)
        (root / "top.txt").write_bytes(b"top")
        roots.append(str(root))
    for root in roots:
        for _ in os.walk(root):
            pass
    return roots


@pytest.mark.parametrize("prefix_base", [True, False])
@pytest.mark.parametrize("include_roots", [True, False])
def test_list_tree_driver_and_distributed_rows_identical(
    spark, tmp_path, prefix_base, include_roots
):
    """Both sides of the fanout gate give the same rows on every
    column (mtime, atime and permission included): the driver scan
    and forced distributed waves (fanout_threshold=1), over two
    roots."""
    roots = _two_root_tree(tmp_path)

    def rows(threshold):
        df = list_tree(
            spark, roots, include_roots=include_roots,
            fanout_threshold=threshold, prefix_base=prefix_base,
        )
        return sorted(tuple(r) for r in df.collect())

    driver = rows(1 << 20)
    distributed = rows(1)
    assert len(driver) == 2 * (include_roots + 3 + 6 + 12 + 1)
    assert distributed == driver


@pytest.mark.parametrize("fanout_threshold", [1 << 20, 1])
def test_list_tree_is_a_snapshot(spark, tmp_path, fanout_threshold):
    """List-once: the manifest is materialized when list_tree returns,
    so deleting the tree does not change what it collects."""
    import shutil

    roots = _two_root_tree(tmp_path)
    before = sorted(
        tuple(r)
        for r in list_tree(spark, roots, fanout_threshold=fanout_threshold)
        .collect()
    )
    df = list_tree(spark, roots, fanout_threshold=fanout_threshold)
    for root in roots:
        shutil.rmtree(root)
    assert sorted(tuple(r) for r in df.collect()) == before
    assert df.filter(~F.col("is_dir")).count() == 2 * 13


# ---------------------------------------------------------------------------
# O3: regex selection
# ---------------------------------------------------------------------------


def test_filter_name_regex_full_match(spark, src_tree):
    df = list_tree(spark, [src_tree])
    # Java String.matches is a FULL match: 'one' must not match one.txt
    assert filter_name_regex(df, "one").count() == 0
    assert filter_name_regex(df, r"one\.txt").count() == 1
    assert filter_name_regex(df, r".*\.txt").count() == 4


def test_touched_dirs(spark, src_tree):
    df = list_tree(spark, [src_tree])
    sel = filter_name_regex(df, r"three\.txt")
    dirs = {r["dir_path"] for r in touched_dirs(sel, src_tree).collect()}
    assert dirs == {os.path.join(src_tree, "a"), os.path.join(src_tree, "a/deep")}


# ---------------------------------------------------------------------------
# O13/O14: copy round-trip + failure policy
# ---------------------------------------------------------------------------


def test_copy_roundtrip(spark, src_tree, tmp_path):
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    stats = engine.copy([src_tree], dst)
    assert stats["COPY"] == 5
    assert stats["FAIL"] == 0
    # special-root rule (DistCPPlus.java:602-604): single src dir to a
    # nonexistent dst -> src CONTENTS land directly under dst
    assert tree_files(dst) == tree_files(src_tree)


def test_copy_skips_unchanged_with_update(spark, src_tree, tmp_path):
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    engine.copy([src_tree], dst)
    # preserve mtimes so update sees them unchanged
    stats2 = engine.copy([src_tree], dst, CopyOptions(update=True, skip_ts_check=True))
    assert stats2["COPY"] == 0


def test_update_recopies_changed_file(spark, src_tree, tmp_path):
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    engine.copy([src_tree], dst)
    time.sleep(0.05)
    with open(os.path.join(src_tree, "a", "one.txt"), "wb") as f:
        f.write(b"CHANGED" * 100)
    stats2 = engine.copy([src_tree], dst, CopyOptions(update=True, skip_ts_check=True))
    assert stats2["COPY"] == 1
    copied = os.path.join(dst, "a", "one.txt")
    assert os.path.getsize(copied) == 700


def test_overwrite_recopies_everything(spark, src_tree, tmp_path):
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    engine.copy([src_tree], dst)
    stats2 = engine.copy([src_tree], dst, CopyOptions(overwrite=True))
    assert stats2["COPY"] == 5


def test_overwrite_recopies_files_with_preserved_mtimes(spark, src_tree, tmp_path):
    """-overwrite is unconditional: the copier's exec-time staleness
    re-check (same size and mtime → SKIP) must not veto it, even when
    -pt left every destination file's mtime equal to its source's."""
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    engine.copy([src_tree], dst, CopyOptions(preserve=frozenset("t")))
    stats2 = engine.copy([src_tree], dst, CopyOptions(overwrite=True))
    assert (stats2["COPY"], stats2["SKIP"]) == (5, 0)


def test_failure_gate_and_ignore(spark, src_tree, tmp_path, monkeypatch):
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    plan = engine.plan([src_tree], dst)
    # sabotage: delete a source file after planning → copy must FAIL that row
    os.remove(os.path.join(src_tree, "five.txt"))
    with pytest.raises(CopyFailedError):
        engine.execute(plan)
    # with ignore_failures the job completes and reports the FAIL
    plan2 = engine.plan([src_tree], dst, CopyOptions(ignore_failures=True, overwrite=True))
    result = engine.execute(plan2)
    from distcpplus_spark.operators.copier import counters

    assert counters(result)["FAIL"] == 0  # five.txt no longer listed


def test_no_partial_file_on_failure(spark, tmp_path):
    """tmp+rename protocol: a failed copy must not leave a partial dst."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "good.txt").write_bytes(b"ok")
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    plan = engine.plan([str(src)], dst)
    os.remove(src / "good.txt")
    with pytest.raises(CopyFailedError):
        engine.execute(plan)
    assert not os.path.exists(os.path.join(dst, "good.txt"))


# ---------------------------------------------------------------------------
# O8: duplicate destinations
# ---------------------------------------------------------------------------


def test_duplicate_destination_raises(spark, tmp_path):
    a = tmp_path / "t1" / "x"
    b = tmp_path / "t2" / "x"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    (a / "same.txt").write_bytes(b"1")
    (b / "same.txt").write_bytes(b"2")
    engine = DistCpPlusEngine(spark)
    with pytest.raises(DuplicationError):
        engine.plan([str(a), str(b)], str(tmp_path / "dst"))


def _failing_checksum():
    """Stand-in for the -update checksum UDF whose every read fails."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def sha(paths):
        if paths.notna().any():
            raise RuntimeError("tie file is unreadable")
        return paths

    return sha


def test_duplicate_destination_raises_before_checksum_reads(
    spark, tmp_path, monkeypatch
):
    """Under -update, a duplicate destination raises DuplicationError
    even when reading a metadata-tie file would fail: the duplicate
    check runs on the source listing before any checksum read."""
    from distcpplus_spark.plans import copy_plan

    a, b, dst = tmp_path / "srcA", tmp_path / "srcB", tmp_path / "dst"
    for d in (a, b, dst):
        d.mkdir()
    (a / "same.txt").write_bytes(b"A")
    (b / "same.txt").write_bytes(b"B")
    (a / "tie.txt").write_bytes(b"t1")
    (dst / "tie.txt").write_bytes(b"t2")
    st = os.stat(a / "tie.txt")
    os.utime(dst / "tie.txt", (st.st_atime, st.st_mtime))
    monkeypatch.setattr(copy_plan, "_sha256_of_paths", _failing_checksum)
    engine = DistCpPlusEngine(spark)
    opts = CopyOptions(update=True)
    with pytest.raises(DuplicationError):
        engine.plan([str(a), str(b)], str(dst), opts)
    # without the duplicate the same plan does read the tie file
    with pytest.raises(Exception, match="tie file is unreadable"):
        engine.plan([str(a)], str(dst), opts)


def test_duplicate_null_relative_dst_is_caught(spark):
    """Two files with a NULL relative_dst are duplicates too."""
    from distcpplus_spark.plans.copy_plan import check_duplicates_and_total

    src = spark.createDataFrame(
        [("/s/a", None, False, 1), ("/s/b", None, False, 2),
         ("/s/c", "c", False, 3)],
        "path string, relative_dst string, is_dir boolean, cost long",
    )
    with pytest.raises(DuplicationError, match="None"):
        check_duplicates_and_total(src, src)
    assert check_duplicates_and_total(src.filter("path != '/s/b'"), src) == 6


# ---------------------------------------------------------------------------
# O6: limits  /  O10: cost buckets
# ---------------------------------------------------------------------------


def test_file_limit(spark, src_tree, tmp_path):
    engine = DistCpPlusEngine(spark)
    opts = CopyOptions(file_limit=3)
    plan = engine.plan([src_tree], str(tmp_path / "dst"), opts)
    assert plan.copies.filter(~F.col("is_dir")).count() <= 3


def test_size_limit(spark, src_tree, tmp_path):
    engine = DistCpPlusEngine(spark)
    opts = CopyOptions(size_limit=2000)
    plan = engine.plan([src_tree], str(tmp_path / "dst"), opts)
    got = plan.copies.agg(F.sum("cost")).collect()[0][0] or 0
    assert got <= 2000


def test_cost_buckets_balanced(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(20):
        (src / f"f{i:02d}.bin").write_bytes(b"x" * 1000)
    df = list_tree(spark, [str(src)])
    bucketed = assign_cost_buckets(df.filter(~F.col("is_dir")), bytes_per_task=5000)
    per_bucket = bucketed.groupBy("bucket").agg(F.sum("cost").alias("b")).collect()
    assert len(per_bucket) == 4
    # every bucket within 2x of target (SURVEY.md §5 property)
    assert all(r["b"] <= 2 * 5000 for r in per_bucket)


def test_two_bucket_plan_runs_two_copy_tasks(spark, tmp_path):
    """Cost bucket b is copy task b: a two-bucket plan copies in two
    tasks of equal bytes (hash partitioning sent both buckets to one
    task)."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        (src / f"f{i}.bin").write_bytes(b"x" * 1000)
    engine = DistCpPlusEngine(spark)
    plan = engine.plan(
        [str(src)], str(tmp_path / "dst"), CopyOptions(bytes_per_task=2000)
    )
    assert plan.num_buckets == 2
    result = engine.execute(plan)
    per_task = sorted(
        tuple(r)
        for r in result.groupBy(F.spark_partition_id().alias("task"))
        .agg(F.sum("bytes_copied"))
        .collect()
    )
    assert per_task == [(0, 2000), (1, 2000)]


# ---------------------------------------------------------------------------
# O9: mirror delete with ancestor suppression
# ---------------------------------------------------------------------------


def test_mirror_delete(spark, src_tree, tmp_path):
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    engine.copy([src_tree], dst)
    # add extra junk at dst: a file and a whole dir tree
    base = dst  # special-root rule: contents land directly under dst
    os.makedirs(os.path.join(base, "junkdir", "sub"))
    with open(os.path.join(base, "junkdir", "sub", "j.txt"), "w") as f:
        f.write("junk")
    with open(os.path.join(base, "stray.txt"), "w") as f:
        f.write("stray")
    stats = engine.copy(
        [src_tree], dst, CopyOptions(update=True, delete=True, skip_ts_check=True)
    )
    assert not os.path.exists(os.path.join(base, "stray.txt"))
    assert not os.path.exists(os.path.join(base, "junkdir"))
    # originals intact
    assert tree_files(base) == tree_files(src_tree)


def test_mirror_delete_never_deletes_src_present(spark, src_tree, tmp_path):
    """Property (SURVEY.md §5.4): -delete never removes a path that
    exists in src."""
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    engine.copy([src_tree], dst)
    plan = engine.plan(
        [src_tree], dst, CopyOptions(update=True, delete=True, skip_ts_check=True)
    )
    if plan.deletes is not None:
        # update mode flattens (special-root rule) → compare against a
        # listing keyed the same way
        src_rels = {
            r["relative_dst"]
            for r in list_tree(spark, [src_tree], prefix_base=False).collect()
        }
        doomed = {r["relative_dst"] for r in plan.deletes.collect()}
        assert not (doomed & src_rels)


# ---------------------------------------------------------------------------
# O16: attribute preservation
# ---------------------------------------------------------------------------


def test_preserve_permissions_and_times(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    f = src / "x.sh"
    f.write_bytes(b"#!/bin/sh\n")
    os.chmod(f, 0o750)
    old = time.time() - 86400
    os.utime(f, (old, old))
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    engine.copy([str(src)], dst, CopyOptions(preserve=frozenset("pt")))
    out = os.path.join(dst, "x.sh")
    st = os.stat(out)
    assert oct(st.st_mode & 0o777) == oct(0o750)
    assert abs(st.st_mtime - old) < 2


# ---------------------------------------------------------------------------
# O18: pluggable copy function
# ---------------------------------------------------------------------------


def test_pluggable_copy_fn(spark, src_tree, tmp_path):
    """The -mapper surface: a user copy_fn that skips .log files."""
    from distcpplus_spark.operators.copier import default_copy_fn

    def filtering_fn(rows, dst_root, tmp_root, preserve):
        keep = (r for r in rows if not r["path"].endswith(".log"))
        return default_copy_fn(keep, dst_root, tmp_root, preserve)

    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    plan = engine.plan([src_tree], dst)
    result = engine.execute(plan, copy_fn=filtering_fn)
    copied = {r["relative_dst"] for r in result.filter("status = 'COPY'").collect()}
    assert "a/two.log" not in copied
    assert "a/one.txt" in copied


# ---------------------------------------------------------------------------
# O4: per-depth regex  /  O5: source validation
# ---------------------------------------------------------------------------


def test_filter_depth_regexes(spark, tmp_path):
    root = tmp_path / "tree"
    for d1 in ["2024-01", "2024-02", "misc"]:
        for d2 in ["part-a", "tmp"]:
            d = root / d1 / d2
            d.mkdir(parents=True)
            (d / "data.txt").write_bytes(b"x")
    from distcpplus_spark.sources.regex_select import filter_depth_regexes

    df = list_tree(spark, [str(root)])
    # depth chain: date dirs / part-* dirs / any file
    sel = filter_depth_regexes(df, str(root), [r"2024-\d\d", r"part-.*", r".*"])
    rels = sorted(r["relative_dst"] for r in sel.collect())
    assert rels == ["tree/2024-01/part-a/data.txt", "tree/2024-02/part-a/data.txt"]


def test_plan_missing_source_raises(spark, tmp_path):
    engine = DistCpPlusEngine(spark)
    with pytest.raises(FileNotFoundError):
        engine.plan([str(tmp_path / "does_not_exist")], str(tmp_path / "dst"))


def test_cli_regexpath_end_to_end(spark, tmp_path, capsys):
    """CLI drive of -regexPath: only paths whose per-depth components
    match the chain are copied; exit code 0; counters printed."""
    from distcpplus_spark.cli import main

    src = tmp_path / "src"
    (src / "2024-01" / "logs").mkdir(parents=True)
    (src / "2024-01" / "data").mkdir(parents=True)
    (src / "misc").mkdir()
    (src / "2024-01" / "logs" / "a.log").write_bytes(b"log-a")
    (src / "2024-01" / "data" / "b.bin").write_bytes(b"bin-b")
    (src / "misc" / "c.log").write_bytes(b"log-c")
    dst = tmp_path / "dst"

    rc = main(["-regexPath", str(src), r"\d{4}-\d{2}/logs/.*", str(dst)])
    out = capsys.readouterr().out
    assert rc == 0
    assert "COPY=" in out
    # -regexPath keys paths off the regex root itself (regexRoot,
    # DistCPPlus.java:632-633): no basename nesting
    assert (dst / "2024-01" / "logs" / "a.log").read_bytes() == b"log-a"
    assert not (dst / "2024-01" / "data" / "b.bin").exists()
    assert not (dst / "misc" / "c.log").exists()


def test_cli_usage_error_exit_code(tmp_path):
    from distcpplus_spark.cli import main

    assert main(["-update"]) == -1  # no src/dst → usage error (-1)


def test_update_checksum_catches_same_size_same_mtime_change(
    spark, tmp_path
):
    """O7 checksum leg (DistCpUtils.java:280-290): content change with
    length AND mtime unchanged is invisible to metadata — only the
    checksum compare catches it. skip_crc_check restores metadata-only."""
    src = tmp_path / "src"
    src.mkdir()
    f = src / "data.bin"
    f.write_bytes(b"AAAA")
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    engine.copy([str(src)], dst)

    # rewrite with SAME length, then pin mtime to match the dst copy
    dst_file = os.path.join(dst, "data.bin")
    st = os.stat(dst_file)
    f.write_bytes(b"BBBB")
    os.utime(f, (st.st_atime, st.st_mtime))
    os.utime(dst_file, (st.st_atime, st.st_mtime))

    skipped = engine.copy(
        [str(src)], dst,
        CopyOptions(update=True, skip_ts_check=True, skip_crc_check=True),
    )
    assert skipped["COPY"] == 0  # metadata-only check is blind to it

    stats = engine.copy(
        [str(src)], dst, CopyOptions(update=True, skip_ts_check=True)
    )
    assert stats["COPY"] == 1  # checksum compare catches it
    with open(dst_file, "rb") as fh:
        assert fh.read() == b"BBBB"


def test_recordskipped_counter_parity(spark, src_tree, tmp_path):
    """O15 RECORDSKIPPED (DistCPPlus.java:108,816-820): files the
    -update predicate prunes at plan time still count as skipped
    records — the reference increments its skip counter for every
    up-to-date file, and so must the counters surface here even though
    the pruned rows never reach the executor."""
    import pathlib

    engine = DistCpPlusEngine(spark)
    dst = str(tmp_path / "dst")
    pt = frozenset("t")  # -pt keeps mtimes aligned so -update can tie
    first = engine.copy([src_tree], dst, CopyOptions(preserve=pt))
    assert first["COPY"] == 5
    assert first["RECORDSKIPPED"] == 0

    # change exactly one file; the other four become plan-time skips
    changed = pathlib.Path(src_tree) / "a" / "one.txt"
    changed.write_bytes(b"x" * 2000)
    second = engine.copy(
        [src_tree], dst, CopyOptions(update=True, preserve=pt)
    )
    assert second["COPY"] == 1
    assert second["RECORDSKIPPED"] == 4

    # no changes at all: everything is a skipped record
    third = engine.copy(
        [src_tree], dst, CopyOptions(update=True, preserve=pt)
    )
    assert third["COPY"] == 0
    assert third["RECORDSKIPPED"] == 5


def test_observed_live_metrics(spark, src_tree, tmp_path):
    """O15 via observe(): metrics ride the materializing action — no
    second aggregation job — and stage timings are recorded."""
    engine = DistCpPlusEngine(spark)
    engine.copy([src_tree], str(tmp_path / "dst"))
    m = engine.last_metrics
    assert m is not None
    assert m["fails"] == 0
    assert m["bytes_copied"] == sum(tree_files(src_tree).values())
    assert m["run_s"] > 0 and m["cleanup_s"] >= 0


def test_copy_empty_source_dir(spark, tmp_path):
    """Edge: an empty source dir copies as a single mkdir, no files."""
    src = tmp_path / "empty_src"
    src.mkdir()
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    stats = engine.copy([str(src)], dst)
    assert stats["COPY"] == 0 and stats["FAIL"] == 0
    assert os.path.isdir(dst)  # dst IS the copied (flattened) dir


# ---------------------------------------------------------------------------
# Chunked copy: intra-file parallelism
# ---------------------------------------------------------------------------


def test_chunked_copy_byte_identical(spark, tmp_path):
    """A large file split into chunks reassembles byte-identical, and
    small files ride along untouched."""
    import hashlib

    src = tmp_path / "big_src"
    src.mkdir()
    big = bytes(range(256)) * 16384  # 4 MiB, position-dependent content
    (src / "big.bin").write_bytes(big)
    (src / "small.txt").write_bytes(b"tiny")
    dst = str(tmp_path / "dst")

    engine = DistCpPlusEngine(spark)
    stats = engine.copy(
        [str(src)], dst, CopyOptions(chunk_bytes=512 * 1024)  # 8 chunks
    )
    assert stats["COPY"] == 2 and stats["FAIL"] == 0
    got = (tmp_path / "dst" / "big.bin").read_bytes()
    assert hashlib.sha256(got).hexdigest() == hashlib.sha256(big).hexdigest()
    assert (tmp_path / "dst" / "small.txt").read_bytes() == b"tiny"
    # no tmp debris
    assert not [
        p for p in (tmp_path / "dst").rglob("*") if "_distcp_tmp_" in str(p)
    ]


def test_chunk_split_plan_shape(spark, tmp_path):
    """Split arithmetic: a 1000-byte file at 300-byte chunks → 4 chunks
    covering [0,300,600,900] with lengths [300,300,300,100]."""
    from distcpplus_spark.operators.copier import split_into_chunks

    src = tmp_path / "s"
    src.mkdir()
    (src / "f.bin").write_bytes(b"x" * 1000)
    plan = DistCpPlusEngine(spark).plan([str(src)], str(tmp_path / "d"))
    chunks = (
        split_into_chunks(plan.copies.filter("NOT is_dir"), 300)
        .orderBy("chunk_idx")
        .collect()
    )
    assert [(c["offset"], c["chunk_len"]) for c in chunks] == [
        (0, 300), (300, 300), (600, 300), (900, 100),
    ]
    assert all(c["n_chunks"] == 4 for c in chunks)


def test_chunked_copy_no_partial_on_failure(spark, tmp_path):
    """A chunk failure (source vanishes mid-plan) must not publish a
    partial destination file."""
    src = tmp_path / "gone_src"
    src.mkdir()
    (src / "gone.bin").write_bytes(b"y" * 2_000_000)
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    plan = engine.plan(
        [str(src)], dst, CopyOptions(chunk_bytes=256 * 1024)
    )
    os.remove(src / "gone.bin")
    with pytest.raises(CopyFailedError):
        engine.execute(plan)
    assert not os.path.exists(os.path.join(dst, "gone.bin"))


def test_plan_export_and_execute_later(spark, src_tree, tmp_path):
    """E3 parity (-exportOnly, DistCPPlus.java:374-383): a plan saved
    as parquet+JSON rehydrates and executes identically."""
    engine = DistCpPlusEngine(spark)
    dst = str(tmp_path / "dst")
    plan = engine.plan([src_tree], dst)
    export = str(tmp_path / "plan_export")
    plan.save(export)

    # inspectable with any parquet reader
    manifest = spark.read.parquet(os.path.join(export, "copies"))
    assert {"path", "relative_dst", "action", "bucket"} <= set(
        manifest.columns
    )

    loaded = engine.load_plan(export)
    assert loaded.opts.update == plan.opts.update
    assert loaded.dst_root == dst
    result = engine.execute(loaded)
    from distcpplus_spark.operators.copier import counters

    assert counters(result)["COPY"] == 5
    assert tree_files(dst) == tree_files(src_tree)


def test_chunked_copy_edge_cases(spark, tmp_path):
    """Chunked path handles zero-byte files and empty dirs (plan with
    no file rows) without special-casing."""
    src = tmp_path / "edge_src"
    (src / "sub").mkdir(parents=True)
    (src / "empty.bin").write_bytes(b"")
    (src / "exact.bin").write_bytes(b"z" * 1024)  # == chunk size
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    stats = engine.copy([str(src)], dst, CopyOptions(chunk_bytes=1024))
    assert stats["FAIL"] == 0
    assert (tmp_path / "dst" / "empty.bin").read_bytes() == b""
    assert (tmp_path / "dst" / "exact.bin").read_bytes() == b"z" * 1024
    assert (tmp_path / "dst" / "sub").is_dir()

    # dir-only source through the chunked path
    only_dirs = tmp_path / "only_dirs"
    (only_dirs / "a").mkdir(parents=True)
    stats2 = engine.copy(
        [str(only_dirs)], str(tmp_path / "dst2"),
        CopyOptions(chunk_bytes=1024),
    )
    assert stats2["FAIL"] == 0 and stats2["COPY"] == 0
    assert (tmp_path / "dst2" / "a").is_dir()


def test_lister_distributed_waves_wide_and_deep(spark, tmp_path):
    """A 3-level tree with ~1.3k dirs / 1.6k files forces several
    distributed waves (fanout_threshold=16): counts must be exact and
    every file row carry the right relative path — at 100x this shape
    only the child-dir frontier ever touches the driver."""
    root = tmp_path / "wide_deep"
    n_top, n_mid, n_leaf = 40, 5, 2
    expected_files = 0
    for a in range(n_top):
        for b in range(n_mid):
            d = root / f"t{a:02d}" / f"m{b}"
            d.mkdir(parents=True)
            for c in range(n_leaf):
                (d / f"f{c}.bin").write_bytes(b"x" * (a + b + c + 1))
                expected_files += 1
    df = list_tree(spark, [str(root)], fanout_threshold=16)
    files = df.filter(~F.col("is_dir"))
    assert files.count() == expected_files  # 400 files
    dirs = df.filter(F.col("is_dir"))
    # root + 40 top + 200 mid
    assert dirs.count() == 1 + n_top + n_top * n_mid
    # spot-check a deep relative path and its cost
    row = files.filter(
        F.col("relative_dst") == "wide_deep/t07/m3/f1.bin"
    ).collect()
    assert len(row) == 1 and row[0]["cost"] == 7 + 3 + 1 + 1
    # total bytes must equal the sum of what we wrote
    total = files.agg(F.sum("cost")).collect()[0][0]
    assert total == sum(
        a + b + c + 1
        for a in range(n_top) for b in range(n_mid) for c in range(n_leaf)
    )


def test_urilist_source_cli(spark, tmp_path, capsys):
    """-f urilist (DistCpUtils.java:378-394): newline-delimited roots,
    blank lines ignored, all listed trees copied."""
    s1 = tmp_path / "r1"
    s2 = tmp_path / "r2"
    s1.mkdir()
    s2.mkdir()
    (s1 / "a.txt").write_bytes(b"one")
    (s2 / "b.txt").write_bytes(b"two")
    urilist = tmp_path / "roots.txt"
    urilist.write_text(f"{s1}\n\n{s2}\n")
    dst = tmp_path / "dst"

    from distcpplus_spark.cli import main

    rc = main(["-f", str(urilist), str(dst)])
    assert rc == 0
    assert (dst / "r1" / "a.txt").read_bytes() == b"one"
    assert (dst / "r2" / "b.txt").read_bytes() == b"two"


def test_cli_update_delete_mirrors(spark, tmp_path, capsys):
    """CLI -update -delete: dst files whose source vanished are
    removed (mirror semantics), changed files re-copied."""
    src = tmp_path / "m_src"
    src.mkdir()
    (src / "keep.txt").write_bytes(b"keep")
    (src / "drop.txt").write_bytes(b"drop")
    dst = tmp_path / "dst"

    from distcpplus_spark.cli import main

    assert main([str(src), str(dst)]) == 0
    dst_tree = dst  # flattened: single src dir, dst did not exist
    assert (dst_tree / "drop.txt").exists()

    os.remove(src / "drop.txt")
    assert main(["-update", "-skiptscheck", "-delete",
                 str(src), str(dst)]) == 0
    assert (dst_tree / "keep.txt").read_bytes() == b"keep"
    assert not (dst_tree / "drop.txt").exists()


def test_plan_summary_reports_totals(spark, src_tree, tmp_path):
    engine = DistCpPlusEngine(spark)
    plan = engine.plan([src_tree], str(tmp_path / "dst"))
    s = plan.summary()
    assert s["files"] == 5
    assert s["bytes"] == sum(tree_files(src_tree).values())
    assert s["rows"] == s["files"] + 4  # + root, a, a/deep, b dirs


# ---------------------------------------------------------------------------
# O16 finalize: dir attributes  /  u-g preservation for files
# ---------------------------------------------------------------------------


def test_preserve_dir_attrs_finalize(spark, tmp_path):
    """-p dir finalize (DistCPPlus.java:264-297): dir permission (and
    owner/group) survive a -prugpt copy via the post-job pass; file
    uid/gid survive via the in-task chown (DistCPPlus.java:239-248)."""
    src = tmp_path / "src"
    sub = src / "locked"
    sub.mkdir(parents=True)
    f = sub / "x.txt"
    f.write_bytes(b"data")
    os.chmod(sub, 0o750)
    os.chmod(f, 0o640)
    # running as root: give the tree a non-root owner to make chown
    # observable (uid/gid 1 = daemon on this image)
    os.chown(sub, 1, 1)
    os.chown(f, 1, 1)

    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    engine.copy([str(src)], dst, CopyOptions(preserve=frozenset("rugpt")))

    dst_sub = os.path.join(dst, "locked")
    dst_f = os.path.join(dst_sub, "x.txt")
    st_dir = os.stat(dst_sub)
    st_f = os.stat(dst_f)
    assert oct(st_dir.st_mode & 0o7777) == oct(0o750)
    assert (st_dir.st_uid, st_dir.st_gid) == (1, 1)
    assert oct(st_f.st_mode & 0o7777) == oct(0o640)
    assert (st_f.st_uid, st_f.st_gid) == (1, 1)


# ---------------------------------------------------------------------------
# O5 aggregate validation  /  O18 CLI -mapper  /  O6 greedy limits
# ---------------------------------------------------------------------------


def test_plan_collects_all_missing_sources(spark, tmp_path):
    """DistCpUtils.checkSrcPath (DistCpUtils.java:359-376): every
    missing root named in ONE error."""
    from distcpplus_spark.engine import InvalidInputError

    ok = tmp_path / "ok"
    ok.mkdir()
    m1 = str(tmp_path / "gone_one")
    m2 = str(tmp_path / "gone_two")
    engine = DistCpPlusEngine(spark)
    with pytest.raises(InvalidInputError) as ei:
        engine.plan([m1, str(ok), m2], str(tmp_path / "dst"))
    msg = str(ei.value)
    assert "gone_one" in msg and "gone_two" in msg


def _log_filtering_mapper(rows, dst_root, tmp_root, preserve):
    """Importable test mapper for the CLI -mapper flag: skips .log."""
    from distcpplus_spark.operators.copier import default_copy_fn

    keep = (r for r in rows if not r["path"].endswith(".log"))
    return default_copy_fn(keep, dst_root, tmp_root, preserve)


def test_cli_mapper_flag_end_to_end(spark, tmp_path, capsys):
    """-mapper <dotted.path> loads a custom copy_fn by name
    (Class.forName analogue, DistCPPlus.java:467-480)."""
    from distcpplus_spark.cli import main

    src = tmp_path / "msrc"
    src.mkdir()
    (src / "keep.txt").write_bytes(b"keep")
    (src / "skip.log").write_bytes(b"skip")
    dst = tmp_path / "dst"
    rc = main([
        "-mapper", "tests.test_fileetl._log_filtering_mapper",
        str(src), str(dst),
    ])
    assert rc == 0
    assert (dst / "keep.txt").read_bytes() == b"keep"
    assert not (dst / "skip.log").exists()


def test_cli_unknown_flag_is_usage_error(tmp_path):
    from distcpplus_spark.cli import main

    assert main(["-bogus", str(tmp_path), str(tmp_path / "d")]) == -1


def test_size_limit_greedy_admits_later_smaller_files(spark, tmp_path):
    """Reference greedy budget (DistCPPlus.java:676-678): a file that
    would overflow is skipped, but later smaller files still copy —
    NOT a prefix cutoff."""
    from distcpplus_spark.plans.copy_plan import apply_limits

    src = tmp_path / "greedy_src"
    src.mkdir()
    (src / "a.bin").write_bytes(b"x" * 500)
    (src / "b.bin").write_bytes(b"x" * 800)   # overflows the 1000 budget
    (src / "c.bin").write_bytes(b"x" * 400)   # still fits after skip
    listing = list_tree(spark, [str(src)])
    out = apply_limits(listing, None, 1000)
    kept = sorted(
        os.path.basename(r["path"]) for r in out.collect() if not r["is_dir"]
    )
    assert kept == ["a.bin", "c.bin"]


def test_file_limit_does_not_count_dirs(spark, tmp_path):
    """-filelimit counts FILES only; dirs always traverse
    (DistCPPlus.java:671-678)."""
    from distcpplus_spark.plans.copy_plan import apply_limits

    src = tmp_path / "fl_src"
    for d in ["d1", "d2", "d3"]:
        (src / d).mkdir(parents=True)
        ((src / d) / "f.txt").write_bytes(b"x")
    listing = list_tree(spark, [str(src)])
    out = apply_limits(listing, 2, None)
    files = [r for r in out.collect() if not r["is_dir"]]
    dirs = [r for r in out.collect() if r["is_dir"]]
    assert len(files) == 2
    assert len(dirs) == 4  # root + d1 + d2 + d3 all pass through


def test_update_mode_ignores_limits_reference_quirk(spark, tmp_path):
    """-update overwrites the limit skip (DistCPPlus.java:676-700):
    filelimit/sizelimit have no effect in update mode."""
    src = tmp_path / "q_src"
    src.mkdir()
    for i in range(5):
        (src / f"f{i}.bin").write_bytes(b"x" * 100)
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    stats = engine.copy(
        [str(src)], dst,
        CopyOptions(update=True, skip_ts_check=True, file_limit=2),
    )
    assert stats["COPY"] == 5


def test_depth_regex_root_with_metachars(spark, tmp_path):
    """A root containing regex metacharacters (+, parens) must not
    break the per-depth prefix strip (literal substring, not regex)."""
    from distcpplus_spark.sources.regex_select import filter_depth_regexes

    root = tmp_path / "weird+root (v2)"
    (root / "2024-01" / "logs").mkdir(parents=True)
    (root / "2024-01" / "logs" / "a.log").write_bytes(b"x")
    (root / "misc").mkdir()
    (root / "misc" / "b.log").write_bytes(b"y")
    df = list_tree(spark, [str(root)])
    sel = filter_depth_regexes(df, str(root), [r"\d{4}-\d{2}", "logs", r".*"])
    paths = [r["path"] for r in sel.collect() if not r["is_dir"]]
    assert paths == [str(root / "2024-01" / "logs" / "a.log")]


def test_chunked_copy_fails_on_source_length_drift(spark, tmp_path):
    """A source that grew between planning and assembly must FAIL, not
    publish a silently-truncated copy."""
    src = tmp_path / "drift_src"
    src.mkdir()
    f = src / "grow.bin"
    f.write_bytes(b"a" * 600_000)
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    plan = engine.plan([str(src)], dst, CopyOptions(chunk_bytes=256 * 1024))
    with open(f, "ab") as fh:
        fh.write(b"b" * 100_000)  # grow after planning
    with pytest.raises(CopyFailedError):
        engine.execute(plan)
    assert not os.path.exists(os.path.join(dst, "grow.bin"))


def test_rg_selects_direct_children_dirs_wholesale(spark, tmp_path, capsys):
    """-rg reference semantics (Arguments.getFilePaths): the pattern
    selects DIRECT children of the rg dir by full name match; a
    matched dir is copied wholesale (deep files ride along even if
    their own names don't match); deeper name matches do NOT select."""
    from distcpplus_spark.cli import main

    src = tmp_path / "rgsrc"
    (src / "logs-2024" / "deep").mkdir(parents=True)
    (src / "logs-2024" / "deep" / "data.bin").write_bytes(b"deep")
    (src / "logs-2024" / "top.log").write_bytes(b"top")
    (src / "other" / "logs-2025").mkdir(parents=True)  # depth-2: no match
    (src / "other" / "logs-2025" / "x.log").write_bytes(b"x")
    (src / "logs.txt").write_bytes(b"file-match")  # direct child file
    dst = tmp_path / "dst"

    rc = main(["-rg", str(src), r"logs.*", str(dst)])
    assert rc == 0
    # matched dir: wholesale, rooted at its own name
    assert (dst / "logs-2024" / "deep" / "data.bin").read_bytes() == b"deep"
    assert (dst / "logs-2024" / "top.log").read_bytes() == b"top"
    # matched direct-child file: copied under its name
    assert (dst / "logs.txt").read_bytes() == b"file-match"
    # depth-2 match is NOT selected
    assert not (dst / "other").exists()
    assert not (dst / "logs-2025").exists()


def test_rg_no_match_is_usage_style_error(spark, tmp_path):
    from distcpplus_spark.cli import main

    src = tmp_path / "rg_empty"
    src.mkdir()
    (src / "a.txt").write_bytes(b"a")
    rc = main(["-rg", str(src), r"nope-.*", str(tmp_path / "dst")])
    assert rc == -1  # "Missing src" is a usage error in the reference


def test_cli_log_dir_writes_fail_records(spark, tmp_path, capsys):
    """-log <logdir> (DistCPPlus.java:555-575): SKIP/FAIL records land
    as JSON even when the job reports failures (with -i)."""
    import glob
    import json

    from distcpplus_spark.cli import main

    src = tmp_path / "log_src"
    src.mkdir()
    (src / "ok.txt").write_bytes(b"ok")
    (src / "bad.txt").write_bytes(b"bad")
    dst = str(tmp_path / "dst")
    logdir = str(tmp_path / "logs")

    # plan via engine to sabotage between plan and execute is overkill
    # here: use a file that vanishes after planning via the engine API
    from distcpplus_spark.engine import CopyOptions, DistCpPlusEngine

    engine = DistCpPlusEngine(spark)
    plan = engine.plan(
        [str(src)], dst, CopyOptions(ignore_failures=True, log_dir=logdir)
    )
    os.remove(src / "bad.txt")
    engine.execute(plan)

    records = []
    for f in glob.glob(os.path.join(logdir, "part-*")):
        with open(f) as fh:
            records += [json.loads(line) for line in fh if line.strip()]
    assert any(
        r["status"] == "FAIL" and r["path"].endswith("bad.txt") for r in records
    )
    assert all(r["status"] in ("SKIP", "FAIL") for r in records)


def _market_mapper(rows, dst_root, tmp_root, preserve, market=None):
    """-market passthrough test mapper: only copies when market == 7."""
    from distcpplus_spark.operators.copier import default_copy_fn

    if market != 7:
        rows = iter(())
    return default_copy_fn(rows, dst_root, tmp_root, preserve)


def test_cli_market_param_reaches_mapper(spark, tmp_path, capsys):
    from distcpplus_spark.cli import main

    src = tmp_path / "mkt_src"
    src.mkdir()
    (src / "f.txt").write_bytes(b"x")
    dst = tmp_path / "dst"
    rc = main([
        "-mapper", "tests.test_fileetl._market_mapper", "-market", "7",
        str(src), str(dst),
    ])
    assert rc == 0
    assert (dst / "f.txt").read_bytes() == b"x"


def test_cli_bare_p_excludes_timestamps():
    """-p alone ≡ -prbugp (DistCPPlus.java:59): timestamps NOT
    preserved unless 't' is named explicitly."""
    from distcpplus_spark.cli import parse_args

    _, _, opts, _ = parse_args(["-p", "/a", "/b"])
    assert opts.preserve == frozenset("rbugp")
    _, _, opts2, _ = parse_args(["-pt", "/a", "/b"])
    assert opts2.preserve == frozenset("t")


def test_rg_on_file_root_is_usage_error(spark, tmp_path):
    from distcpplus_spark.cli import main

    f = tmp_path / "not_a_dir.txt"
    f.write_bytes(b"x")
    rc = main(["-rg", str(f), r".*", str(tmp_path / "dst")])
    assert rc == -1


def test_update_flatten_collision_raises_duplication(spark, tmp_path):
    """Special-root rule hazard the reference shares: with -update,
    MULTIPLE dir sources all flatten into dst, so same-named files
    collide — the dup check must catch it (exit -2 path), not last-
    writer-wins."""
    a = tmp_path / "srcA"
    b = tmp_path / "srcB"
    a.mkdir()
    b.mkdir()
    (a / "same.txt").write_bytes(b"A")
    (b / "same.txt").write_bytes(b"B")
    dst = str(tmp_path / "dst")
    engine = DistCpPlusEngine(spark)
    with pytest.raises(DuplicationError):
        engine.plan(
            [str(a), str(b)], dst, CopyOptions(update=True, skip_ts_check=True)
        )


def test_relist_diff_verdicts(spark, tmp_path):
    """relist_diff: created/modified/deleted/replaced/unchanged, the
    check_mtime knob, and include_unchanged."""
    import os

    from distcpplus_spark.sources.lister import list_tree, relist_diff

    root = tmp_path / "tree"
    (root / "sub").mkdir(parents=True)
    (root / "same.txt").write_bytes(b"s" * 8)
    (root / "grow.txt").write_bytes(b"g" * 4)
    (root / "gone.txt").write_bytes(b"x" * 2)
    (root / "sub" / "f.txt").write_bytes(b"f" * 3)
    prev = list_tree(spark, [str(root)]).localCheckpoint(eager=True)

    (root / "new.txt").write_bytes(b"n" * 6)
    (root / "grow.txt").write_bytes(b"g" * 9)
    (root / "gone.txt").unlink()
    (root / "sub" / "f.txt").unlink()
    (root / "sub" / "f.txt").mkdir()

    diff = relist_diff(spark, [str(root)], prev)
    got = {
        r["relative_dst"].split("/", 1)[1]: r["change_type"]
        for r in diff.collect()
    }
    assert got == {
        "new.txt": "created",
        "grow.txt": "modified",
        "gone.txt": "deleted",
        "sub/f.txt": "replaced",
    }

    full = relist_diff(spark, [str(root)], prev, include_unchanged=True)
    unchanged = {
        r["relative_dst"].split("/", 1)[1]
        for r in full.collect()
        if r["change_type"] == "unchanged" and "/" in r["relative_dst"]
    }
    assert "same.txt" in unchanged and "sub" in unchanged


def test_relist_diff_mtime_knob(spark, tmp_path):
    """Same length, different mtime: modified only under check_mtime."""
    import os

    from distcpplus_spark.sources.lister import list_tree, relist_diff

    root = tmp_path / "tree"
    root.mkdir()
    f = root / "touched.txt"
    f.write_bytes(b"t" * 5)
    os.utime(f, (1_600_000_000, 1_600_000_000))
    prev = list_tree(spark, [str(root)]).localCheckpoint(eager=True)
    os.utime(f, (1_700_000_000, 1_700_000_000))

    assert relist_diff(spark, [str(root)], prev).count() == 0
    with_mtime = relist_diff(spark, [str(root)], prev, check_mtime=True)
    rows = with_mtime.collect()
    assert len(rows) == 1 and rows[0]["change_type"] == "modified"


def test_cli_io_error_exit_code_minus_3(tmp_path):
    """DistCPPlus.java:319-326 parity: filesystem I/O failures exit
    -3 (the RemoteException/FileNotFound/AccessControl branch), not
    the generic -999."""
    from distcpplus_spark.cli import main

    # missing source root -> InvalidInputError (a FileNotFoundError)
    rc = main([str(tmp_path / "no_such_src"), str(tmp_path / "dst")])
    assert rc == -3
