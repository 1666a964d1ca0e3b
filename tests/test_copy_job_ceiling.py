"""Tooling gate: the Spark jobs one ``-update -delete`` sync fires.

A small seeded tree is mirrored, drifted (resized files, same-size
rewrites with the mtime kept, extra files and directories on the
destination) and synced with ``DistCpPlusEngine.copy``; every job the
call fires is counted through a ``statusTracker`` job group. Listing
each tree once into a materialized manifest took a traced sync of the
benchmark tree from 44 jobs to 16 (lister, update join, duplicate
check, mirror delete and counters all read the manifests without a
re-scan); this test pins the count on a small tree.

JOB_CEILING may only go DOWN. A change that needs more jobs must
remove them elsewhere first.
"""

from __future__ import annotations

import os
import random
import shutil
import uuid

from distcpplus_spark.engine import CopyOptions, DistCpPlusEngine

JOB_CEILING = 16


def _seeded_tree(root, seed: int) -> list[str]:
    rng = random.Random(seed)
    files = []
    for a in range(3):
        for b in range(4):
            d = os.path.join(root, f"t{a}", f"m{b}")
            os.makedirs(d)
            for c in range(5):
                rel = os.path.join(f"t{a}", f"m{b}", f"f{c}.bin")
                with open(os.path.join(root, rel), "wb") as f:
                    f.write(rng.randbytes(rng.randint(0, 4096)))
                os.utime(os.path.join(root, rel), (1_700_000_000, 1_700_000_000))
                files.append(rel)
    return files


def test_update_delete_sync_job_ceiling(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    files = _seeded_tree(src, seed=7)
    shutil.copytree(src, dst)
    resized, rewritten = files[:4], files[4:8]
    for rel in resized:
        with open(os.path.join(dst, rel), "ab") as f:
            f.write(b"+")
    for rel in rewritten:
        p = os.path.join(dst, rel)
        size = os.path.getsize(p)
        with open(p, "wb") as f:
            f.write(b"\0" * size)
        os.utime(p, (1_700_000_000, 1_700_000_000))
    os.makedirs(os.path.join(dst, "extra", "deep"))
    with open(os.path.join(dst, "extra", "deep", "x.bin"), "wb") as f:
        f.write(b"x")
    with open(os.path.join(dst, "t0", "stale.bin"), "wb") as f:
        f.write(b"y")

    sc = spark.sparkContext
    group = f"job-ceiling-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "update-delete sync")
    try:
        out = DistCpPlusEngine(spark).copy(
            [src], dst, CopyOptions(update=True, delete=True)
        )
    finally:
        sc._jsc.sc().clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    # rewritten files tie on length and mtime; the checksum catches
    # every one with bytes to differ
    changed = [r for r in rewritten if os.path.getsize(os.path.join(src, r))]
    assert out["FAIL"] == 0
    assert out["COPY"] == len(resized) + len(changed)
    assert not os.path.exists(os.path.join(dst, "extra"))
    assert not os.path.exists(os.path.join(dst, "t0", "stale.bin"))
    print(f"update-delete sync: {jobs} Spark jobs (ceiling {JOB_CEILING})")
    assert jobs <= JOB_CEILING, (
        f"{jobs} Spark jobs > ceiling {JOB_CEILING}: the sync re-lists "
        f"or re-evaluates a manifest"
    )
