"""Seeded file trees for the copy workloads, their drift, and the checks.

The program under test only ever sees the files written here. Every
byte, size and mtime is a function of the seed, so the same seed gives
the same tree, the same drift and the same expected counters.

Shape (``TreeShape``): ``top`` x ``mid`` x ``leaf`` directories three
levels deep, ``small_files`` files with lognormal sizes spread over the
leaf directories, and ``LARGE_FILES`` files of ``large_bytes`` each.
Mtimes are whole seconds, so a ``-pt`` copy (which sets mtimes through
float seconds) reproduces them exactly.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

import numpy as np

MTIME_BASE = 1_600_000_000  # 2020-09-13, whole seconds
TMP_PREFIX = "_distcp_tmp_"


# Small files: lognormal sizes around the median, capped.
SMALL_MEDIAN_BYTES = 8 * 1024
SMALL_SIGMA = 1.2
SMALL_CAP_BYTES = 1 << 20
LARGE_FILES = 8
DRIFT_SHARE = 0.05


@dataclass(frozen=True)
class TreeShape:
    top: int
    mid: int
    leaf: int
    small_files: int
    large_bytes: int


# The benchmark's tree: 4 x 8 x 10 directories (356), 3,000 small files
# and eight 32 MB files, about 318 MB. The lister scans the first three
# levels on the driver and the 320 leaf directories in one distributed
# wave per tree. Above 256 MB (the plan's bytes per copy task) the plan
# makes two size-balanced cost buckets, so the copier's balance shows.
# A copy costs about the same at 10,000 small files (per-job overhead
# dominates), and this size keeps a run within its time budget.
BENCH = TreeShape(top=4, mid=8, leaf=10, small_files=3_000,
                  large_bytes=32 << 20)
TOY = TreeShape(top=2, mid=2, leaf=2, small_files=60, large_bytes=256 << 10)


@dataclass
class FileSpec:
    rel: str
    size: int
    mtime: int
    seed: int  # content seed

    def content(self) -> bytes:
        return np.random.default_rng(self.seed).bytes(self.size)


@dataclass
class Tree:
    """A generated source tree: ``files`` keyed by relative path and
    ``dirs`` the relative directory paths."""

    root: str
    seed: int
    files: dict[str, FileSpec]
    dirs: list[str]
    _sha: dict[str, str] = field(default_factory=dict)

    @property
    def total_bytes(self) -> int:
        return sum(f.size for f in self.files.values())

    def sha256(self, rel: str) -> str:
        """The expected digest of a file, computed from its seed on
        first use, so it is check work and not part of generation."""
        if rel not in self._sha:
            self._sha[rel] = hashlib.sha256(self.files[rel].content()).hexdigest()
        return self._sha[rel]

    def describe(self) -> dict:
        return {
            "seed": self.seed,
            "files": len(self.files),
            "dirs": len(self.dirs),
            "bytes": self.total_bytes,
        }


def _write(path: str, data: bytes, mtime: int) -> None:
    with open(path, "wb") as f:
        f.write(data)
    os.utime(path, (mtime, mtime))


def generate(root: str, seed: int, shape: TreeShape = BENCH) -> Tree:
    """Write a fresh tree under ``root`` (removed first)."""
    rng = np.random.default_rng(seed)
    shutil.rmtree(root, ignore_errors=True)
    dirs: list[str] = []
    leaves: list[str] = []
    for t in range(shape.top):
        dt = f"d{t:02d}"
        dirs.append(dt)
        for m in range(shape.mid):
            dm = f"{dt}/m{m:02d}"
            dirs.append(dm)
            for leaf in range(shape.leaf):
                dl = f"{dm}/l{leaf:02d}"
                dirs.append(dl)
                leaves.append(dl)
    for d in dirs:
        os.makedirs(os.path.join(root, d), exist_ok=True)

    sizes = np.minimum(
        np.exp(rng.normal(np.log(SMALL_MEDIAN_BYTES), SMALL_SIGMA,
                          shape.small_files)),
        SMALL_CAP_BYTES,
    ).astype(np.int64) + 1
    where = rng.integers(0, len(leaves), shape.small_files)
    mtimes = MTIME_BASE + rng.integers(0, 86_400 * 365, shape.small_files
                                       + LARGE_FILES)
    content_seeds = rng.integers(0, 2**62, shape.small_files + LARGE_FILES)

    files: dict[str, FileSpec] = {}
    for i in range(shape.small_files):
        rel = f"{leaves[where[i]]}/f{i:05d}.bin"
        files[rel] = FileSpec(rel, int(sizes[i]), int(mtimes[i]),
                              int(content_seeds[i]))
    for j in range(LARGE_FILES):
        k = shape.small_files + j
        rel = f"d{j % shape.top:02d}/large{j:02d}.bin"
        files[rel] = FileSpec(rel, shape.large_bytes, int(mtimes[k]),
                              int(content_seeds[k]))

    tree = Tree(root=root, seed=seed, files=files, dirs=dirs)
    for rel, spec in files.items():
        _write(os.path.join(root, rel), spec.content(), spec.mtime)
    return tree


@dataclass
class Drift:
    """Seeded differences between a mirror and its source.

    ``resized``: rewritten with a new length (the length test catches
    them). ``rewritten``: same length and mtime, new bytes (only the
    checksum catches them); it holds one large file so the copied bytes
    do not hinge on which small files were drawn. ``extra_files`` and
    ``extra_dirs``: destination-only paths that ``-delete`` removes.
    """

    resized: list[str]
    rewritten: list[str]
    extra_files: list[str]
    extra_dirs: list[str]
    seed: int

    @property
    def copied(self) -> list[str]:
        return self.resized + self.rewritten


def plan_drift(tree: Tree, seed: int, share: float = DRIFT_SHARE) -> Drift:
    rng = np.random.default_rng([seed, 1])
    small = sorted(r for r in tree.files if "/large" not in r)
    large = sorted(r for r in tree.files if "/large" in r)
    n = max(1, round(share * len(tree.files)))
    picked = [small[i] for i in rng.choice(len(small), 2 * n - 1, replace=False)]
    resized = sorted(picked[:n])
    rewritten = sorted(picked[n:] + [large[int(rng.integers(len(large)))]])
    n_dirs = max(1, round(share * len(tree.dirs)))
    parents = [tree.dirs[i] for i in rng.choice(len(tree.dirs), n_dirs)]
    extra_dirs = sorted({f"{p}/extra{i:03d}" for i, p in enumerate(parents)})
    homes = tree.dirs + extra_dirs
    extra_files = sorted(
        {f"{homes[k]}/x{i:05d}.bin"
         for i, k in enumerate(rng.integers(0, len(homes), n))}
    )
    return Drift(resized, rewritten, extra_files, extra_dirs, seed)


def apply_drift(tree: Tree, drift: Drift, dst: str) -> None:
    """Turn an exact mirror at ``dst`` into the drifted destination.
    Idempotent given the same drift, so it also restores the drift
    after a sync made ``dst`` equal to the source again."""
    for i, rel in enumerate(drift.resized):
        spec = tree.files[rel]
        data = np.random.default_rng([drift.seed, 2, i]).bytes(spec.size + 1 + i % 7)
        _write(os.path.join(dst, rel), data, spec.mtime)
    for i, rel in enumerate(drift.rewritten):
        spec = tree.files[rel]
        data = np.random.default_rng([drift.seed, 3, i]).bytes(spec.size)
        _write(os.path.join(dst, rel), data, spec.mtime)
    for d in drift.extra_dirs:
        os.makedirs(os.path.join(dst, d), exist_ok=True)
    for i, rel in enumerate(drift.extra_files):
        _write(os.path.join(dst, rel), b"x" * (100 + i), MTIME_BASE)


def verify_mirror(tree: Tree, dst: str) -> list[str]:
    """Compare ``dst`` with the tree: same relative paths, sizes,
    mtimes and sha256, and no leftover ``_distcp_tmp_*`` entries.
    Returns the problems found (empty when the copy is correct)."""
    problems: list[str] = []
    seen_files: set[str] = set()
    seen_dirs: set[str] = set()
    for cur, dnames, fnames in os.walk(dst):
        rel_dir = os.path.relpath(cur, dst)
        for d in dnames:
            rel = d if rel_dir == "." else f"{rel_dir}/{d}"
            if d.startswith(TMP_PREFIX):
                problems.append(f"tmp debris: {rel}")
            seen_dirs.add(rel)
        for fn in fnames:
            rel = fn if rel_dir == "." else f"{rel_dir}/{fn}"
            seen_files.add(rel)
    missing = set(tree.files) - seen_files
    extra = seen_files - set(tree.files)
    if missing:
        problems.append(f"{len(missing)} missing files, e.g. {min(missing)}")
    if extra:
        problems.append(f"{len(extra)} unexpected files, e.g. {min(extra)}")
    extra_dirs = {d for d in seen_dirs - set(tree.dirs) if not d.startswith(TMP_PREFIX)}
    if extra_dirs:
        problems.append(f"{len(extra_dirs)} unexpected dirs, e.g. {min(extra_dirs)}")
    for rel in sorted(seen_files & set(tree.files)):
        spec = tree.files[rel]
        path = os.path.join(dst, rel)
        st = os.stat(path)
        if st.st_size != spec.size:
            problems.append(f"size {rel}: {st.st_size} != {spec.size}")
            continue
        if int(st.st_mtime) != spec.mtime:
            problems.append(f"mtime {rel}: {int(st.st_mtime)} != {spec.mtime}")
        h = hashlib.sha256()
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        if h.hexdigest() != tree.sha256(rel):
            problems.append(f"sha256 {rel}")
    return problems
