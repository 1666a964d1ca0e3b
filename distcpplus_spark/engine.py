"""DistCpPlusEngine: the programmatic API (plan / execute / dry-run).

The reference's three entry points (SURVEY.md §3) map to:
  E1 CLI            → distcpplus_spark.cli (same flags, same exit codes)
  E2 embedded API   → this class: plan() returns lazy DataFrames you
                      can inspect (.explain(), .show()) without side
                      effects — the is_real=false mode
                      (DistCPPlus.java:151-158) made first-class
  E3 plan export    → CopyPlan holds the DataFrames + options; the
                      "serialized physical plan" is Catalyst's, not a
                      stringly JobConf
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distcpplus_spark.operators.copier import (
    CopyFailedError,
    cleanup_tmp,
    counters,
    execute_copy,
    finalize_dir_attrs,
)
from distcpplus_spark.plans.copy_plan import (
    CopyOptions,
    apply_limits,
    assign_cost_buckets,
    check_duplicates_and_total,
    num_cost_buckets,
    plan_mirror_delete,
    plan_updates,
)
from distcpplus_spark.sources.lister import list_tree


class InvalidInputError(FileNotFoundError):
    """One or more source roots do not exist. Mirrors
    DistCpUtils.checkSrcPath (DistCpUtils.java:359-376): ALL missing
    paths are collected into one error, not fail-on-first — a user
    fixing a 10-root job learns every bad root in one run."""


@dataclass
class CopyPlan:
    """Inspectable plan: lazy DataFrames + options (O19 dry-run API)."""

    copies: DataFrame
    deletes: DataFrame | None
    opts: CopyOptions
    dst_root: str
    run_id: str
    # post-limit source FILE listing (lazy) — feeds the RECORDSKIPPED
    # counter: the reference's skip counter covers files the -update
    # predicate deemed unchanged (DistCPPlus.java:108,816-820), which
    # this engine filters out at PLAN time, so the result DataFrame
    # alone undercounts them. None for rehydrated plans (load_plan),
    # where the source listing was not persisted.
    src_files: DataFrame | None = None
    # copy-task count (``copies.bucket`` lies in [0, num_buckets)).
    # None for rehydrated plans: the copier then reads max(bucket).
    num_buckets: int | None = None

    def explain(self) -> None:
        self.copies.explain("formatted")

    def summary(self) -> dict[str, int]:
        agg = self.copies.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("is_dir"), 0).otherwise(1)).alias("files"),
            F.sum("cost").alias("bytes"),
        ).collect()[0]
        out = {
            "rows": agg["n"],
            "files": agg["files"] or 0,
            "bytes": agg["bytes"] or 0,
        }
        if self.deletes is not None:
            out["deletes"] = self.deletes.count()
        return out

    def save(self, path: str) -> None:
        """Export the plan as a durable artifact (the Spark-native form
        of the reference's -exportOnly, DistCPPlus.java:374-383, where
        the serialized plan was a JobConf): manifests as parquet +
        options as JSON. A saved plan can be inspected with any
        parquet reader, diffed between runs, and executed later or
        elsewhere via DistCpPlusEngine.load_plan."""
        import dataclasses
        import json

        self.copies.write.mode("overwrite").parquet(
            os.path.join(path, "copies")
        )
        if self.deletes is not None:
            self.deletes.write.mode("overwrite").parquet(
                os.path.join(path, "deletes")
            )
        meta = {
            "opts": {
                k: (sorted(v) if isinstance(v, frozenset) else v)
                for k, v in dataclasses.asdict(self.opts).items()
            },
            "dst_root": self.dst_root,
            "run_id": self.run_id,
        }
        with open(os.path.join(path, "plan.json"), "w") as f:
            json.dump(meta, f, indent=2)


class DistCpPlusEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.last_metrics: dict | None = None

    def list(self, roots: list[str], prefix_base: bool = True) -> DataFrame:
        """O1: recursive listing → file_meta DataFrame."""
        return list_tree(self.spark, roots, prefix_base=prefix_base)

    def plan(
        self,
        src_roots: list[str],
        dst_root: str,
        opts: CopyOptions | None = None,
        name_regex: str | None = None,
        depth_regexes: list[str] | None = None,
    ) -> CopyPlan:
        """Build the copy plan. Pure planning — no writes, no copies.
        Discovery happens HERE, not in argument parsing (unlike
        Arguments.java:194-196 which does RPCs inside the parser).

        ``name_regex`` is the -rg child-name selector (O3, source
        DISCOVERY: matched direct children of the first root become
        the sources — dirs wholesale); ``depth_regexes`` the
        -regexPath per-depth chain (O4) applied below the first src
        root."""
        opts = opts or CopyOptions()
        src_roots = [os.path.abspath(r) for r in src_roots]
        # O5 aggregate validation (DistCpUtils.java:359-376): every
        # missing root reported in ONE error, not fail-on-first.
        missing = [r for r in src_roots if not os.path.exists(r)]
        if missing:
            raise InvalidInputError(
                f"source paths do not exist: {', '.join(missing)}"
            )

        if name_regex:
            # -rg discovery (Arguments.getFilePaths, Arguments.java:
            # 306-346): ONE listing of the rg dir; direct children
            # whose NAME full-matches become the sources — matched
            # dirs wholesale, files individually. Everything below
            # (special-root rule, limits, update join) then treats
            # them as ordinary roots, exactly like the reference's
            # args.srcs. No matches → usage error ("Missing src",
            # Arguments.java:243-246). One scandir at plan time; the
            # reference skips per-file existence RPCs in regex mode
            # for the same reason (P4).
            import re as _re

            rg_dir = src_roots[0]
            if not os.path.isdir(rg_dir):
                # argument-shaped failure → usage error (-1), same as
                # the empty-match case below
                raise ValueError(f"-rg source is not a directory: {rg_dir}")
            rx = _re.compile(name_regex)
            matched = sorted(
                os.path.join(rg_dir, n)
                for n in os.listdir(rg_dir)
                if rx.fullmatch(n)
            )
            if not matched:
                raise ValueError(
                    f"-rg pattern {name_regex!r} matched nothing under "
                    f"{rg_dir} (missing src)"
                )
            src_roots = matched + src_roots[1:]

        dst_exists = os.path.exists(dst_root)
        # Special-root rule (DistCPPlus.java:602-604, 630-635): with
        # -update/-overwrite, or a single src copied to a nonexistent
        # dst, a DIRECTORY source's root is the src itself — its
        # CONTENTS land directly under dst (dst/..., not dst/<base>/...).
        # File sources always key off their parent (rel = basename).
        # -regexPath mode keys everything off the regex root
        # (regexRoot, DistCPPlus.java:508, 632-633).
        special = (
            opts.update
            or opts.overwrite
            or (len(src_roots) == 1 and not dst_exists)
        )
        if depth_regexes:
            src_meta = self.list(src_roots, prefix_base=False)
        elif special:
            dir_roots = [r for r in src_roots if os.path.isdir(r)]
            file_roots = [r for r in src_roots if not os.path.isdir(r)]
            parts = [
                self.list(dir_roots, prefix_base=False) if dir_roots else None,
                self.list(file_roots) if file_roots else None,
            ]
            parts = [p for p in parts if p is not None]
            src_meta = (
                parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
            )
        else:
            src_meta = self.list(src_roots)
        if depth_regexes:
            from distcpplus_spark.sources.regex_select import (
                filter_depth_regexes,
            )

            src_meta = filter_depth_regexes(
                src_meta, src_roots[0], depth_regexes
            )

        # The full listing feeds dup-check and mirror-delete: the
        # reference's dst-list writer appends EVERY traversed child,
        # including limit-skipped ones (DistCPPlus.java:732-733), so
        # -delete never removes a file that was merely over-limit.
        src_all = src_meta
        if not opts.update:
            # -update quirk (DistCPPlus.java:676-700): the sameFile
            # assignment OVERWRITES the limit skip, so filelimit /
            # sizelimit are ignored in update mode. Replicated as-is.
            src_meta = apply_limits(src_meta, opts.file_limit, opts.size_limit)

        dst_is_dir = os.path.isdir(dst_root)
        # dst listing is relative to the dst root itself (no basename
        # prefix) so relative_dst keys line up with src's; a missing dst
        # is an empty manifest, which Catalyst folds out of the join
        dst_meta = (
            list_tree(
                self.spark, [dst_root], include_roots=False, prefix_base=False
            )
            if dst_is_dir
            else src_all.limit(0)
        )

        # Both manifests are materialized (list_tree's list-once
        # contract), so every consumer below reads them without a
        # re-scan. The duplicate check runs first, before any -update
        # checksum reads a file; the cost total then materializes the
        # lazily checkpointed update-join plan once for the bucket
        # stamping and the copy.
        copies = plan_updates(src_meta, dst_meta, opts).localCheckpoint(
            eager=False
        )
        total_cost = check_duplicates_and_total(src_all, copies)
        copies = assign_cost_buckets(
            copies, opts.bytes_per_task, opts.max_tasks, total=total_cost
        )

        deletes = None
        if opts.delete and dst_is_dir:
            deletes = plan_mirror_delete(dst_meta, src_all)

        return CopyPlan(
            copies=copies,
            deletes=deletes,
            opts=opts,
            dst_root=dst_root,
            run_id=uuid.uuid4().hex[:12],
            src_files=src_meta.filter(~F.col("is_dir")).select("relative_dst"),
            num_buckets=num_cost_buckets(
                total_cost, opts.bytes_per_task, opts.max_tasks
            ),
        )

    def execute(self, plan: CopyPlan, copy_fn=None) -> DataFrame:
        """Run the plan: copies (distributed), then deletes, then the
        failure gate. Returns the result DataFrame (O15 counters are
        aggregations over it).

        Live metrics ride the materializing action via ``observe()``
        (no second job); stage timings mirror the reference's
        SETUP/RUN/CLEANUP_TIME (DistCPPlus.java:128-131, 203-229) in
        ``self.last_metrics``."""
        import time as _time

        from pyspark.sql import Observation

        os.makedirs(plan.dst_root, exist_ok=True)
        obs = Observation(f"copy_{plan.run_id}")
        t_run = _time.perf_counter()
        try:
            if plan.opts.chunk_bytes:
                from distcpplus_spark.operators.copier import (
                    execute_copy_chunked,
                )

                result = execute_copy_chunked(
                    plan.copies,
                    plan.dst_root,
                    plan.run_id,
                    chunk_bytes=plan.opts.chunk_bytes,
                    preserve=plan.opts.preserve,
                )
            else:
                result = execute_copy(
                    plan.copies,
                    plan.dst_root,
                    plan.run_id,
                    preserve=plan.opts.preserve,
                    copy_fn=copy_fn,
                    num_buckets=plan.num_buckets,
                )
            result = result.observe(
                obs,
                F.count("*").alias("rows"),
                F.sum(F.when(F.col("status") == "FAIL", 1).otherwise(0)).alias(
                    "fails"
                ),
                F.sum("bytes_copied").alias("bytes_copied"),
            )
            # materialize before the gate (single action; metrics ride it)
            result = result.cache()
            result.count()
            run_s = _time.perf_counter() - t_run
        finally:
            t_clean = _time.perf_counter()
            cleanup_tmp(plan.dst_root, plan.run_id)
            cleanup_s = _time.perf_counter() - t_clean

        # O16 finalize: dir owner/group/permission post-pass
        # (DistCPPlus.java:264-297) — after the copy action, so child
        # writes never race a restrictive parent-dir mode. Fed from the
        # CACHED result's MKDIR rows, not plan.copies, which would
        # re-execute the whole plan DAG (including -update checksum
        # hashing) just to enumerate directories.
        finalize_dir_attrs(result, plan.dst_root, plan.opts.preserve)

        # -log sink (O20): SKIP/FAIL records as JSON, written BEFORE
        # the failure gate so a failing job still leaves its log
        # (the reference emits them as MR output during the job).
        if plan.opts.log_dir:
            (
                result.filter(F.col("status").isin("SKIP", "FAIL"))
                .write.mode("overwrite")
                .json(plan.opts.log_dir)
            )

        if plan.deletes is not None:
            self._execute_deletes(plan)

        live = obs.get
        self.last_metrics = {
            "rows": live["rows"],
            "fails": live["fails"] or 0,
            "bytes_copied": live["bytes_copied"] or 0,
            "run_s": round(run_s, 3),
            "cleanup_s": round(cleanup_s, 3),
        }
        if self.last_metrics["fails"] > 0 and not plan.opts.ignore_failures:
            raise CopyFailedError(
                f"{self.last_metrics['fails']} file(s) failed to copy (use "
                f"ignore_failures to tolerate)"
            )
        return result

    def copy(
        self,
        src_roots: list[str],
        dst_root: str,
        opts: CopyOptions | None = None,
        copy_fn=None,
        **plan_kwargs,
    ) -> dict[str, int]:
        """plan + execute + counters in one call (the common path).
        ``copy_fn`` swaps the copy operator (the -mapper surface)."""
        plan = self.plan(src_roots, dst_root, opts, **plan_kwargs)
        result = self.execute(plan, copy_fn=copy_fn)
        out = counters(result)
        if plan.src_files is not None:
            # RECORDSKIPPED is an EXTENSION, not reference parity: the
            # reference declares the counter but never increments it
            # (DistCPPlus.java:108 declares; only SKIP is ever used,
            # DefaultCopyFilesMapper.java:133). Here it estimates files
            # skipped either by the -update join at plan time or by the
            # copier's exec-time staleness re-check, derived from the
            # listing (src_files − COPY − FAIL) so the change
            # predicate's checksum reads don't re-run. FAIL can include
            # directory rows (mkdir/attr failures), which the file-only
            # listing doesn't count — clamp at 0 instead of going
            # negative in that case.
            n_src = plan.src_files.count()
            out["RECORDSKIPPED"] = max(0, n_src - out["COPY"] - out["FAIL"])
        return out

    def load_plan(self, path: str) -> CopyPlan:
        """Rehydrate a plan exported by CopyPlan.save: parquet
        manifests back to DataFrames, options from JSON. Execution is
        then identical to a freshly-built plan (the copier re-checks
        staleness per row, so an aged plan degrades to SKIPs, not
        corruption)."""
        import json

        with open(os.path.join(path, "plan.json")) as f:
            meta = json.load(f)
        opts_d = meta["opts"]
        opts_d["preserve"] = frozenset(opts_d.get("preserve") or ())
        opts = CopyOptions(**opts_d)
        copies = self.spark.read.parquet(os.path.join(path, "copies"))
        deletes_path = os.path.join(path, "deletes")
        deletes = (
            self.spark.read.parquet(deletes_path)
            if os.path.isdir(deletes_path)
            else None
        )
        return CopyPlan(
            copies=copies,
            deletes=deletes,
            opts=opts,
            dst_root=meta["dst_root"],
            run_id=meta["run_id"],
        )

    def sql(
        self,
        statement: str,
        sf_dir: str | None = None,
        args: dict | None = None,
    ) -> DataFrame:
        """Analytics entry point (a) of SURVEY.md §3: ANSI SQL through
        Spark's parser/Catalyst. With ``sf_dir`` the fixture tables are
        (re-)registered as temp views first, so
        ``engine.sql("SELECT ... FROM lineitem", sf_dir)`` just works;
        without it, the statement runs against whatever views the
        caller registered. ``args`` binds ``:name`` named parameters
        (Spark 4 parameterized SQL) — values travel as typed literals
        through the parser, never via string interpolation, so user
        input cannot inject SQL."""
        if sf_dir is not None:
            from distcpplus_spark.catalog import register_views

            register_views(self.spark, sf_dir)
        if args is not None:
            return self.spark.sql(statement, args=args)
        return self.spark.sql(statement)

    def _execute_deletes(self, plan: CopyPlan) -> None:
        """Mirror-delete execution: foreachPartition over the pruned
        delete list. Dirs are removed recursively (their descendants
        were ancestor-suppressed out of the list)."""
        dst_root = plan.dst_root

        def delete_partition(rows) -> None:
            import shutil as _sh

            for row in rows:
                target = os.path.join(dst_root, row["relative_dst"])
                try:
                    if row["is_dir"]:
                        _sh.rmtree(target, ignore_errors=True)
                    elif os.path.exists(target):
                        os.remove(target)
                except OSError:
                    pass

        plan.deletes.foreachPartition(delete_partition)
