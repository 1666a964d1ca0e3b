"""The repository benchmark: the copy pipeline and the analytics headline.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload copy_sync_update --seed 1 \
        --seconds 20 --trace 0

``--workload all`` runs the workloads one after another, each in a
process of its own, and exits with 1 if any output was wrong.

Workloads (one driver process, ``SPARK_GRAFT_CPUS=4`` so ``local[4]``,
a closed loop: one operation at a time):

* ``copy_sync_update``: ``DistCpPlusEngine.copy`` with ``-update -delete
  -pt`` of a seeded tree into a destination that mirrors it apart from
  seeded drift (5% resized, 5% same length and mtime with new bytes, 5%
  extra paths), restored before every operation. The mirror is a plain
  file copy of the source, made with the inputs. No warm-up: the first
  timed sync is the first copy of a fresh driver, as a command-line
  ``-update`` rerun is.
* ``query_headline_sf0.1``: one pass over ``bench.HEADLINE`` on a seeded
  sf0.1 fixture, every query collected in full, after one untimed pass
  on the same fixture (codegen, Python workers, table cache).

Set-up (``setup_s``) runs from the start of this script to the first
timed operation: input generation, session start and warm-up. The
benchmark's own check work (expected digests, the DuckDB oracle rows)
runs at the first check, after it.

After set-up, operations run until their summed wall time reaches
``--seconds``. Before each copy, ``os.sync()`` runs outside the timed
region, so one operation's dirty pages are not flushed inside the next
one's timing. The working set stays in the page cache, so the timings
describe this host's CPU and memory, not a storage device. Every
operation's output is checked outside the timed region; a wrong output,
a FAIL row or an exception counts as a failed operation and makes the
command exit with 1.

The last stdout line is the result object. With ``--trace 0`` its
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer ones (see ``perfbench/LAYERS.md``), and the spans are written
to ``.perfbench/trace_<workload>_<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CPUS = "4"
DRIVER_MEM = "4g"

END_TO_END = {"setup_s": "s", "op_s": "s", "call_p90_s": "s"}


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class CopyWorkload:
    """A seeded tree synced by ``DistCpPlusEngine.copy`` with ``-update
    -delete`` into a drifted mirror."""

    layer = "engine"

    def __init__(self, seed: int, shape):
        import tree

        from distcpplus_spark.plans.copy_plan import CopyOptions

        self.src = os.path.join(WORK, "src")
        self.dst = os.path.join(WORK, "dst")
        self.tree = tree.generate(self.src, seed, shape)
        shutil.rmtree(self.dst, ignore_errors=True)
        shutil.copytree(self.src, self.dst)  # the mirror, mtimes kept
        self.drift = tree.plan_drift(self.tree, seed)
        self.opts = CopyOptions(update=True, delete=True,
                                preserve=frozenset("t"))
        self.ties = 0
        self.engine = None

    def bind(self, spark) -> None:
        from distcpplus_spark.engine import DistCpPlusEngine

        self.engine = DistCpPlusEngine(spark)

    def describe(self) -> dict:
        return {
            "tree": self.tree.describe(),
            "drift": {
                "resized": len(self.drift.resized),
                "rewritten": len(self.drift.rewritten),
                "extra_files": len(self.drift.extra_files),
                "extra_dirs": len(self.drift.extra_dirs),
            },
        }

    def warm(self) -> None:
        """No warm-up: the first timed sync is the first copy of a fresh
        driver, as a command-line ``-update`` rerun is."""

    def prepare(self) -> None:
        import tree

        tree.apply_drift(self.tree, self.drift, self.dst)
        # metadata ties: files the -update predicate must hash
        self.ties = sum(
            1 for rel, spec in self.tree.files.items()
            if _same_meta(os.path.join(self.dst, rel), spec))
        os.sync()

    def run(self) -> dict:
        return self.engine.copy([self.src], self.dst, self.opts)

    def check(self, out: dict) -> list[str]:
        import tree

        return (_counter_problems(out, _counters(self.tree, self.drift.copied))
                + tree.verify_mirror(self.tree, self.dst))

    def summary(self, walls: list[float], outs: list[dict]) -> dict:
        files = [o["COPY"] + o["SKIP"] + o["RECORDSKIPPED"] for o in outs]
        return {
            "copy_s": _median(walls),
            "copy_mb_per_s": _median(
                [o["BYTESCOPIED"] / 1e6 / w for o, w in zip(outs, walls)]),
            "files_per_s": _median([f / w for f, w in zip(files, walls)]),
        }

    def calls(self, wall: float, out: dict) -> list[float]:
        return [wall]

    def cleanup(self) -> None:
        shutil.rmtree(self.src, ignore_errors=True)
        shutil.rmtree(self.dst, ignore_errors=True)


def _counters(tree, copied: list[str]) -> dict:
    """The counters a correct copy of ``tree`` reports when it copies
    the files ``copied`` and skips the rest as up to date."""
    return {
        "COPY": len(copied),
        "SKIP": 0,
        "FAIL": 0,
        "MKDIR": len(tree.dirs) + 1,  # + the destination root
        "BYTESCOPIED": sum(tree.files[r].size for r in copied),
        "RECORDSKIPPED": len(tree.files) - len(copied),
    }


def _counter_problems(out: dict, expected: dict) -> list[str]:
    return [f"counter {k}: {out.get(k)} != {v}"
            for k, v in expected.items() if out.get(k) != v]


def _same_meta(path: str, spec) -> bool:
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return False
    return st.st_size == spec.size and int(st.st_mtime) == spec.mtime


class QueryWorkload:
    """One pass over ``bench.HEADLINE`` per operation, checked against
    each query's DuckDB oracle."""

    layer = "queries"

    def __init__(self, seed: int, sf: float):
        import bench

        from distcpplus_spark.queries import load_all_queries

        self.spark = None
        self.names = list(bench.HEADLINE)
        self.queries, self.oracle = load_all_queries()
        self.canon = _load_tool("verify_oracle").canon_rows
        gen = _load_tool("gen_fixture")
        gen.SEED = seed
        self.sf_dir = os.path.join(WORK, "fixture")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        _quiet(gen.gen, sf, self.sf_dir)
        self.sf = sf
        self.expected_rows = None
        self.tracer = None

    def _oracle_rows(self) -> dict:
        """Each query's DuckDB oracle rows, canonicalized; computed at
        the first check, after set-up."""
        import duckdb

        from distcpplus_spark.catalog import TABLES

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp')}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")
        rows = {}
        for name in self.names:
            res = con.execute(self.oracle[name])
            cols = [d[0] for d in res.description]
            rows[name] = self.canon(cols, res.fetchall())
        con.close()
        return rows

    def bind(self, spark) -> None:
        self.spark = spark

    def describe(self) -> dict:
        size = sum(os.path.getsize(os.path.join(self.sf_dir, f))
                   for f in os.listdir(self.sf_dir))
        return {"fixture": {"sf": self.sf, "bytes": size,
                            "queries": len(self.names)}}

    def warm(self) -> None:
        """One untimed pass on the fixture, as ``bench.py``'s warm-up
        at its own scale: it compiles codegen, starts the Python workers
        and fills the catalog's table cache (schemas, parquet footers).
        Without it the first timed pass also carries most of the JIT
        warm-up, and a run's median then depends on whether two or three
        passes fit in its time (see LAYERS.md)."""
        for name in self.names:
            self.queries[name](self.spark, self.sf_dir).collect()

    def prepare(self) -> None:
        pass

    def run(self) -> dict:
        tracer = self.tracer
        walls, rows, cols = {}, {}, {}
        for name in self.names:
            t0 = time.perf_counter()
            if tracer is not None and tracer.enabled:
                with tracer.span(f"query:{name}", "queries"):
                    with tracer.span("queries.build", "queries"):
                        df = self.queries[name](self.spark, self.sf_dir)
                    with tracer.span("queries.plan", "queries"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("queries.collect", "queries"):
                        rows[name] = df.collect()
            else:
                df = self.queries[name](self.spark, self.sf_dir)
                rows[name] = df.collect()
            walls[name] = time.perf_counter() - t0
            cols[name] = df.columns
        return {"walls": walls, "rows": rows, "cols": cols}

    def check(self, out: dict) -> list[str]:
        if self.expected_rows is None:
            self.expected_rows = self._oracle_rows()
        problems = []
        for name in self.names:
            got = self.canon(out["cols"][name],
                             [tuple(r) for r in out["rows"][name]])
            if got != self.expected_rows[name]:
                problems.append(f"{name}: rows differ from the oracle")
        return problems

    def summary(self, walls: list[float], outs: list[dict]) -> dict:
        per_query = [w for o in outs for w in o["walls"].values()]
        return {
            "query_total_s": _median(walls),
            "query_p50_s": _median(per_query),
            "query_p90_s": _p90(per_query),
            "query_samples": len(per_query),
            "per_query_median_s": {
                n: _median([o["walls"][n] for o in outs]) for n in self.names
            },
        }

    def calls(self, wall: float, out: dict) -> list[float]:
        return list(out["walls"].values())

    def cleanup(self) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)


def _quiet(fn, *args):
    """Run ``fn`` with its prints sent to stderr, keeping stdout for the
    result."""
    import contextlib

    with contextlib.redirect_stdout(sys.stderr):
        return fn(*args)


WORKLOADS = ("copy_sync_update", "query_headline_sf0.1")


# ---------------------------------------------------------------------------
# runner
# ---------------------------------------------------------------------------


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _prepare_env() -> None:
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session():
    from distcpplus_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*,
    # outside the checkout, whatever java.io.tmpdir says
    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def _descendants() -> list[int]:
    """Pids of every process this one started, directly or not."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    found, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            found.append(pid)
            todo.append(pid)
    return found


def _running(pid: int) -> bool:
    """Whether ``pid`` is still running; reaps it if it is a finished
    child of this process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    if state != "Z":
        return True
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return False


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark session and its JVM, and wait until every process
    this one started (the JVM and its Python workers) has ended. The JVM
    exits when its stdin closes, which otherwise happens only as this
    process exits, so it would outlive the benchmark. What still runs
    after ``timeout`` seconds is killed."""
    import signal

    from pyspark import SparkContext

    from distcpplus_spark.session import stop_spark

    pids = _descendants()
    try:
        stop_spark()
    except Exception:
        traceback.print_exc(file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
    for sig, wait_s in ((None, timeout), (signal.SIGKILL, 10.0)):
        live = [p for p in pids if _running(p)]
        for pid in live if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            live = [p for p in live if _running(p)]
        if not live:
            return
    print(f"perfbench: processes still running: {live}", file=sys.stderr)


def make_workload(name: str, seed: int, toy: bool = False):
    """Generate the workload's inputs; no Spark session is needed yet."""
    import tree

    shape = tree.TOY if toy else tree.BENCH
    if name == "copy_sync_update":
        return CopyWorkload(seed, shape)
    if name == "query_headline_sf0.1":
        return QueryWorkload(seed, sf=0.001 if toy else 0.1)
    raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")


class Runner:
    """Runs one workload: warm-up, timed operations, checks, metrics."""

    def __init__(self, workload, spark, seconds: float, trace: bool):
        self.w = workload
        self.seconds = seconds
        self.trace = trace
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.untraced: list[tuple[float, dict]] = []
        self.traced: list[tuple[float, dict, dict]] = []
        if trace:
            from spans import Tracer

            self.tracer = Tracer(spark)
            self.tracer.install()
            workload.tracer = self.tracer

    def _op(self, traced: bool) -> float:
        """One operation: prepare, run (timed), check. Returns its wall
        time; a failed operation is counted and left out of the
        metrics."""
        self.attempted += 1
        w = self.w
        tracer = self.tracer
        t0 = time.perf_counter()
        try:
            w.prepare()
            t0 = time.perf_counter()
            if traced:
                tracer.enabled = True
                with tracer.span("engine.copy" if isinstance(w, CopyWorkload)
                                 else "queries.pass", w.layer) as root:
                    out = w.run()
            else:
                out = w.run()
            wall = time.perf_counter() - t0
            if tracer is not None:
                tracer.enabled = False
            problems = w.check(out)
        except Exception:
            wall = time.perf_counter() - t0
            if tracer is not None:
                tracer.enabled = False
            problems = [traceback.format_exc()]
        if problems:
            self.failed += 1
            for p in problems[:20]:
                print(f"perfbench: FAILED: {p}", file=sys.stderr)
        elif traced:
            self.traced.append((wall, out, layer_metrics(self, root, out)))
        else:
            self.untraced.append((wall, out))
        return wall

    def run(self) -> float:
        """Warm up, then time operations until their wall times add up
        to ``seconds``. Returns the set-up seconds. With tracing,
        operations alternate traced and untraced, starting traced (so
        the first traced operation is the one an untraced run reports),
        and at least three run, so a later traced operation can be
        compared with the untraced one before it."""
        try:
            self.w.warm()
        except Exception:
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: FAILED: {traceback.format_exc()}",
                  file=sys.stderr)
        setup_s = time.perf_counter() - T_START
        spent = 0.0
        i = 0
        while spent < self.seconds or (self.trace and i < 3):
            spent += self._op(traced=self.trace and i % 2 == 0)
            i += 1
            if self.failed > 3:
                break
        return setup_s


def layer_metrics(runner: Runner, root, out: dict) -> dict:
    """Per-layer metrics of one traced operation (see LAYERS.md)."""
    tracer = runner.tracer
    tracer.harvest(root)
    spans = list(root.walk())

    def of(layer):
        return [s for s in spans if s.layer == layer]

    def total(layer, key):
        return sum(s.stats.get(key, 0) for s in of(layer))

    def self_s(layer):
        return sum(s.self_s for s in of(layer))

    def named(name):
        return [s for s in spans if s.name == name]

    m = {f"{layer}.self_s": self_s(layer)
         for layer in ("lister", "copy_plan", "copier", "engine")}
    for key in ("jobs", "tasks", "executor_run_s"):
        m[f"lister.{key}"] = total("lister", key)
    for key in ("jobs", "stages", "tasks", "executor_run_s", "stage_wait_s",
                "shuffle_write_bytes"):
        m[f"copy_plan.{key}"] = total("copy_plan", key)
    for key in ("jobs", "tasks", "executor_run_s", "executor_cpu_s"):
        m[f"copier.{key}"] = total("copier", key)
    copy_metrics = isinstance(runner.w, CopyWorkload)
    m.update(_copier_balance(runner, named("copier.run")) if copy_metrics
             else {"copier.bucket_bytes_max_over_mean": 0.0,
                   "copier.task_run_max_over_mean": 0.0,
                   "copy_plan.checksum_changed": 0})
    ties = runner.w.ties if copy_metrics else 0
    changed = m.pop("copy_plan.checksum_changed")
    m["copy_plan.checksum_ties"] = ties
    m["copy_plan.checksum_yield"] = changed / ties if ties else 0.0
    bytes_copied = out.get("BYTESCOPIED", 0) if copy_metrics else 0
    m["copier.bytes_copied"] = bytes_copied
    run_s = m["copier.executor_run_s"]
    m["copier.mb_per_executor_s"] = bytes_copied / 1e6 / run_s if run_s else 0.0
    m["copier.skip_rows"] = out.get("SKIP", 0) if copy_metrics else 0
    m["copier.fail_rows"] = out.get("FAIL", 0) if copy_metrics else 0
    m["copier.cleanup_s"] = sum(s.duration for s in named("copier.cleanup_tmp"))

    def dur(name):
        return sum(s.duration for s in named(name))

    m["engine.plan_s"] = dur("engine.plan")
    m["engine.execute_s"] = dur("engine.execute")
    m["engine.deletes_s"] = dur("engine._execute_deletes")
    cnt = named("engine.counters")
    m["engine.counters_s"] = (root.end - cnt[0].start) if cnt else 0.0
    m["engine.counters_jobs"] = (
        (cnt[0].stats["jobs"] + root.stats["jobs"]) if cnt else 0)

    q = {k: 0.0 for k in QUERY_KEYS}
    for s in spans:
        if s.name == "queries.build":
            q["queries.build_s"] += s.duration
            q["queries.build_jobs"] += s.stats["jobs"]
        elif s.name == "queries.plan":
            q["queries.plan_s"] += s.duration
        elif s.name == "queries.collect":
            q["queries.collect_s"] += s.duration
            for key in ("jobs", "stages", "tasks", "executor_run_s",
                        "executor_cpu_s", "stage_wait_s",
                        "shuffle_read_bytes", "shuffle_write_bytes",
                        "spill_bytes"):
                q[f"queries.{key}"] += s.stats[key]
    if not copy_metrics:
        q["queries.result_rows"] = sum(len(r) for r in out["rows"].values())
    m.update(q)
    return m


QUERY_KEYS = (
    "queries.build_s", "queries.build_jobs", "queries.plan_s",
    "queries.collect_s", "queries.jobs", "queries.stages", "queries.tasks",
    "queries.executor_run_s", "queries.executor_cpu_s",
    "queries.stage_wait_s", "queries.shuffle_read_bytes",
    "queries.shuffle_write_bytes", "queries.spill_bytes",
    "queries.result_rows",
)


def _copier_balance(runner: Runner, runs) -> dict:
    """Bytes and executor run time per copy task, each as the largest
    task's share over an even split across the copy's partitions (so a
    partition that gets no bucket counts as an idle task), read from the
    cached copy result after the operation; and how many files the
    checksum caught."""
    from pyspark.sql import functions as F

    res = runner.tracer.results.get("engine.execute")
    out = {"copier.bucket_bytes_max_over_mean": 0.0,
           "copier.task_run_max_over_mean": 0.0,
           "copy_plan.checksum_changed": 0}
    if res is None:
        return out
    n_tasks = res.rdd.getNumPartitions()
    per_task = [r[1] for r in res.groupBy(F.spark_partition_id())
                .agg(F.sum("bytes_copied")).collect()]
    total = sum(per_task)
    if total:
        out["copier.bucket_bytes_max_over_mean"] = max(per_task) / (total / n_tasks)
    out["copy_plan.checksum_changed"] = res.filter(
        (F.col("action") == "copy_checksum") & (F.col("status") == "COPY")
    ).count()
    res.unpersist()
    stages = [sid for s in runs for sid in s.stats.get("stage_ids", [])]
    if stages:
        copy_stage = max(stages, key=runner.tracer.stage_run_s)
        stage_run = runner.tracer.stage_run_s(copy_stage)
        mx = runner.tracer.stage_task_run_max(copy_stage)
        out["copier.task_run_max_over_mean"] = (
            mx / (stage_run / n_tasks) if stage_run else 0.0)
    return out


def run_benchmark(name: str, seed: int, seconds: float, trace: bool,
                  toy: bool = False, spark=None, corrupt=None) -> dict:
    """Run one workload and return the result object. ``toy`` shrinks
    the inputs and ``corrupt(workload)`` runs after every operation
    (both for the self-test)."""
    workload = make_workload(name, seed, toy)
    t_session = time.perf_counter()
    if spark is None:
        spark = start_session()
    session_s = time.perf_counter() - t_session
    workload.bind(spark)
    if corrupt is not None:
        run_op = workload.run

        def run_and_corrupt():
            out = run_op()
            corrupt(workload)
            return out

        workload.run = run_and_corrupt
    runner = Runner(workload, spark, seconds, trace)
    try:
        setup_s = runner.run()
    finally:
        if runner.tracer is not None:
            runner.tracer.uninstall()
    walls = [w for w, _ in runner.untraced]
    outs = [o for _, o in runner.untraced]
    calls = [c for w, o in runner.untraced for c in workload.calls(w, o)]
    detail = {
        "workload": name,
        "seed": seed,
        **workload.describe(),
        "ops_timed": len(walls),
        "op_walls_s": walls,
        "fail_share": runner.failed / max(1, runner.attempted),
        **(workload.summary(walls, outs) if walls else {}),
        "last_counters": outs[-1] if outs and isinstance(workload, CopyWorkload)
        else None,
    }
    if trace:
        # the layers of the first traced operation, the one an untraced
        # run times; later traced operations only give the overhead
        per_op = [m for _, _, m in runner.traced]
        metrics = dict(per_op[0]) if per_op else {}
        metrics["session.start_s"] = session_s
        metrics["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        metrics["trace.overhead_s"] = (
            _median([w for w, _, _ in runner.traced[1:]]) - _median(walls))
        units = {k: _unit(k) for k in metrics}
        os.makedirs(WORK, exist_ok=True)
        path = os.path.join(WORK, f"trace_{name}_{seed}.json")
        runner.tracer.dump(path, {"detail": detail, "per_op": per_op})
        print(f"perfbench: spans written to {path}", file=sys.stderr)
    else:
        metrics = {
            "setup_s": setup_s,
            "op_s": _median(walls),
            "call_p90_s": _p90(calls),
        }
        units = END_TO_END
    detail["call_p50_s"] = _median(calls)
    detail["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    print(json.dumps(detail, default=str), flush=True)
    workload.cleanup()
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_executor_s"):
        return "MB/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "copier.bytes_copied":
        return "bytes"
    if name.endswith(("_over_mean", "_yield")):
        return "ratio"
    return "count"


def run_all(args) -> int:
    """Run every workload in a process of its own, as one benchmark run
    each, and print their result objects as one JSON object."""
    results = {}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            results[name] = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            results[name] = {"correct": False, "exit_code": proc.returncode}
    print(json.dumps(results))
    return 0 if all(r["correct"] for r in results.values()) else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "distcpplus_spark")):
        print("perfbench: run from a checkout of the repository: "
              f"{ROOT}/distcpplus_spark is missing", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    _prepare_env()
    try:
        result = run_benchmark(args.workload, args.seed, args.seconds,
                               bool(args.trace))
    finally:
        stop_processes()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
