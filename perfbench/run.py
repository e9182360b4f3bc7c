"""Benchmark of the CDC lake engine: one workload per run, one JSON result.

    python3 perfbench/run.py --workload small_epochs --seed 1 --seconds 15 --trace 0

Run it from the repository root. Everything the run needs is built from the
seed under ``.perfbench_work/`` in the root, and removed when the run ends;
traces of ``--trace 1`` runs stay in ``.perfbench_work/traces/``. The last
line of standard output is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end ones, or per-layer ones when traced);
the line before it carries run details (cores, driver heap, raw samples).

A run is a closed loop with one client, on one ``local[nproc]`` session. It
drives the engine only through public entry points:
``binlog.change_events``, ``lake.replay.replay``, ``LakeTable.compact``,
``lookup``, ``scan_where``, ``read``, ``CheckpointStore.commit`` (through
replay), ``IncrementalGoldView.refresh``/``read`` and the
``plans.registry.REGISTRY`` builders.

Workloads (``WORKLOADS``), both over a Zipf-skewed binlog of 1000 repos:

* ``small_epochs``: the freshness regime. Each step replays the next two
  5k-event epochs (``epoch_batch=1``, merge-on-read) into one growing table,
  reads it, and compacts it every 4 epochs.
* ``bulk_replay``: the throughput regime. Each step replays a 2 x 100k-event
  binlog into a fresh table (``epoch_batch="auto"`` merges it as one group),
  reads it and compacts it.

The reads of a step: ``LOOKUPS`` point lookups of keys seen so far, ``SCANS``
repo-range ``scan_where(with_stats=True)`` and one view refresh + read. After
the loop, one timed pass over ``REGISTRY_SUBSET``, each entry forced through
the noop sink.

``setup_s`` = session start + binlog generation + the median of
``SETUP_REPS`` repetitions of registry-table generation and oracle
precompute + warm-up (the first epoch replayed into a scratch table and
read, plus one checked registry pass).

Correctness: each lookup, scan and view read is checked against a DuckDB
oracle computed from the binlog (last write wins by ``seq``); the final table
against ``bench/validate_1e8.py``'s per-repo (rows, sum(last_seq)) and
sha256-sample checks; each registry entry against its ``oracle_sql()``. An
exception or a mismatch counts as a failed operation.

``--trace 1`` wraps the engine's entry points from outside
(``perfbench/trace.py``) and reports per-layer metrics; Spark CPU, GC,
shuffle and spill per span come from the status store. ``perfbench/METRICS.md``
says which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# A run is a number of steps. Each step replays ``epochs_per_step`` new
# epochs, compacts when the applied-epoch count crosses a multiple of
# ``compact_every``, then reads. ``table_epochs``: start a fresh table after
# this many epochs (the binlog then holds just these epochs). ``step_s`` is
# what one step takes on a 4-vCPU box: a run makes round(--seconds / step_s)
# steps, so its work is fixed by the arguments and a faster engine finishes
# the same work sooner.
WORKLOADS = {
    "small_epochs": {
        "events_per_epoch": 5_000, "epochs_per_step": 2, "epoch_batch": 1,
        "compact_every": 4, "table_epochs": None, "step_s": 7.5,
    },
    "bulk_replay": {
        "events_per_epoch": 100_000, "epochs_per_step": 2, "epoch_batch": "auto",
        "compact_every": 2, "table_epochs": 2, "step_s": 6.5,
    },
}
N_REPOS = 1000
N_BUCKETS = 16
LOOKUPS = 10
# repo-range scans per step, over ranks 100-199 of the Zipf-skewed repos
SCANS = 2
SCAN_RANGE = ("repo_00100", "repo_00199")
# one entry per module family: plans (relational), operators.dedup,
# functions.text, functions.similarity
REGISTRY_SUBSET = ["gold_two_level_agg", "cdc_first_row", "text_quality", "ann_cosine_topk"]
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s", "replay_events_per_s": "events/s", "epoch_p50_s": "s",
    "epoch_p90_s": "s", "lookup_mean_ms": "ms",
    "scan_mean_s": "s", "mv_refresh_mean_s": "s", "suite_s": "s",
    "write_amp": "ratio", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s", "binlog.generate_s": "s", "warmup_s": "s",
        "replay.calls": "count", "replay.busy_s": "s", "replay.self_s": "s",
        "replay.collect_s": "s", "replay.collect_calls": "count",
        "replay.span_coverage": "ratio",
        "table.merge.calls": "count", "table.merge.busy_s": "s",
        "table.merge.self_s": "s", "table.merge.write_s": "s",
        "table.merge.cpu_s": "s", "table.merge.gc_s": "s",
        "table.merge.shuffle_bytes": "bytes", "table.merge.spill_bytes": "bytes",
        "table.merge.bytes_written": "bytes", "table.merge.files_written": "count",
        "table.committed_epochs.calls": "count", "table.committed_epochs.busy_s": "s",
        "checkpoint.commit.calls": "count", "checkpoint.commit.busy_s": "s",
        "table.metadata.bytes": "bytes", "table.manifest.entries": "count",
        "table.compact.calls": "count", "table.compact.busy_s": "s",
        "table.compact.write_s": "s", "table.compact.bytes_written": "bytes",
        "table.lookup.calls": "count", "table.lookup.busy_s": "s",
        "table.scan_where.calls": "count", "table.scan_where.busy_s": "s",
        "table.scan_where.pruned_ratio": "ratio",
        "mv.refresh.calls": "count", "mv.refresh.busy_s": "s",
        "mv.refresh.full_ratio": "ratio", "mv.refresh.buckets_touched": "count",
    }
    units.update({f"query.{q}_s": "s" for q in REGISTRY_SUBSET})
    units.update({"trace.spans": "count", "trace.replay_events_per_s": "events/s"})
    return units


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def parquet_tree(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under ``path``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def rss_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def child_pids(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (from /proc)."""
    parents: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in parents.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def driver_heap_mb() -> int:
    """Driver heap from physical RAM: a sixth of it, within [1, 4] GiB."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return int(min(4096, max(1024, ram_mb // 6)))


def start_session(work: str, cores: int, heap_mb: int, trace: bool):
    """Environment and SparkSession kept inside ``work``; Python workers
    import the package from the repository root."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    from fao_elt_pipelines_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": (
            "-XX:+UseParallelGC -XX:+UnlockDiagnosticVMOptions "
            f"-XX:GCLockerRetryAllocationCount=100 -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every stage of the run in the status store for attribution
        conf.update({"spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000"})
    return get_spark("perfbench", cores=cores, extra_conf=conf)


class Run:
    """One workload run: set-up, measured loop, checks, metrics."""

    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("epoch_s", "lookup_ms", "scan_s", "mv_s")
        }
        self.replay_s = 0.0
        self.replay_events = 0
        self.scan_pruned = [0, 0]
        self.mv_modes: list[str] = []
        self.mv_buckets: list[int] = []
        self.layer: dict[str, float] = {}
        self.tracer = None

    # ------------------------------------------------------------ helpers
    def op(self, fn, *a, **k):
        """Run one counted operation; an exception counts as failed."""
        self.attempted += 1
        try:
            return fn(*a, **k)
        except Exception as exc:  # a failing operation is a measured outcome
            self.fail(f"{getattr(fn, '__name__', fn)}: {type(exc).__name__}: {exc}")
            return None

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:300])

    def check(self, ok: bool, what: str) -> None:
        """An oracle check counts as one more attempted operation."""
        self.attempted += 1
        if not ok:
            self.fail(f"oracle mismatch: {what}")

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw) if self.tracer else contextlib.nullcontext()

    # -------------------------------------------------------------- setup
    def generate_binlog(self) -> None:
        from fao_elt_pipelines_spark import binlog

        self.binlog_dir = os.path.join(self.work, "binlog")
        t0 = time.perf_counter()
        binlog.change_events(
            self.spark, self.epoch_events * self.n_epochs, n_repos=N_REPOS,
            events_per_epoch=self.epoch_events,
            seed=self.args.seed, num_partitions=2 * self.cores,
        ).write.partitionBy("epoch").parquet(self.binlog_dir)
        self.layer["binlog.generate_s"] = time.perf_counter() - t0

    def prepare(self, rep: int):
        """Registry tables and the oracle precompute for this seed."""
        from perfbench import fixtures, oracle

        sf_dir = os.path.join(self.work, f"sf{rep}")
        fixtures.write(sf_dir, self.args.seed)
        return sf_dir, oracle.Oracle(self.binlog_dir, sf_dir, REGISTRY_SUBSET,
                                     os.path.join(self.work, "tmp"))

    def setup(self) -> None:
        wl = self.wl
        self.steps = max(1, round(self.args.seconds / wl["step_s"]))
        self.epoch_events = max(1, int(wl["events_per_epoch"] * self.args.scale))
        self.n_epochs = wl["table_epochs"] or self.steps * wl["epochs_per_step"]
        self.cores = len(os.sched_getaffinity(0))  # what nproc reports
        self.heap_mb = driver_heap_mb()
        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.cores, self.heap_mb, self.args.trace)
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.generate_binlog()
        prep_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            sf_dir, ora = self.prepare(rep)
            prep_s.append(time.perf_counter() - t0)
            if rep == 0:
                self.sf_dir, self.oracle = sf_dir, ora
            else:
                ora.close()
                shutil.rmtree(sf_dir, ignore_errors=True)
        t0 = time.perf_counter()
        self.warmup()
        self.layer["warmup_s"] = time.perf_counter() - t0
        self.setup_s = (
            self.layer["session.start_s"] + self.layer["binlog.generate_s"]
            + statistics.median(prep_s) + self.layer["warmup_s"]
        )

    def warmup(self) -> None:
        """Replay the binlog's first epoch into a scratch table and read it,
        then make one checked registry pass, so JIT, codegen and Python
        workers are warm before timing."""
        d = os.path.join(self.work, "warmup")
        events = self.spark.read.parquet(self.binlog_dir)
        table, ckpt, view = self.new_table(d)
        self.replay(events, table, ckpt, max_epochs=1)
        self.reads(table, view, None, [("repo_00000", "src/dir_0/file_0.py")])
        self.registry_check()
        shutil.rmtree(d, ignore_errors=True)

    # ------------------------------------------------------------- engine
    def new_table(self, path: str):
        from pyspark.sql import types as T

        from fao_elt_pipelines_spark.lake.mv import IncrementalGoldView
        from fao_elt_pipelines_spark.lake.table import LakeTable
        from perfbench.oracle import TimedCheckpoint

        schema = T.StructType([
            T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()), T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
            T.StructField("content_sha256", T.StringType()),
            T.StructField("last_seq", T.LongType()),
        ])
        table = LakeTable.create(self.spark, os.path.join(path, "state"), schema, n_buckets=N_BUCKETS)
        ckpt = TimedCheckpoint(os.path.join(path, "ckpt.json"))
        view = IncrementalGoldView(self.spark, table, os.path.join(path, "mv"))
        return table, ckpt, view

    def replay(self, events, table, ckpt, max_epochs: int, record: bool = False):
        """One replay call; epoch latencies are the gaps between its
        checkpoint commits (the last one absorbing a trailing compaction)."""
        from fao_elt_pipelines_spark.lake.replay import replay

        ckpt.commit_times.clear()
        t0 = time.perf_counter()
        with self.span("op.replay"):
            rep = self.op(replay, self.spark, events, table, ckpt, mode="mor",
                          epoch_batch=self.wl["epoch_batch"], max_epochs=max_epochs)
        t1 = time.perf_counter()
        if rep is None or not record:
            return rep
        bounds = [t0, *ckpt.commit_times]
        gaps = [b - a for a, b in zip(bounds, bounds[1:])]
        if gaps:
            gaps[-1] += t1 - bounds[-1]
        self.samples["epoch_s"].extend(gaps)
        self.replay_s += t1 - t0
        self.replay_events += rep.events_in
        return rep

    def compact(self, table) -> float:
        t0 = time.perf_counter()
        with self.span("op.compact"):
            self.op(table.compact)
        return time.perf_counter() - t0

    def reads(self, table, view, expect, keys: list[tuple[str, str]]) -> None:
        """Point lookups, repo-range scans and one view refresh + read.
        ``expect`` is the oracle state to check against; without one
        (warm-up) nothing is recorded."""
        from pyspark.sql import functions as F

        record = expect is not None
        for repo, path in keys:
            t0 = time.perf_counter()
            with self.span("op.lookup"):
                rows = self.op(lambda: table.lookup(repo, path).select("last_seq", "content_sha256").collect())
            dt = time.perf_counter() - t0
            if record and rows is not None:
                self.samples["lookup_ms"].append(dt * 1e3)
                self.check(expect.lookup_ok(repo, path, rows), f"lookup {repo}/{path}")

        for _ in range(SCANS):
            t0 = time.perf_counter()
            with self.span("op.scan"):
                got = self.op(lambda: self._scan(table, F))
            dt = time.perf_counter() - t0
            if record and got is not None:
                self.samples["scan_s"].append(dt)
                found, pruned, total = got
                self.scan_pruned[0] += pruned
                self.scan_pruned[1] += total
                self.check(expect.scan(*SCAN_RANGE) == found, f"scan {SCAN_RANGE}")

        t0 = time.perf_counter()
        with self.span("op.mv"):
            got = self.op(lambda: (view.refresh(), view.read().collect()))
        dt = time.perf_counter() - t0
        if record and got is not None:
            self.samples["mv_s"].append(dt)
            info, rows = got
            self.mv_modes.append(info.get("mode", ""))
            self.mv_buckets.append(int(info.get("touched_buckets", info.get("n_buckets", N_BUCKETS))))
            self.check(expect.mv_ok(rows), "mv per-repo aggregate")

    @staticmethod
    def _scan(table, F):
        df, pruned, total = table.scan_where({"repo": SCAN_RANGE}, with_stats=True)
        r = df.agg(F.count("*"), F.sum("last_seq"), F.sum(F.octet_length("content"))).first()
        return (int(r[0]), int(r[1] or 0), int(r[2] or 0)), pruned, total

    def registry_pass(self) -> None:
        from fao_elt_pipelines_spark.plans.registry import REGISTRY

        for name in REGISTRY_SUBSET:
            fn = REGISTRY[name][0]
            t0 = time.perf_counter()
            with self.span("op.query", entry=name):
                ok = self.op(lambda: fn(self.spark, self.sf_dir).write.mode("overwrite").format("noop").save() or True)
            if ok:
                self.query_s[name] = time.perf_counter() - t0
            self.spark.catalog.clearCache()

    # ------------------------------------------------------------ measure
    def measure(self) -> None:
        import numpy as np

        events = self.spark.read.parquet(self.binlog_dir)
        wl = self.wl
        rng = np.random.default_rng(self.args.seed)
        table = ckpt = view = None
        applied = 0
        t_start = time.perf_counter()
        for step in range(self.steps):
            if table is None or applied == wl["table_epochs"]:
                if table is not None:
                    shutil.rmtree(os.path.dirname(table.path), ignore_errors=True)
                table, ckpt, view = self.new_table(os.path.join(self.work, f"t{step}"))
                applied = 0
            rep = self.replay(events, table, ckpt, wl["epochs_per_step"], record=True)
            if rep is None:
                break
            before = applied
            applied += len(rep.epochs_applied)
            expect = self.oracle.state(applied - 1)
            self.reads(table, view, expect, expect.sample_keys(rng, LOOKUPS))
            if applied // wl["compact_every"] > before // wl["compact_every"]:
                # count-cadence compaction after the reads, so they see the
                # deltas pile up; charged to the epoch that triggered it
                dt = self.compact(table)
                self.samples["epoch_s"][-1] += dt
                self.replay_s += dt
        self.measured_s = time.perf_counter() - t_start
        self.final = (table, view, applied - 1)
        self.query_s: dict[str, float] = {}
        self.registry_pass()

    # ------------------------------------------------------------- verify
    def verify(self) -> None:
        """Final-state checks against the oracle, outside every timed region
        (the registry entries are checked by the warm-up pass)."""
        from perfbench.oracle import engine_frames

        table, view, last_epoch = self.final
        if last_epoch < 0:
            self.fail("no epoch was applied")
            return
        expect = self.oracle.state(last_epoch)
        state = self.op(lambda: engine_frames(table.read()))
        if state is not None:
            per_repo, sample = state
            self.check(expect.per_repo_ok(per_repo), "final per-repo (rows, sum(last_seq))")
            self.check(sample == expect.sha_sample(), "final sha256 sample")
        rows = self.op(lambda: view.read().collect())
        if rows is not None:
            self.check(expect.mv_ok(rows), "final mv")

    def registry_check(self) -> None:
        """Collect every registry entry once and compare it with its oracle
        result: the warm-up pass and the correctness gate in one."""
        from fao_elt_pipelines_spark.plans.registry import REGISTRY

        for name in REGISTRY_SUBSET:
            found = self.op(lambda: self.oracle.registry_mismatches(name, REGISTRY[name][0](self.spark, self.sf_dir)))
            if found is not None:
                self.check(not found, f"registry {name}: {found[:1]}")
            self.spark.catalog.clearCache()

    # ------------------------------------------------------------ metrics
    def rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return rss_hwm_mb(jvm) + py

    def end_to_end(self) -> dict[str, float]:
        s = self.samples
        table, _, last = self.final
        replayed = sum(
            parquet_tree(os.path.join(self.binlog_dir, f"epoch={e}"))[1] for e in range(last + 1)
        )
        return {
            "setup_s": self.setup_s,
            "replay_events_per_s": self.replay_events / self.replay_s,
            "epoch_p50_s": quantile(s["epoch_s"], 0.5),
            "epoch_p90_s": quantile(s["epoch_s"], 0.9),
            # means, not medians: each run reads two table states (2 and 4
            # delta generations in small_epochs), and the median of a
            # two-cluster sample jumps between the clusters
            "lookup_mean_ms": statistics.mean(s["lookup_ms"]),
            "scan_mean_s": statistics.mean(s["scan_s"]),
            "mv_refresh_mean_s": statistics.mean(s["mv_s"]),
            "suite_s": sum(self.query_s.values()),
            "write_amp": parquet_tree(table.data_dir)[1] / replayed,
            "peak_rss_mb": self.rss_mb(),
        }


def install_tracing(run: Run) -> None:
    """Wrap the engine's entry points (from outside) for the traced run."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from fao_elt_pipelines_spark.lake import replay as replay_mod
    from fao_elt_pipelines_spark.lake.checkpoint import CheckpointStore
    from fao_elt_pipelines_spark.lake.mv import IncrementalGoldView
    from fao_elt_pipelines_spark.lake.table import LakeTable
    from perfbench.trace import Tracer

    tr = Tracer(run.spark, f"{run.args.workload}-{run.args.seed}")

    def written(sp, args, _out):
        sp["files"], sp["bytes"] = parquet_tree(args[1])

    tr.wrap(replay_mod, "replay", "replay")
    tr.wrap(LakeTable, "merge_changes", "table.merge", stages=True)
    tr.wrap(LakeTable, "compact", "table.compact", stages=True)
    tr.wrap(LakeTable, "committed_epochs", "table.committed_epochs")
    tr.wrap(LakeTable, "history", "table.history")
    tr.wrap(LakeTable, "lookup", "table.lookup")
    tr.wrap(LakeTable, "scan_where", "table.scan_where")
    tr.wrap(CheckpointStore, "commit", "checkpoint.commit")
    tr.wrap(CheckpointStore, "load", "checkpoint.load")
    tr.wrap(IncrementalGoldView, "refresh", "mv.refresh", stages=True)
    tr.wrap(DataFrame, "collect", "df.collect")
    tr.wrap(DataFrameWriter, "parquet", "spark.write", after=written)
    run.tracer = tr
    # Run.replay resolves lake.replay.replay at call time, so it sees the wrapper


def layer_metrics(run: Run) -> dict[str, float]:
    tr = run.tracer
    tr.resolve_stage_metrics()
    m = dict(run.layer)
    busy, named = tr.busy, tr.named

    replays = named("replay")
    merges = named("table.merge")
    compacts = named("table.compact")
    kids = [c for r in replays for c in tr.children(r)]
    m["replay.calls"] = len(replays)
    m["replay.busy_s"] = busy(replays)
    m["replay.self_s"] = sum(tr.self_time(r) for r in replays)
    collects = [c for c in kids if c["name"] == "df.collect"]
    m["replay.collect_s"] = busy(collects)
    m["replay.collect_calls"] = len(collects)
    m["replay.span_coverage"] = busy(kids) / max(busy(replays), 1e-9)

    merge_writes = [w for s in merges for w in tr.descendants(s, "spark.write")]
    m["table.merge.calls"] = len(merges)
    m["table.merge.busy_s"] = busy(merges)
    m["table.merge.write_s"] = busy(merge_writes)
    m["table.merge.self_s"] = busy(merges) - busy(merge_writes)
    for k in ("cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"):
        m[f"table.merge.{k}"] = sum(s[k] for s in merges)
    m["table.merge.bytes_written"] = sum(w["bytes"] for w in merge_writes)
    m["table.merge.files_written"] = sum(w["files"] for w in merge_writes)

    for name in ("table.committed_epochs", "checkpoint.commit", "table.compact",
                 "table.scan_where", "mv.refresh"):
        m[f"{name}.calls"] = len(named(name))
    m["table.committed_epochs.busy_s"] = busy(named("table.committed_epochs"))
    m["checkpoint.commit.busy_s"] = busy(named("checkpoint.commit"))
    compact_writes = [w for s in compacts for w in tr.descendants(s, "spark.write")]
    m["table.compact.busy_s"] = busy(compacts)
    m["table.compact.write_s"] = busy(compact_writes)
    m["table.compact.bytes_written"] = sum(w["bytes"] for w in compact_writes)

    table = run.final[0]
    meta_dir = table.meta_dir
    with open(os.path.join(meta_dir, "VERSION")) as f:
        version = f.read().strip()
    m["table.metadata.bytes"] = os.path.getsize(os.path.join(meta_dir, f"v{version}.metadata.json"))
    snap = table.current_snapshot()
    m["table.manifest.entries"] = len(snap["manifest"]) if snap else 0

    m["table.lookup.calls"] = len(named("op.lookup"))
    m["table.lookup.busy_s"] = busy(named("op.lookup"))
    m["table.scan_where.busy_s"] = busy(named("op.scan"))
    m["table.scan_where.pruned_ratio"] = run.scan_pruned[0] / max(run.scan_pruned[1], 1)
    m["mv.refresh.busy_s"] = busy(named("mv.refresh"))
    m["mv.refresh.full_ratio"] = run.mv_modes.count("full") / max(len(run.mv_modes), 1)
    m["mv.refresh.buckets_touched"] = statistics.mean(run.mv_buckets) if run.mv_buckets else 0.0
    for q in REGISTRY_SUBSET:
        m[f"query.{q}_s"] = run.query_s.get(q, 0.0)
    m["trace.spans"] = len(tr.spans)
    m["trace.replay_events_per_s"] = run.replay_events / run.replay_s
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply event counts (the smoke test runs at 0.02)")
    args = ap.parse_args(argv)
    try:
        import fao_elt_pipelines_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    try:
        phases = {}
        t = time.perf_counter()
        run.setup()
        phases["setup"] = time.perf_counter() - t
        if args.trace:
            install_tracing(run)
        t = time.perf_counter()
        run.measure()
        phases["measure"] = time.perf_counter() - t
        if run.tracer:
            run.tracer.unwrap_all()
        t = time.perf_counter()
        run.verify()
        phases["verify"] = time.perf_counter() - t
        if args.trace:
            metrics, units = layer_metrics(run), per_layer_units()
            run.tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces",
                                         f"{args.workload}-{args.seed}.jsonl"))
        else:
            metrics, units = run.end_to_end(), END_TO_END
        info = {
            "workload": args.workload, "seed": args.seed, "steps": run.steps, "cores": run.cores,
            "driver_heap_mb": run.heap_mb, "measured_s": run.measured_s,
            "samples": {k: [round(x, 4) for x in v] for k, v in run.samples.items()},
            "phases_s": phases,
            "errors": run.errors[:5],
        }
        print(json.dumps({"info": info}), flush=True)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        shutdown(run)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def shutdown(run: Run) -> None:
    """Stop Spark, then the JVM and every process it started, and wait."""
    if getattr(run, "oracle", None) is not None:
        run.oracle.close()
    spark = getattr(run, "spark", None)
    if spark is None:
        return
    gw = spark.sparkContext._gateway  # noqa: SLF001
    proc = gw.proc
    kids = child_pids(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in kids:
        while time.time() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


if __name__ == "__main__":
    sys.exit(main())
