"""Run context shared by the workloads: session lifecycle, repeated set-up,
closed-loop op accounting, the reader, and the traced-run collectors."""

from __future__ import annotations

import os
import statistics
import sys
import traceback
from time import perf_counter

from pyspark.sql import functions as F

from perfbench import guard
from perfbench.feed import page_html
from perfbench.procmon import ProcSampler
from perfbench.trace import StageCollector, Tracer

SETUP_REPS = 3
SCANS = 3  # full scans after the last op; scan_s is their median

# the traced run's metrics: name -> (unit, better); BENCHMARK.json lists them
PER_LAYER = {
    "setup.session_s": ("s", "lower"),
    "setup.stage_s": ("s", "lower"),
    "setup.warmup_s": ("s", "lower"),
    "sources.scan_s": ("s", "lower"),
    "functions.sanitize.self_s": ("s", "lower"),
    "cdc.dedup.lww_self_s": ("s", "lower"),
    "cdc.dedup.winners_per_event": ("ratio", "lower"),
    "functions.html.extract_self_s": ("s", "lower"),
    "functions.html.pages_extracted": ("count", "lower"),
    "functions.html.kernel_us_per_page": ("us", "lower"),
    "cdc.engine.apply_s": ("s", "lower"),
    "cdc.engine.self_s": ("s", "lower"),
    "cdc.engine.broadcast_plan_share": ("share", "higher"),
    "lake.table.merge_s": ("s", "lower"),
    "lake.table.write_self_s": ("s", "lower"),
    "lake.table.files_written": ("count", "lower"),
    "lake.table.bytes_written": ("B", "lower"),
    "lake.table.compact_s": ("s", "lower"),
    "lake.table.compact_bytes_rewritten": ("B", "lower"),
    "lake.table.lookup_s": ("s", "lower"),
    "lake.table.files_per_lookup": ("count", "lower"),
    "lake.table.overlay_files": ("count", "lower"),
    "lake.metadata.write_snapshot_s": ("s", "lower"),
    "lake.metadata.snapshot_reads": ("count", "lower"),
    "lake.metadata.manifest_bytes": ("B", "lower"),
    "cdc.checkpoint.commit_s": ("s", "lower"),
    "cdc.checkpoint.reads": ("count", "lower"),
    "cdc.checkpoint.state_bytes": ("B", "lower"),
    "cdc.evolution.evolve_s": ("s", "lower"),
    "cdc.evolution.ops": ("count", "lower"),
    "cdc.orchestrator.cycle_s": ("s", "lower"),
    "cdc.orchestrator.self_s": ("s", "lower"),
    "cdc.orchestrator.failed_results": ("count", "lower"),
    "cdc.snapshot_diff.changes_per_row": ("ratio", "lower"),
    "spark.jobs_per_batch": ("count", "lower"),
    "spark.stages_per_batch": ("count", "lower"),
    "spark.tasks_per_batch": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.core_busy_share": ("share", "higher"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.jvm_gc_s": ("s", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "proc.peak_rss_mb": ("MB", "lower"),
    "proc.jvm_rss_mb": ("MB", "lower"),
    "proc.pyworker_rss_mb": ("MB", "lower"),
    "proc.pyworkers": ("count", "lower"),
    "trace.overhead": ("ratio", "lower"),
    "trace.layer_sum_error": ("share", "lower"),
    "trace.layer_sum_failures": ("count", "lower"),
}


_T0 = perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """One benchmark process: ``seconds`` sizes the backlog, ``traced``
    turns on spans, stage metrics and phase cuts."""

    def __init__(self, seed: int, seconds: int, traced: bool, work: str, t_process: float):
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.t_process = t_process
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.width = None  # the session's shuffle width, for the knob guard
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = {"batch": [], "lookup": [], "scan": []}
        self.window_s = 0.0  # timed loop ops (+ apply_pages' closing fold)
        self.events = 0  # change events made durable in the window
        self.layer: dict[str, float] = {}
        self.sampler = ProcSampler(os.getpid()) if traced else None
        self.tracer = Tracer() if traced else None
        self.stages: StageCollector | None = None
        self.loop_ids: set[str] = set()  # traced batch / cycle ids
        self.loop_s = 0.0  # seconds in loop ops (batches, cycles)
        self.collect_s = 0.0  # traced-run collector seconds after loop ops
        self.lookup_files: list[int] = []
        self.files_written: list[int] = []
        self.bytes_written: list[int] = []
        self.compact_bytes = 0
        self.evolution_ops = 0

    # ------------------------------------------------------------ session

    def start_session(self) -> None:
        from patuha_etl_dlt_spark import get_spark

        scratch = os.path.join(self.work, "spark")
        os.makedirs(scratch, exist_ok=True)
        # scratch locations are the only settings the benchmark passes
        self.spark = get_spark(
            master=f"local[{self.cores}]",
            extra_conf={  # spark.local.dir comes from SPARK_LOCAL_DIRS (run.py)
                "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                # -XX:-UsePerfData: else the JVM writes a perf-data file to the system temp dir
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.width = guard.session_width(self.spark)
        if self.traced:
            self.stages = StageCollector(self.spark, self.cores)

    def setup(self, stage, prepare, warm_read):
        """Set up ``SETUP_REPS`` times and keep the last set-up.

        The first set-up runs from process start: it launches the session
        (``setup.session_s``), stages the seeded inputs, then calls
        ``prepare(rep)``, which creates fresh tables and runs the warm-up op,
        and ``warm_read(state)``, which warms the read path once (see
        ``warm_read``). Later set-ups call ``prepare`` again on the running
        session. ``setup_s`` is the median; staging (``setup.stage_s``) is
        input generation and is left out of it."""
        times, warm = [], []
        state = None
        for rep in range(SETUP_REPS):
            t0 = self.t_process if rep == 0 else perf_counter()
            stage_s = 0.0
            if rep == 0:
                self.start_session()
                self.layer["setup.session_s"] = perf_counter() - t0
                ts = perf_counter()
                stage()
                stage_s = perf_counter() - ts
                self.layer["setup.stage_s"] = stage_s
            tw = perf_counter()
            state = prepare(rep)
            if rep == 0:
                warm_read(state)
            warm.append(perf_counter() - tw)
            times.append(perf_counter() - t0 - stage_s)
        self.setup_s = statistics.median(times)
        self.layer["setup.warmup_s"] = statistics.median(warm)
        log(
            f"set-up {[round(t, 2) for t in times]} s, warm-up {[round(t, 2) for t in warm]} s, "
            f"staging {self.layer['setup.stage_s']:.2f} s"
        )
        return state

    def close(self) -> None:
        """Stop Spark, the JVM and every process below this one."""
        if self.spark is not None:
            from pyspark import SparkContext

            try:
                self.spark.stop()
            finally:
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    proc = getattr(gw, "proc", None)
                    if proc is not None:
                        proc.stdin.close()
                        proc.wait(timeout=60)

    # ---------------------------------------------------------------- ops

    def op(self, kind: str, op_id: str, fn):
        """Run one closed-loop op. Returns (result, seconds); a raising op
        counts as failed and returns None."""
        self.attempted += 1
        traced = self.tracer is not None
        if traced:
            self.stages.begin(op_id)
        t0 = perf_counter()
        try:
            if traced:
                with self.tracer.trace(op_id, kind):
                    res = fn()
            else:
                res = fn()
        except Exception:  # noqa: BLE001 -- one failed op must not end the run
            self.failed += 1
            log(f"{op_id} failed:\n{traceback.format_exc()}")
            res = None
        dt = perf_counter() - t0
        log(f"{op_id} {dt:.3f} s")
        if traced:
            loop = kind in ("batch", "cycle")
            tc = perf_counter()
            self.stages.end(op_id, dt, loop)
            if loop:
                self.loop_s += dt
                self.collect_s += perf_counter() - tc
        return res, dt

    def fail(self, op_id: str, why: str) -> None:
        """Mark an op that returned as failed (wrong result)."""
        self.failed += 1
        log(f"{op_id} failed: {why}")

    def loop_op(self, kind: str, op_id: str, fn, events_of):
        """A timed batch or cycle: its time is a latency sample and part of
        the window; ``events_of(result)`` counts the events it applied."""
        res, dt = self.op(kind, op_id, fn)
        self.window_s += dt
        self.samples["batch"].append(dt)
        if res is not None:
            self.events += events_of(res)
        if self.tracer is not None:
            self.loop_ids.add(op_id)
        return res

    def fold(self, tables) -> None:
        """The closing ``compact_deltas`` on every table, inside the window:
        deferring compaction cannot raise throughput."""
        before = self.files_before(tables)
        _, dt = self.op("compact", "close", lambda: [t.compact_deltas() for t in tables])
        self.files_after(tables, before, loop=False)
        self.window_s += dt
        log(f"window {self.window_s:.2f} s (closing fold {dt:.2f} s), {self.events} events")

    # ------------------------------------------------------------- reader

    def lookup(self, table, key, op_id: str) -> None:
        """Point lookup of one recently changed key, ``collect()`` included."""
        def go():
            df = table.lookup([key])
            return df, df.collect()

        res, dt = self.op("lookup", op_id, go)
        if res is None:
            return
        self.samples["lookup"].append(dt)
        df, rows = res
        if len(rows) > 1:
            self.fail(op_id, f"{len(rows)} rows for one key")
        if self.traced:
            self.lookup_files.append(len(df.inputFiles()))

    def scan(self, tables) -> int | None:
        """``SCANS`` full ``read()``s of every table to the noop sink; returns
        the live rows of the last one."""
        live = None
        for j in range(SCANS):
            live, dt = self.op("scan", f"scan{j}", lambda: _read_all(tables))
            if live is not None:
                self.samples["scan"].append(dt)
        return live

    def warm_read(self, tables, table, key) -> None:
        """One lookup and one full scan on the first set-up's tables, not
        sampled, so that the first timed lookup and scan do not pay the read
        path's cold start (plan compilation, JIT) that later ones skip."""
        self.op("warmup", "warm-read", lambda: (table.lookup([key]).collect(), _read_all(tables)))

    # ------------------------------------------------------------ traced

    def files_before(self, tables) -> set:
        if not self.traced:
            return set()
        return {(t.root, f.path) for t in tables for f in t.snapshot.files}

    def files_after(self, tables, before: set, loop: bool = True) -> None:
        """Count the files an op added, and the bytes of the base files a
        compaction wrote; ``loop`` ops also give a per-op sample."""
        if not self.traced:
            return
        added = [(t, f) for t in tables for f in t.snapshot.files if (t.root, f.path) not in before]
        sizes = [os.path.getsize(os.path.join(t.root, f.path)) for t, f in added]
        self.compact_bytes += sum(b for (_, f), b in zip(added, sizes) if f.kind == "base")
        if loop:
            self.files_written.append(len(added))
            self.bytes_written.append(sum(sizes))

    def lake_state(self, tables, checkpoints) -> None:
        """Overlay debt and metadata sizes just before the closing fold."""
        if not self.traced:
            return
        snaps = [t.snapshot for t in tables]
        self.layer["lake.table.overlay_files"] = sum(
            1 for s in snaps for f in s.files if f.kind == "delta"
        )
        self.layer["lake.metadata.manifest_bytes"] = sum(
            os.path.getsize(os.path.join(t.meta_dir, f"snap-{s.version:08d}.json"))
            for t, s in zip(tables, snaps)
        )
        self.layer["cdc.checkpoint.state_bytes"] = sum(
            os.path.getsize(cp.state_path) for cp in checkpoints
        )

    def per_layer(self) -> dict:
        """Every per-layer metric; a layer the workload does not reach is 0."""
        t = self.tracer
        ids = self.loop_ids
        k = max(1, len(ids))
        # the timed lookups; the set-up's warm read is left out
        lookups = {s.trace for s in t.spans if s.name == "lake.table.lookup" and s.trace != "warm-read"}
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update({
            "lake.table.merge_s": t.total("lake.table.merge", ids) / k,
            "lake.table.files_written": statistics.mean(self.files_written or [0]),
            "lake.table.bytes_written": statistics.mean(self.bytes_written or [0]),
            "lake.table.compact_s": t.total("lake.table.compact", ids | {"close"}) / k,
            "lake.table.compact_bytes_rewritten": self.compact_bytes / k,
            "lake.table.lookup_s": t.total("lake.table.lookup", lookups) / max(1, len(lookups)),
            "lake.table.files_per_lookup": statistics.mean(self.lookup_files or [0]),
            "lake.metadata.write_snapshot_s": t.total("lake.metadata.write_snapshot", ids) / k,
            "lake.metadata.snapshot_reads": t.count("lake.metadata.read_snapshot", ids) / k,
            "cdc.checkpoint.commit_s": t.total("cdc.checkpoint.commit", ids) / k,
            "cdc.checkpoint.reads": t.count("cdc.checkpoint.read", ids) / k,
            "cdc.evolution.evolve_s": t.total("cdc.evolution.evolve", ids) / k,
            "cdc.evolution.ops": self.evolution_ops,
            "functions.html.kernel_us_per_page": kernel_us_per_page(),
            "proc.peak_rss_mb": self.sampler.peak_total / 2**20,
            "proc.jvm_rss_mb": self.sampler.peak["jvm"] / 2**20,
            "proc.pyworker_rss_mb": self.sampler.peak["pyworker"] / 2**20,
            "proc.pyworkers": self.sampler.peak_pyworkers,
            "trace.overhead": (self.loop_s + self.collect_s) / self.loop_s if self.loop_s else 0.0,
        })
        m.update(self.stages.summary())
        m.update(self.layer)
        return {name: (m[name], unit) for name, (unit, _) in PER_LAYER.items()}

    # ------------------------------------------------------------ metrics

    def end_to_end(self, lake_bytes_per_row: float) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "apply_eps": (self.events / self.window_s if self.window_s else 0.0, "events/s"),
            "batch_s_p50": (statistics.median(self.samples["batch"]), "s"),
            "lookup_s_p50": (statistics.median(self.samples["lookup"]), "s"),
            "scan_s": (statistics.median(self.samples["scan"]), "s"),
            "lake_bytes_per_row": (lake_bytes_per_row, "B/row"),
        }


def _read_all(tables) -> int:
    """``read()`` every table to the noop sink; returns the live rows."""
    from pyspark.sql import Observation

    live = 0
    for t in tables:
        obs = Observation()
        t.read().observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        live += obs.get["n"]
    return live


def kernel_us_per_page(reps: int = 5) -> float:
    """Single-thread html->text kernel time over 64 fixed ~6 KB feed pages,
    median over ``reps`` passes."""
    from patuha_etl_dlt_spark.functions.html import extract_text_bytes

    pages = [page_html(f"https://site{i % 97}.example/page/{i}", i, i, 48) for i in range(64)]
    passes = []
    for _ in range(reps):
        t0 = perf_counter()
        for p in pages:
            extract_text_bytes(p)
        passes.append((perf_counter() - t0) / len(pages) * 1e6)
    return statistics.median(passes)


def lake_bytes(tables) -> int:
    """Bytes of the files the tables' current snapshots list."""
    return sum(
        os.path.getsize(os.path.join(t.root, f.path)) for t in tables for f in t.snapshot.files
    )
