"""The two closed-loop workloads, apply_pages and pull_sync. Each stages
seeded inputs, sets up ``SETUP_REPS`` times, drains a fixed backlog through
the engine's public API with a reader between polls and checks the final
state against an oracle.

One client polls: the next batch or cycle starts only after the previous
checkpoint commit. The backlog is sized from ``--seconds`` so that draining
it takes about that long at the engine defaults on a 4-core box; the work
per run is fixed for a given ``--seconds``, and a faster engine drains it
sooner.
"""

from __future__ import annotations

import os
from time import perf_counter

from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import oracle
from perfbench.feed import N_PARTITIONS, write_feed
from perfbench.harness import Run, lake_bytes, log
from perfbench.upstream import Upstream


# apply_pages feed (feed.py): ~6 KB pages (48 paragraphs of ~130 B), about
# one event per url with 10% of the events on 1% hot urls, so most events are
# winners whose html is extracted. The consumer knows what it polled and
# passes offsets, descriptors and approx_rows.
BODY_PARAGRAPHS = 48
BATCH_EVENTS = 3_000
WARM_EVENTS = 500  # the warm-up batch of every set-up
HOT_SHARE = 0.1
BATCHES_PER_SECOND = 0.1875  # backlog batches per --seconds (16 s: 3)
CYCLES_PER_SECOND = 0.25  # pull_sync backlog steps per --seconds (16 s: 4)
CUT_BATCH = 1  # the timed batch the traced run cuts into phases
LAYER_SUM_TOLERANCE = 0.10


def _cuts(eng, batch) -> dict:
    """Phase cuts: materialize the polled batch to the noop sink after the
    scan, then adding sanitize, the LWW pre-reduce and html->text, as the
    engine's apply plan stacks them. Returns cumulative seconds and counts."""
    from patuha_etl_dlt_spark.cdc.dedup import lww_agg
    from patuha_etl_dlt_spark.cdc.engine import EngineConfig
    from patuha_etl_dlt_spark.functions.html import with_extracted_text
    from patuha_etl_dlt_spark.functions.sanitize import sanitize_columns
    from patuha_etl_dlt_spark.lake.table import SYS_EVENT

    cfg = EngineConfig()  # the defaults are read, nothing is passed
    snap = eng.table.snapshot
    sanitized = sanitize_columns(
        batch,
        exclude=tuple(snap.key_cols) + (cfg.text_col, cfg.op_col, cfg.schema_col) + cfg.sanitize_exclude,
    )
    reduced = lww_agg(
        sanitized.withColumnRenamed(cfg.lsn_col, SYS_EVENT).drop(cfg.partition_col, cfg.schema_col),
        list(snap.key_cols),
        [snap.order_cols[0], SYS_EVENT],
    )
    extracted = with_extracted_text(reduced, cfg.html_col, cfg.text_col)
    out = {}
    for name, df in (("scan", batch), ("sanitize", sanitized), ("dedup", reduced), ("html", extracted)):
        obs = Observation()
        t0 = perf_counter()
        df.observe(
            obs, F.count(F.lit(1)).alias("rows"), F.count(F.col(cfg.html_col)).alias("pages")
        ).write.format("noop").mode("overwrite").save()
        out[name] = perf_counter() - t0
        out[f"{name}_rows"] = obs.get["rows"]
        out[f"{name}_pages"] = obs.get["pages"]
    return out


def _layer_sum(run: Run, cut: dict, bid: str) -> None:
    """Per-layer times of the cut batch, and the check that they add up to
    its apply span within ``LAYER_SUM_TOLERANCE``."""
    t = run.tracer
    layers = {
        "sources.scan_s": cut["scan"],
        "functions.sanitize.self_s": cut["sanitize"] - cut["scan"],
        "cdc.dedup.lww_self_s": cut["dedup"] - cut["sanitize"],
        "functions.html.extract_self_s": cut["html"] - cut["dedup"],
        "lake.table.write_self_s": t.total("lake.table.merge", {bid}) - cut["html"],
    }
    apply_s = t.total("cdc.engine.apply", {bid})
    err = abs(sum(layers.values()) - apply_s) / apply_s
    run.layer.update(layers)
    run.layer["cdc.dedup.winners_per_event"] = cut["dedup_rows"] / max(1, cut["scan_rows"])
    run.layer["functions.html.pages_extracted"] = cut["dedup_pages"]
    run.layer["trace.layer_sum_error"] = err
    run.layer["trace.layer_sum_failures"] = int(err > LAYER_SUM_TOLERANCE)
    log(
        f"layer sum on {bid}: "
        + ", ".join(f"{k}={v:.3f}" for k, v in layers.items())
        + f"; apply span {apply_s:.3f}s; off by {err:.1%}"
        + (" -- FAILS the layer-sum check" if err > LAYER_SUM_TOLERANCE else "")
    )


def run_apply(run: Run) -> dict:
    from patuha_etl_dlt_spark.cdc import CdcEngine, CheckpointStore
    from patuha_etl_dlt_spark.cdc.envelope import PAGES_COLUMNS, base_descriptor
    from patuha_etl_dlt_spark.lake import LakeTable

    n = max(2, round(run.seconds * BATCHES_PER_SECOND))
    warm, size = WARM_EVENTS, BATCH_EVENTS
    total = warm + n * size
    feed_dir = os.path.join(run.work, "feed")
    recent: dict[int, str] = {}  # batch (-1: warm-up) -> a url it changed, for the reader

    def stage():
        os.makedirs(feed_dir)
        urls, live = write_feed(
            feed_dir, run.seed, total, total, HOT_SHARE, BODY_PARAGRAPHS, base_descriptor()
        )
        for i in range(-1, n):
            lo, hi = (0, warm) if i < 0 else (warm + i * size, warm + (i + 1) * size)
            recent[i] = next(urls[j] for j in range(hi - 1, lo - 1, -1) if live[j])

    def poll(feed, lo, hi):
        return feed.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))

    def apply(eng, feed, bid, lo, hi):
        # a log consumer knows the range it polled; lsn is global and
        # monotone, so hi - 1 bounds every feed partition
        return eng.apply_batch(
            poll(feed, lo, hi),
            batch_id=bid,
            offsets={p: hi - 1 for p in range(N_PARTITIONS)},
            descriptors=[base_descriptor()],
            approx_rows=hi - lo,
        )

    def prepare(rep):
        root = os.path.join(run.work, f"rep{rep}")
        table = LakeTable.create(
            run.spark, os.path.join(root, "pages"), PAGES_COLUMNS,
            key_cols="url", order_col="warc_ts", num_buckets=64,
        )
        eng = CdcEngine(table, CheckpointStore(os.path.join(root, "cp")))
        feed = run.spark.read.parquet(feed_dir)
        run.op("warmup", f"warm{rep}", lambda: apply(eng, feed, "warm", 0, warm))
        return eng, feed

    eng, feed = run.setup(
        stage, prepare, lambda st: run.warm_read([st[0].table], st[0].table, recent[-1])
    )
    table = eng.table
    plans = []
    cut = None
    for i in range(n):
        lo, hi = warm + i * size, warm + (i + 1) * size
        if run.traced and i == CUT_BATCH:
            cut = _cuts(eng, poll(feed, lo, hi))
        before = run.files_before([table])
        m = run.loop_op(
            "batch", f"b{i}", lambda: apply(eng, feed, f"b{i}", lo, hi),
            lambda m: m.get("events_applied", hi - lo),
        )
        run.files_after([table], before)
        if m is not None:
            plans.append(m["lww_plan"])
            run.evolution_ops += len(m["evolution_ops"])
        run.lookup(table, recent[i], f"lookup{i}")
    live = run.scan([table]) or 0
    bytes_per_row = lake_bytes([table]) / max(1, live)
    run.lake_state([table], [eng.cp])
    run.fold([table])
    run.problems += oracle.check_apply(table, feed_dir, total - 1)

    if run.traced:
        ids = run.loop_ids
        t = run.tracer
        run.layer.update({
            "cdc.engine.apply_s": t.total("cdc.engine.apply", ids) / len(ids),
            "cdc.engine.self_s": t.self_time(
                "cdc.engine.apply", ids,
                minus={"lake.table.merge", "cdc.checkpoint.commit", "cdc.evolution.evolve",
                       "lake.table.compact"},
            ) / len(ids),
            "cdc.engine.broadcast_plan_share": plans.count("broadcast") / max(1, len(plans)),
        })
        if cut is not None:
            _layer_sum(run, cut, f"b{CUT_BATCH}")
    return run.end_to_end(bytes_per_row)


def run_pull(run: Run) -> dict:
    from patuha_etl_dlt_spark.cdc.orchestrator import SyncOrchestrator

    cycles = max(2, round(run.seconds * CYCLES_PER_SECOND))
    up = Upstream(run.seed, cycles, os.path.join(run.work, "upstream"))
    configs = up.configs()
    names = [c.table for c in configs]

    def prepare(rep):
        up.step = 0
        orch = SyncOrchestrator(
            run.spark, os.path.join(run.work, f"rep{rep}"), configs, sources=up.sources()
        )
        res, _ = run.op("warmup", f"warm{rep}", lambda: orch.pull_cycle("warm"))
        bad = [r for r in res or [] if r.status == "failed"]
        if bad:
            run.fail(f"warm{rep}", "; ".join(r.metrics.get("error", "") for r in bad))
        return orch

    def warm_read(orch):
        tables = [orch.engine(nm).table for nm in names]
        run.warm_read(tables, tables[0], up.changed_key(names[0], 0))

    orch = run.setup(up.write, prepare, warm_read)
    engines = [orch.engine(nm) for nm in names]
    lake_tables = [e.table for e in engines]
    state = {"i": 0, "failed_results": 0, "diff_share": []}
    cycle = orch.pull_cycle

    def stepped(batch_id, tables=None):
        """One timed cycle with the upstream window one step wider, then
        the reader; ``run_pull_loop`` calls it in place of ``pull_cycle``."""
        i = state["i"]
        up.step = i + 1
        before = run.files_before(lake_tables)
        res = run.loop_op(
            "cycle", batch_id, lambda: cycle(batch_id, tables),
            lambda rs: sum(r.metrics.get("rows_pulled", 0) + r.metrics.get("changes", 0) for r in rs),
        )
        run.files_after(lake_tables, before)
        bad = [r for r in res or [] if r.status == "failed"]
        if bad:
            state["failed_results"] += len(bad)
            run.fail(batch_id, "; ".join(r.metrics.get("error", "") for r in bad))
        for r in res or []:
            run.evolution_ops += len(r.metrics.get("evolution_ops", []))
            if "changes" in r.metrics:
                state["diff_share"].append(r.metrics["changes"] / up.live_rows(r.table))
        k = i % len(names)
        run.lookup(lake_tables[k], up.changed_key(names[k], up.step), f"lookup{i}")
        state["i"] += 1
        return res

    orch.pull_cycle = stepped
    orch.run_pull_loop(max_cycles=cycles)
    log(f"window {run.window_s:.2f} s, {run.events} events")
    live = run.scan(lake_tables) or 0
    bytes_per_row = lake_bytes(lake_tables) / max(1, live)
    run.lake_state(lake_tables, [e.cp for e in engines])
    # no closing fold: the pull loop compacts on the engine's own cadence,
    # and overlay debt it leaves shows in scan_s, lookup_s_p50 and
    # lake_bytes_per_row
    for name, t in zip(names, lake_tables):
        run.problems += oracle.check_rows(name, up.table_state(t, name), up.expected(name, up.step))

    if run.traced:
        ids = run.loop_ids
        t = run.tracer
        shares = state["diff_share"]
        run.layer.update({
            "cdc.orchestrator.cycle_s": t.total("cdc.orchestrator.cycle", ids) / len(ids),
            "cdc.orchestrator.self_s": t.self_time("cdc.orchestrator.cycle", ids) / len(ids),
            "cdc.orchestrator.failed_results": state["failed_results"],
            "cdc.snapshot_diff.changes_per_row": sum(shares) / max(1, len(shares)),
        })
    return run.end_to_end(bytes_per_row)
