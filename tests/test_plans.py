"""Physical-plan assertions: pushdown, pruning, broadcast, shuffle count.

These encode the scale contract: at 100 TB a scan that doesn't push its
filter or prune its columns is a different query. (SURVEY.md §4.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from patuha_etl_dlt_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_pushed_filter,
    read_schema_columns,
    uses_broadcast_join,
)

SF = "/root/testdata/sf0.001"


def test_cursor_predicate_pushdown(spark):
    """P1: the incremental cursor filter must reach the parquet scan."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = ev.filter(F.col("ts") > F.lit("2024-01-15").cast("timestamp")).select("event_id")
    assert has_pushed_filter(df, "ts")


def test_column_pruning(spark):
    """P2: a two-column projection must read two columns, not six."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = ev.select("user_id", "ts")
    cols = read_schema_columns(df)
    assert set(cols) == {"user_id", "ts"}


def test_offset_filter_prunes_payload(spark, tmp_path):
    """The engine's offsets/counts pre-pass must not read html/text."""
    from patuha_etl_dlt_spark.cdc import CdcEngine, CheckpointStore
    from patuha_etl_dlt_spark.cdc.envelope import PAGES_COLUMNS
    from patuha_etl_dlt_spark.lake import LakeTable
    from patuha_etl_dlt_spark.sources.feedgen import FeedSpec, generate_events

    ev = generate_events(spark, FeedSpec(n_urls=20, n_events=100))
    feed_dir = str(tmp_path / "feed")
    ev.write.parquet(feed_dir)
    feed = spark.read.parquet(feed_dir)
    t = LakeTable.create(spark, str(tmp_path / "t"), PAGES_COLUMNS, "url", "warc_ts")
    eng = CdcEngine(t, CheckpointStore(str(tmp_path / "cp")))
    pruned = eng._filter_new(feed).groupBy("partition_id").agg(F.max("lsn"))
    cols = set(read_schema_columns(pruned))
    assert "html" not in cols and "text" not in cols


def test_small_dim_join_broadcasts(spark):
    """Nation/region joins must be broadcast, not shuffled."""
    n = spark.read.parquet(f"{SF}/nation.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).groupBy("n_name").count()
    assert uses_broadcast_join(df)


def test_compact_plan_single_data_shuffle(spark, tmp_path):
    """The compaction write (a merge-on-read merge's overlay folded to base)
    runs with shuffle partitions == num_buckets and the bucket function ==
    shuffle placement, so the written files land one per bucket with no
    repartition (check by file layout, the observable)."""
    from patuha_etl_dlt_spark.cdc.envelope import PAGES_COLUMNS
    from patuha_etl_dlt_spark.lake import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), PAGES_COLUMNS, "url", "warc_ts", num_buckets=8
    )
    import datetime as dt

    rows = [(i, "U", f"u{i}", dt.datetime(2026, 1, 1), b"<p>x</p>", None, "en") for i in range(500)]
    df = spark.createDataFrame(
        rows, "_event_id long, op string, url string, warc_ts timestamp, html binary, text string, lang string"
    )
    t.merge(df, batch_id="b1")
    assert t.compact_deltas() > 0
    files = t.snapshot.files
    per_bucket: dict[int, int] = {}
    for f in files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    # one file per touched bucket (AQE may coalesce but never splits here)
    assert all(v == 1 for v in per_bucket.values()), per_bucket
    assert len(per_bucket) == 8


def test_lww_agg_is_partial_aggregated(spark):
    """The dedup aggregate must run a map-side partial max_by before the
    shuffle — the combine that makes hot keys cheap."""
    from patuha_etl_dlt_spark.cdc.dedup import lww_agg
    from patuha_etl_dlt_spark.plans import has_partial_aggregation

    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = lww_agg(ev, ["user_id"], ["ts", "event_id"])
    assert has_partial_aggregation(df)
    assert "partial_max_by" in formatted_plan(df)


def test_exchange_count_bounded(spark):
    """LWW agg over a parquet scan = exactly one shuffle."""
    from patuha_etl_dlt_spark.cdc.dedup import lww_agg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert count_exchanges(lww_agg(ev, ["user_id"], ["ts", "event_id"])) == 1


def test_rollup_partials_map_side_combined(spark, tmp_path):
    """The rollup's scan-side aggregation of the (big) event input must be
    partial-aggregated (map-side combine) with exactly one exchange — at
    scale the fold's cost is one combined shuffle of group-cardinality
    rows, not an events-wide sort."""
    from pyspark.sql import functions as F

    from patuha_etl_dlt_spark.cdc.rollup import IncrementalRollup
    from patuha_etl_dlt_spark.plans import count_exchanges, has_partial_aggregation

    ru = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), [("typ", "string")],
        {"n": ("count", "eid", "long"), "mx": ("max", "v", "double")},
        num_buckets=2,
    )
    delta = spark.createDataFrame(
        [(i, "t" + str(i % 3), float(i)) for i in range(100)], "eid long, typ string, v double"
    )
    partials = ru._partials(delta)
    assert has_partial_aggregation(partials)
    assert count_exchanges(partials) == 1


def test_engine_apply_plan_one_shuffle_and_no_second_reduce(spark, tmp_path):
    """The full apply path (offset filter → sanitize → pre-reduce →
    extraction) carries exactly ONE shuffle (the map-side-combined LWW
    groupBy); with pre_reduce on, the merge must NOT re-reduce the batch
    (delta_reduced), and the literal-map offset filter must not introduce
    a broadcast exchange."""
    import datetime as dt

    from patuha_etl_dlt_spark.cdc import CdcEngine, CheckpointStore
    from patuha_etl_dlt_spark.cdc.envelope import PAGES_COLUMNS
    from patuha_etl_dlt_spark.lake import LakeTable
    from patuha_etl_dlt_spark.lake.table import LakeTable as LT
    from patuha_etl_dlt_spark.plans import count_exchanges, formatted_plan, has_partial_aggregation

    t = LakeTable.create(
        spark, str(tmp_path / "pl"), PAGES_COLUMNS, "url", "warc_ts", num_buckets=8
    )
    eng = CdcEngine(t, CheckpointStore(str(tmp_path / "pl_cp")))
    rows = [
        (i, i % 4, "U", f"u{i % 50}", dt.datetime(2026, 1, 1), b"<p>x</p>", None, "en", None)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, partition_id int, op string, url string, warc_ts timestamp, "
        "html binary, text string, lang string, schema_json string",
    )
    eng.apply_batch(df, batch_id="seed", offsets={p: 99 for p in range(4)}, descriptors=[])

    # now offsets exist: the batch plan uses the literal-map filter
    fresh = eng._filter_new(df)
    delta = eng._prepare_delta(fresh, [])
    plan = formatted_plan(delta)
    assert count_exchanges(delta) == 1, plan  # the LWW groupBy only
    assert has_partial_aggregation(delta), plan  # map-side combine
    assert "BroadcastExchange" not in plan, plan  # literal map, not a join

    # merge skips its in-batch reduction when the engine pre-reduced
    calls = []
    orig = LT._lww_reduce
    try:
        LT._lww_reduce = lambda self, snap, d: calls.append(1) or orig(self, snap, d)
        eng.apply_batch(df, batch_id="b2", offsets={p: 300 for p in range(4)}, descriptors=[])
        assert calls == []  # mor + delta_reduced: no reduce inside merge
    finally:
        LT._lww_reduce = orig


def test_broadcast_lww_plan_keeps_payload_out_of_exchanges(spark, tmp_path):
    """The broadcast pre-reduce plan: ONE hash exchange total (the
    column-pruned winner aggregation — which must be map-side combined),
    a broadcast LEFT SEMI join, and the payload-bearing scan side flows
    into the pandas UDF with no exchange — the KB-size html/text columns
    never move through a shuffle."""
    import datetime as dt

    from patuha_etl_dlt_spark.cdc import CdcEngine, CheckpointStore
    from patuha_etl_dlt_spark.cdc.engine import EngineConfig
    from patuha_etl_dlt_spark.cdc.envelope import PAGES_COLUMNS
    from patuha_etl_dlt_spark.lake import LakeTable
    from patuha_etl_dlt_spark.plans import count_exchanges, formatted_plan, has_partial_aggregation

    t = LakeTable.create(
        spark, str(tmp_path / "blp"), PAGES_COLUMNS, "url", "warc_ts", num_buckets=8
    )
    eng = CdcEngine(
        t, CheckpointStore(str(tmp_path / "blp_cp")),
        EngineConfig(overlay="global", lww_strategy="broadcast"),
    )
    rows = [
        (i, i % 4, "U", f"u{i % 50}", dt.datetime(2026, 1, 1), b"<p>x</p>", None, "en", None)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, partition_id int, op string, url string, warc_ts timestamp, "
        "html binary, text string, lang string, schema_json string",
    )
    assert eng._lww_use_broadcast(known_rows=len(rows)) is True
    delta = eng._prepare_delta(df, [], use_broadcast_lww=True)
    plan = formatted_plan(delta)
    assert count_exchanges(delta) == 1, plan  # winners agg only
    assert has_partial_aggregation(delta), plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "BroadcastExchange" in plan, plan
