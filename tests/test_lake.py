"""Lake-table format: commits, merge semantics, evolution, idempotence.

These cover the sink contract the CDC engine relies on (reference analogs
cited in patuha_etl_dlt_spark/lake/*; the reference ships no tests —
SURVEY.md §5 — so this suite implements its TRD's intended scenarios)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from patuha_etl_dlt_spark.lake import LakeTable

PAGES = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]


def ts(i: int) -> dt.datetime:
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=i)


def ev(spark, rows):
    """rows: (lsn, op, url, ts_i, text)"""
    return spark.createDataFrame(
        [(l, o, u, ts(t), f"<html>{x}</html>".encode(), x, "en") for (l, o, u, t, x) in rows],
        "_event_id long, op string, url string, warc_ts timestamp, html binary, text string, lang string",
    )


def state(t: LakeTable) -> dict[str, str]:
    return {r["url"]: r["text"] for r in t.read().collect()}


@pytest.fixture
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "pages"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
    )


def test_create_and_empty_read(table):
    assert table.read().count() == 0
    assert table.user_columns() == ["url", "warc_ts", "html", "text", "lang"]


def test_merge_insert_update_delete(spark, table):
    m = table.merge(
        ev(spark, [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1"), (3, "U", "a", 2, "A2")]),
        batch_id="b1",
    )
    assert m["rows_written"] == 2 and m["buckets_touched"] >= 1
    assert state(table) == {"a": "A2", "b": "B1"}

    table.merge(ev(spark, [(4, "D", "a", 3, "X"), (5, "U", "b", 3, "B2")]), batch_id="b2")
    assert state(table) == {"b": "B2"}
    # tombstone retained internally
    assert table.read(include_deleted=True, include_system=True).count() == 2


def test_lww_out_of_order_within_batch(spark, table):
    # late event (smaller warc_ts) loses even if higher lsn arrives later
    table.merge(ev(spark, [(10, "U", "a", 5, "NEW"), (11, "U", "a", 2, "OLD")]), batch_id="b1")
    assert state(table) == {"a": "NEW"}


def test_lww_out_of_order_across_batches(spark, table):
    table.merge(ev(spark, [(10, "U", "a", 5, "NEW")]), batch_id="b1")
    table.merge(ev(spark, [(11, "U", "a", 2, "OLD")]), batch_id="b2")
    assert state(table) == {"a": "NEW"}


def test_delete_tombstone_blocks_older_resurrect(spark, table):
    table.merge(ev(spark, [(1, "I", "a", 1, "A1")]), batch_id="b1")
    table.merge(ev(spark, [(3, "D", "a", 5, "X")]), batch_id="b2")
    # an older update arriving after the delete must NOT resurrect the row
    table.merge(ev(spark, [(2, "U", "a", 3, "A2")]), batch_id="b3")
    assert state(table) == {}


def test_exactly_once_reapply_is_noop(spark, table):
    d = ev(spark, [(1, "I", "a", 1, "A1")])
    table.merge(d, batch_id="b1")
    v = table.snapshot.version
    m = table.merge(ev(spark, [(2, "U", "a", 9, "CHANGED")]), batch_id="b1")
    assert m["skipped"] is True
    assert table.snapshot.version == v
    assert state(table) == {"a": "A1"}


def test_merge_commutes(spark, tmp_path):
    b1 = [(1, "I", "a", 1, "A1"), (4, "U", "b", 2, "B2")]
    b2 = [(2, "U", "a", 3, "A2"), (3, "I", "b", 1, "B1"), (5, "D", "c", 1, "X")]
    finals = []
    for order in ([("x1", b1), ("x2", b2)], [("x2", b2), ("x1", b1)]):
        t = LakeTable.create(
            spark, str(tmp_path / f"t{len(finals)}"), PAGES, "url", "warc_ts", num_buckets=2
        )
        for bid, rows in order:
            t.merge(ev(spark, rows), batch_id=bid)
        finals.append(state(t))
    assert finals[0] == finals[1] == {"a": "A2", "b": "B2"}


def test_bucket_pruning(spark, table):
    table.merge(ev(spark, [(i, "I", f"u{i}", 1, f"T{i}") for i in range(40)]), batch_id="seed", mode="cow")
    m = table.merge(ev(spark, [(100, "U", "u3", 9, "NEW")]), batch_id="b2", mode="cow")
    assert m["buckets_touched"] == 1
    assert state(table)["u3"] == "NEW"
    assert len(state(table)) == 40


def test_overwrite_full_refresh(spark, table):
    table.merge(ev(spark, [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1")]), batch_id="b1")
    snap_df = ev(spark, [(3, "I", "c", 2, "C1")]).drop("op")
    table.overwrite(snap_df, batch_id="fr1")
    assert state(table) == {"c": "C1"}


def test_schema_evolution_add_rename_widen(spark, table):
    table.merge(ev(spark, [(1, "I", "a", 1, "A1")]), batch_id="b1")
    table.add_column("content_type", "string")
    table.add_column("fetch_ms", "int")
    d = ev(spark, [(2, "I", "b", 2, "B1")]).withColumn(
        "content_type", F.lit("text/html")
    ).withColumn("fetch_ms", F.lit(42))
    table.merge(d, batch_id="b2")
    rows = {r["url"]: r for r in table.read().collect()}
    assert rows["a"]["content_type"] is None  # old files: null-filled
    assert rows["b"]["content_type"] == "text/html"

    table.rename_column("lang", "language")
    assert "language" in table.user_columns() and "lang" not in table.user_columns()
    assert {r["url"]: r["language"] for r in table.read().collect()} == {"a": "en", "b": "en"}

    table.widen_column("fetch_ms", "long")
    rows = {r["url"]: r for r in table.read().collect()}
    assert rows["b"]["fetch_ms"] == 42
    assert dict(table.read().dtypes)["fetch_ms"] == "bigint"


def test_rename_key_column(spark, table):
    table.merge(ev(spark, [(1, "I", "a", 1, "A1")]), batch_id="b1")
    table.rename_column("url", "page_url")
    assert table.snapshot.key_cols == ["page_url"]
    d = ev(spark, [(2, "U", "a", 5, "A2")]).withColumnRenamed("url", "page_url")
    table.merge(d, batch_id="b2")
    assert {r["page_url"]: r["text"] for r in table.read().collect()} == {"a": "A2"}


def test_time_travel_and_expire(spark, table):
    # cow: the second merge REPLACES the bucket file, so expiring the old
    # snapshot can reclaim it (mor appends, so nothing would be orphaned)
    table.merge(ev(spark, [(1, "I", "a", 1, "A1")]), batch_id="b1", mode="cow")
    v1 = table.snapshot.version
    table.merge(ev(spark, [(2, "U", "a", 2, "A2")]), batch_id="b2", mode="cow")
    assert {r["text"] for r in table.read(snapshot_version=v1).collect()} == {"A1"}
    n = table.expire_snapshots(keep_last=1)
    assert n >= 1
    assert state(table) == {"a": "A2"}


def test_composite_key(spark, tmp_path):
    cols = [("src_url", "string"), ("dst_url", "string"), ("warc_ts", "timestamp"), ("w", "long")]
    t = LakeTable.create(
        spark, str(tmp_path / "links"), cols, ["src_url", "dst_url"], "warc_ts", num_buckets=2
    )
    df = spark.createDataFrame(
        [
            (1, "I", "a", "b", ts(1), 10),
            (2, "I", "a", "c", ts(1), 20),
            (3, "U", "a", "b", ts(2), 30),
        ],
        "_event_id long, op string, src_url string, dst_url string, warc_ts timestamp, w long",
    )
    t.merge(df, batch_id="b1")
    got = {(r["src_url"], r["dst_url"]): r["w"] for r in t.read().collect()}
    assert got == {("a", "b"): 30, ("a", "c"): 20}


def test_null_keys_dropped(spark, table):
    df = ev(spark, [(1, "I", "a", 1, "A1")]).unionByName(
        ev(spark, [(2, "I", "a", 1, "ghost")]).withColumn("url", F.lit(None).cast("string"))
    )
    table.merge(df, batch_id="b1")
    assert state(table) == {"a": "A1"}


def test_compact_files_and_tombstones(spark, table):
    table.merge(ev(spark, [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1")]), batch_id="b1")
    table.merge(ev(spark, [(3, "D", "a", 5, "X")]), batch_id="b2")
    # fragment a bucket via append-style extra merge, then compact
    table.merge(ev(spark, [(4, "I", "c", 6, "C1")]), batch_id="b3")
    n0 = len(table.snapshot.files)
    table.compact_files(max_files_per_bucket=1)
    assert len(table.snapshot.files) <= n0
    assert state(table) == {"b": "B1", "c": "C1"}
    # tombstone for 'a' purged once all partitions passed lsn 3
    assert table.read(include_deleted=True, include_system=True).count() == 3
    table.compact_tombstones(older_than_event_id=4)
    assert table.read(include_deleted=True, include_system=True).count() == 2
    assert state(table) == {"b": "B1", "c": "C1"}


def test_mor_cow_mixture_equivalent(spark, tmp_path):
    """Any mixture of merge-on-read and copy-on-write produces the same
    readable state (LWW reduction is associative/commutative)."""
    batches = [
        [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1")],
        [(3, "U", "a", 5, "A2"), (4, "D", "b", 5, "X")],
        [(5, "U", "a", 2, "OLD"), (6, "I", "c", 1, "C1")],
    ]
    states = []
    for modes in (["mor", "mor", "mor"], ["cow", "cow", "cow"], ["mor", "cow", "mor"]):
        t = LakeTable.create(
            spark, str(tmp_path / f"t_{''.join(m[0] for m in modes)}"), PAGES, "url", "warc_ts", num_buckets=2
        )
        for i, (rows, m) in enumerate(zip(batches, modes)):
            t.merge(ev(spark, rows), batch_id=f"b{i}", mode=m)
        states.append(state(t))
    assert states[0] == states[1] == states[2] == {"a": "A2", "c": "C1"}


def test_compact_deltas_preserves_state(spark, table):
    for i, rows in enumerate([[(1, "I", "a", 1, "A1")], [(2, "U", "a", 5, "A2")], [(3, "D", "a", 7, "X")], [(4, "I", "b", 1, "B1")]]):
        table.merge(ev(spark, rows), batch_id=f"b{i}", mode="mor")
    assert any(f.kind == "delta" for f in table.snapshot.files)
    before = state(table)
    n = table.compact_deltas()
    assert n >= 1
    assert all(f.kind == "base" for f in table.snapshot.files)
    assert state(table) == before == {"b": "B1"}
    # post-compaction merges still work and tombstone semantics survive
    table.merge(ev(spark, [(2, "U", "a", 3, "GHOST")]), batch_id="late")
    assert state(table) == {"b": "B1"}


def test_long_order_column(spark, tmp_path):
    """Non-timestamp order columns must work end-to-end (the NULL-order
    fallback is picked from the column's declared lake type)."""
    t = LakeTable.create(
        spark, str(tmp_path / "seq_t"),
        [("k", "long"), ("seq", "long"), ("v", "string")],
        key_cols="k", order_col="seq", num_buckets=4,
    )
    d = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new"), (2, None, "null-seq")],
        "k long, seq long, v string",
    )
    t.merge(d, batch_id="b1")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "new", 2: "null-seq"}
    # a later batch with a real seq beats the NULL-seq row
    t.merge(spark.createDataFrame([(2, 5, "real")], "k long, seq long, v string"), batch_id="b2")
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "new", 2: "real"}


def test_unsupported_order_type_fails_fast(spark, tmp_path):
    with pytest.raises(ValueError, match="order-column type"):
        LakeTable.create(
            spark, str(tmp_path / "bad_t"),
            [("k", "long"), ("b", "binary"), ("v", "string")],
            key_cols="k", order_col="b", num_buckets=2,
        )


def test_orderless_table_lww_by_event_id(spark, tmp_path):
    """order_col=None (the reference's modifier-less full-refresh shape):
    LWW falls back to the _event_id lineage column."""
    t = LakeTable.create(
        spark, str(tmp_path / "nomod"),
        [("k", "long"), ("v", "string")],
        key_cols="k", order_col=None, num_buckets=4,
    )
    d = spark.createDataFrame(
        [(2, 1, "first"), (1, 1, "second")], "_event_id long, k long, v string"
    )
    t.merge(d, batch_id="b1")
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "first"}
    t.merge(
        spark.createDataFrame([(3, 1, "third")], "_event_id long, k long, v string"),
        batch_id="b2",
    )
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "third"}


def test_batch_retention_bounds_manifest(spark, tmp_path):
    """With batch_retention=K the snapshot manifest stays O(live files + K)
    after 500 commits (Delta txn-retention pattern), and exactly-once
    still holds for every batch inside the K-batch horizon."""
    import os

    t = LakeTable.create(
        spark, str(tmp_path / "ret"),
        [("k", "long"), ("v", "string"), ("seq", "long")],
        key_cols="k", order_col="seq", num_buckets=2, batch_retention=50,
    )
    # one real merge (files on disk), then 499 metadata-only commits — the
    # growth under test is the manifest document, not the data path
    t.merge(
        spark.createDataFrame([(1, "a", 1)], "k long, v string, seq long"),
        batch_id="b0",
    )
    sizes = []
    for i in range(1, 500):
        snap = t.snapshot
        t._commit(snap, snap.files, f"b{i}", {"operation": "merge"})
        if i in (100, 499):
            sizes.append(os.path.getsize(t.meta_dir + f"/snap-{t.snapshot.version:08d}.json"))
    snap = t.snapshot
    assert len(snap.batch_ids) == 50
    assert snap.batch_ids[-1] == "b499" and "b0" not in snap.batch_ids
    # manifest size is flat between commit 100 and commit 499
    assert abs(sizes[1] - sizes[0]) < 64, sizes
    # exactly-once inside the horizon
    assert t.has_batch("b499") and t.has_batch("b450")
    m = t.merge(
        spark.createDataFrame([(9, "dup", 9)], "k long, v string, seq long"),
        batch_id="b499",
    )
    assert m["skipped"] is True
    # retention survives schema evolution commits
    t.add_column("extra", "string")
    assert t.snapshot.batch_retention == 50 and len(t.snapshot.batch_ids) == 50


def test_checkpoint_retention_bounds_state(tmp_path):
    """CheckpointStore with batch_retention keeps the state document
    O(partitions + K) while n_batches_total keeps counting."""
    from patuha_etl_dlt_spark.cdc.checkpoint import CheckpointStore

    cp = CheckpointStore(str(tmp_path / "cp"), batch_retention=20)
    for i in range(300):
        cp.commit(f"b{i}", {0: i}, {"events_applied": 1, "seconds": 0.01})
    st = cp.read()
    assert len(st["batches"]) == 20 and st["n_batches_total"] == 300
    assert cp.has_batch("b299") and not cp.has_batch("b0")
    assert cp.status()["n_batches"] == 300
    assert cp.offsets() == {0: 299}


def test_point_lookup_prunes_buckets(spark, tmp_path):
    """lookup(keys) reads only the buckets the keys hash into (checked
    via inputFiles) and returns exactly the live rows for those keys."""
    t = LakeTable.create(
        spark, str(tmp_path / "pl"),
        [("k", "string"), ("v", "string"), ("seq", "long")],
        key_cols="k", order_col="seq", num_buckets=8,
    )
    rows = [(f"url-{i}", f"v{i}", i) for i in range(400)]
    t.merge(spark.createDataFrame(rows, "k string, v string, seq long"), batch_id="b")
    t.compact_deltas()  # merges write global overlays; fold to bucketed base
    assert len({f.bucket for f in t.snapshot.files}) == 8

    df = t.lookup(["url-7", "url-123", "url-nope"])
    got = {r["k"]: r["v"] for r in df.collect()}
    assert got == {"url-7": "v7", "url-123": "v123"}

    # file-level pruning: the scan must touch at most 2 of the 8 buckets
    read = df.inputFiles()
    touched = {
        f.bucket for f in t.snapshot.files if any(rf.endswith(f.path) for rf in read)
    }
    assert len(touched) <= 2 < 8, touched


def test_global_overlay_merge_equivalent_and_folds(spark, tmp_path):
    """overlay='global' (the bucket-count-independent small-batch write
    path) must produce identical read()/read_buckets() state to
    copy-on-write merges, survive tombstones, refuse replace_buckets until
    folded, and compact back to one file per bucket."""
    batches = [
        [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1"), (3, "I", "c", 1, "C1")],
        [(4, "U", "a", 2, "A2"), (5, "D", "b", 2, ""), (6, "I", "d", 1, "D1")],
        [(7, "U", "d", 0, "D0"), (8, "I", "e", 1, "E1")],  # late event loses
    ]
    tg = LakeTable.create(
        spark, str(tmp_path / "g"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    tb = LakeTable.create(
        spark, str(tmp_path / "b"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    for i, rows in enumerate(batches):
        mg = tg.merge(ev(spark, rows), batch_id=f"b{i}", overlay="global")
        tb.merge(ev(spark, rows), batch_id=f"b{i}", mode="cow")
        assert mg["skipped"] is False
    want = {"a": "A2", "c": "C1", "d": "D1", "e": "E1"}
    assert state(tg) == state(tb) == want
    assert all(f.bucket == -1 and f.kind == "delta" for f in tg.snapshot.files)

    # bucket-pruned read still resolves overlay rows for exactly the
    # wanted buckets (overlay files are scanned but filtered)
    snap = tg.snapshot
    buckets = {
        r["url"]: r["b"]
        for r in ev(spark, batches[0] + batches[1] + batches[2])
        .select("url", tg._bucket_expr(snap).alias("b")).distinct().collect()
    }
    wanted = {buckets["a"], buckets["e"]}
    got = {r["url"]: r["text"] for r in tg.read_buckets(wanted).collect()}
    assert got == {u: x for u, x in want.items() if buckets[u] in wanted}

    # replace_buckets is guarded while global overlays exist
    with pytest.raises(ValueError, match="global overlay"):
        tg.replace_buckets(tg.read_buckets([0]), [0])

    # exactly-once replay with the global layout
    assert tg.merge(ev(spark, batches[1]), batch_id="b1", overlay="global")["skipped"] is True

    # compaction folds overlays to the pristine one-file-per-bucket layout
    assert tg.compact_deltas() > 0
    assert state(tg) == want
    files = tg.snapshot.files
    assert all(f.bucket >= 0 and f.kind == "base" for f in files)
    per_bucket: dict[int, int] = {}
    for f in files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    # deleted key 'b' must not resurrect post-fold
    assert "b" not in state(tg)


def test_legacy_bucketed_overlay_resolves_and_folds(spark, tmp_path):
    """Tables written by older versions of the format hold bucketed
    kind='delta' overlay files; read, lookup and compaction still resolve
    them against base (tombstone and late event included)."""
    import dataclasses

    def mk(name):
        return LakeTable.create(
            spark, str(tmp_path / name), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
        )

    t, newer = mk("t"), mk("newer")
    t.merge(ev(spark, [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1"), (3, "I", "c", 1, "C1")]), batch_id="b0", mode="cow")
    newer.merge(ev(spark, [(4, "U", "a", 2, "A2"), (5, "D", "b", 2, ""), (6, "U", "c", 0, "C0")]), batch_id="b1", mode="cow")
    snap = t.snapshot
    rows = t._align(newer.read(include_deleted=True, include_system=True), snap.schema)
    legacy = [dataclasses.replace(f, kind="delta") for f in t._write_files(snap, rows)]
    assert all(f.bucket >= 0 for f in legacy)
    t._commit(snap, snap.files + legacy, "b1", {"operation": "merge"})

    want = {"a": "A2", "c": "C1"}
    assert state(t) == want
    assert {r["url"]: r["text"] for r in t.lookup(["a", "b", "c"]).collect()} == want
    assert t.compact_deltas() > 0
    assert all(f.kind == "base" for f in t.snapshot.files)
    assert state(t) == want
    assert t.compact_deltas() == 0


def test_global_overlay_then_cow_merge_folds_everything(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "gc"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    t.merge(ev(spark, [(1, "I", "a", 1, "A1"), (2, "I", "b", 1, "B1")]), batch_id="b0", overlay="global")
    # a cow merge on a globally-overlaid table performs a full fold (the
    # overlay overlaps every bucket) — state correct, no -1 files remain
    t.merge(ev(spark, [(3, "U", "a", 2, "A2"), (4, "I", "c", 1, "C1")]), batch_id="b1", mode="cow")
    assert state(t) == {"a": "A2", "b": "B1", "c": "C1"}
    assert all(f.bucket >= 0 for f in t.snapshot.files)


def test_delta_reduced_merge_matches_plain(spark, tmp_path):
    """delta_reduced=True on a pre-reduced batch (one winner per key) is
    exactly equivalent — winner choice, tombstones, null-key filter."""
    from patuha_etl_dlt_spark.cdc.dedup import lww_agg

    rows = [
        (1, "I", "a", 1, "A1"), (2, "U", "a", 3, "A3"), (3, "U", "a", 2, "A2"),
        (4, "I", "b", 1, "B1"), (5, "D", "b", 2, ""), (6, "I", None, 1, "X"),
        (7, "I", "c", 1, "C1"),
    ]
    t1 = LakeTable.create(
        spark, str(tmp_path / "r1"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    t2 = LakeTable.create(
        spark, str(tmp_path / "r2"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    delta = ev(spark, rows)
    t1.merge(delta, batch_id="b0")
    reduced = lww_agg(delta.filter(F.col("url").isNotNull()), ["url"], ["warc_ts", "_event_id"])
    m = t2.merge(reduced, batch_id="b0", delta_reduced=True)
    assert m["skipped"] is False
    assert state(t1) == state(t2) == {"a": "A3", "c": "C1"}
    # tombstone for 'b' is present in both (blocks resurrection)
    assert t1.read(include_deleted=True, include_system=True).filter("_deleted").count() == 1
    assert t2.read(include_deleted=True, include_system=True).filter("_deleted").count() == 1


def test_read_buckets_under_global_overlay_still_prunes_base(spark, tmp_path):
    """With a global overlay present, a bucket-pruned read must open ONLY
    the wanted buckets' base files plus the (small) overlay files — other
    buckets' base files stay unopened (checked via inputFiles)."""
    t = LakeTable.create(
        spark, str(tmp_path / "pr"), PAGES, key_cols="url", order_col="warc_ts", num_buckets=4
    )
    rows = [(i, "I", f"u{i}", 1, f"X{i}") for i in range(40)]
    t.merge(ev(spark, rows), batch_id="b0")
    t.compact_deltas()  # bucketed base, one file per bucket
    t.merge(ev(spark, [(100, "U", "u1", 2, "X1b")]), batch_id="b1", overlay="global")

    snap = t.snapshot
    base = {f.bucket: f.path for f in snap.files if f.bucket >= 0}
    overlay_paths = {f.path for f in snap.files if f.bucket == -1}
    assert len(base) == 4 and overlay_paths

    wanted = 2
    opened = {p.split(str(tmp_path / "pr") + "/")[-1] for p in t.read_buckets([wanted]).inputFiles()}
    assert base[wanted] in opened
    assert overlay_paths <= opened  # overlays overlap everything: scanned (but filtered)
    for b, path in base.items():
        if b != wanted:
            assert path not in opened  # untouched base never opened


LOOKUP_KEY_SHAPES = {
    "string": [("k", "string")],
    "int": [("k", "int")],
    "long": [("k", "long")],
    "composite": [("a", "string"), ("b", "int")],
}


@pytest.mark.parametrize("shape", sorted(LOOKUP_KEY_SHAPES))
def test_lookup_matches_filtered_read_property(spark, tmp_path, shape):
    """On a table mixing bucketed base files, a global overlay and
    tombstones, lookup(keys) returns exactly read() filtered to those keys;
    and the job-free literal bucket of every key equals _bucket_expr over a
    typed DataFrame — murmur3(int) != murmur3(long), so a key literal
    hashed at the wrong width would look in the wrong bucket."""
    import itertools

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    key_cols = LOOKUP_KEY_SHAPES[shape]
    names = [c for c, _ in key_cols]
    key_ddl = ", ".join(f"{c} {t}" for c, t in key_cols)
    ints = st.integers(-(2**31), 2**31 - 1)
    key_st = {
        "string": st.text(max_size=6),
        "int": ints,
        "long": st.integers(-(2**63), 2**63 - 1),
        "composite": st.tuples(st.text(max_size=3), ints),
    }[shape]
    n = itertools.count()

    def row(key):
        return key if isinstance(key, tuple) else (key,)

    @settings(max_examples=3, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(data=st.data())
    def check(data):
        keys = data.draw(st.lists(key_st, min_size=1, max_size=12, unique=True))
        t = LakeTable.create(
            spark, str(tmp_path / f"lk{next(n)}"), key_cols + [("v", "string"), ("seq", "long")],
            key_cols=names, order_col="seq", num_buckets=4,
        )
        ddl = key_ddl + ", v string, seq long, op string"
        base = [row(k) + (f"b{i}", 1, "I") for i, k in enumerate(keys)]
        t.merge(spark.createDataFrame(base, ddl), batch_id="b0")
        t.compact_deltas()
        # every third key updated, every third (offset 1) deleted, the rest
        # left in base only
        over = [
            row(k) + (f"o{i}", 2, "UD"[i % 3]) for i, k in enumerate(keys) if i % 3 < 2
        ]
        t.merge(spark.createDataFrame(over, ddl), batch_id="b1")
        snap = t.snapshot
        assert {f.bucket == -1 for f in snap.files} == {True, False}

        probe = data.draw(st.lists(st.sampled_from(keys), max_size=6))
        probe += data.draw(st.lists(key_st, max_size=3))
        probe_df = spark.createDataFrame([row(k) for k in probe], key_ddl)
        got = sorted(tuple(r) for r in t.lookup(probe).collect())
        want = sorted(tuple(r) for r in t.read().join(probe_df, names, "semi").collect())
        assert got == want

        typed = [r[0] for r in probe_df.select(t._bucket_expr(snap)).collect()]
        assert t._literal_buckets(snap, t._key_literals(snap, probe)) == typed

    check()
