"""Seeded change-event feed for apply_pages, staged as parquet.

Events follow the engine's envelope (``cdc.envelope.event_struct``) and the
page layout of ``sources.feedgen``: ~130 B paragraphs with entities, a
script and a style block and a comment, so html->text has the same work per
byte. The benchmark writes the feed itself: the program only receives the
generated inputs, and staging costs no Spark job.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_S = 1_767_225_600  # 2026-01-01 UTC
N_PARTITIONS = 32
N_FILES = 8  # file f holds the feed partitions p with p % N_FILES == f
HOT_URLS = 0.01  # share of urls that are hot
P_INSERT, P_DELETE = 0.2, 0.1  # the rest are updates
LANGS = ("en", "de", "fr", "id")

SCHEMA = pa.schema([
    pa.field("lsn", pa.int64(), nullable=False),
    pa.field("op", pa.string(), nullable=False),
    pa.field("url", pa.string()),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
    pa.field("partition_id", pa.int32(), nullable=False),
    pa.field("schema_json", pa.string()),
])


def page_html(url: str, lsn: int, link: int, paragraphs: int) -> bytes:
    body = "".join(
        f'<p class="c{j}">rev&nbsp;{lsn} &amp; content {(lsn * 7919 + j * 104729) % 100000}'
        f" <b>bold</b> <a href='/x{(link + j) % 997}'>link text here</a> tail of paragraph {j}</p>"
        for j in range(paragraphs)
    )
    return (
        f"<html><head><title>{url} r{lsn}</title><script>var x=1;</script>"
        f"<style>p{{margin:0}}</style></head><body><h1>Page {url}</h1>{body}"
        "<!-- c --></body></html>"
    ).encode()


def write_feed(
    path: str,
    seed: int,
    n_events: int,
    n_urls: int,
    hot_share: float,
    paragraphs: int,
    descriptor: str,
) -> tuple[list[str], np.ndarray]:
    """Write ``n_events`` events (lsn 0..n_events-1) under ``path`` and return
    each event's url and whether it is a live (non-delete) event.
    ``hot_share`` of the events land on 1% of the urls; event time is lsn
    seconds after the epoch with ±5 s jitter, so events arrive out of order.
    Each file is in lsn order with small row groups, so a poll of an lsn range
    reads a slice of every file, as a consumer polls every log partition."""
    rng = np.random.default_rng(seed)
    n_hot = max(1, int(n_urls * HOT_URLS))
    hot = rng.random(n_events) < hot_share
    hot_idx = rng.integers(0, n_hot, n_events)
    idx = np.where(hot, hot_idx, rng.integers(n_hot, max(n_hot + 1, n_urls), n_events))
    pick = rng.random(n_events)
    ops = np.where(pick < P_INSERT, "I", np.where(pick < 1 - P_DELETE, "U", "D"))
    lsn = np.arange(n_events, dtype=np.int64)
    ts = (EPOCH_S + lsn + rng.integers(-5, 6, n_events)) * 1_000_000
    links = rng.integers(0, 997, n_events)
    urls = [f"https://site{i % 97}.example/page/{i}" for i in idx]
    live = ops != "D"
    html = [
        page_html(u, int(l), int(k), paragraphs) if a else None
        for u, l, k, a in zip(urls, lsn, links, live)
    ]
    table = pa.table(
        {
            "lsn": lsn,
            "op": ops,
            "url": urls,
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.nulls(n_events, pa.string()),
            "lang": [LANGS[i % 4] if a else None for i, a in zip(idx, live)],
            "partition_id": (lsn % N_PARTITIONS).astype(np.int32),
            "schema_json": [descriptor] * n_events,
        },
        schema=SCHEMA,
    )
    part = (lsn % N_PARTITIONS) % N_FILES
    for f in range(N_FILES):
        pq.write_table(table.filter(pa.array(part == f)), f"{path}/part-{f}.parquet", row_group_size=500)
    return urls, live
