"""Output checks: every run's final lake state is compared with an oracle
that shares no code with the engine.

- apply workloads: a DuckDB one-shot last-writer-wins over the staged feed
  (url -> winning lsn), and byte-identical ``text`` on a deterministic key
  sample against a frozen copy of the html->text kernel;
- pull_sync: each table against the upstream state at the last cycle,
  computed by the upstream generator itself.
"""

from __future__ import annotations

import html as _htmllib
import re

import duckdb

# Frozen copy of patuha_etl_dlt_spark.functions.html.extract_text_bytes as
# of the benchmark's first version. It stays here unchanged as the oracle a
# faster kernel must match byte for byte.
_RE_SCRIPT = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_RE_COMMENT = re.compile(rb"(?s)<!--.*?-->")
_RE_TAG = re.compile(rb"(?s)<[^>]*>")
_RE_WS = re.compile(r"\s+")


def frozen_extract_text(b: bytes | None) -> str | None:
    if b is None:
        return None
    raw = _RE_TAG.sub(b" ", _RE_COMMENT.sub(b" ", _RE_SCRIPT.sub(b" ", bytes(b))))
    s = raw.decode("utf-8", errors="replace")
    s = _htmllib.unescape(s)
    return _RE_WS.sub(" ", s).strip()


TEXT_SAMPLE = 64


def _winners_sql(feed_dir: str, max_lsn: int) -> str:
    return f"""
        SELECT url, lsn, op, html FROM (
            SELECT url, lsn, op, html, row_number() OVER (
                PARTITION BY url
                ORDER BY coalesce(warc_ts, TIMESTAMP '1970-01-01') DESC, lsn DESC
            ) AS rn
            FROM read_parquet('{feed_dir}/*.parquet')
            WHERE lsn <= {int(max_lsn)}
        ) WHERE rn = 1 AND upper(op) <> 'D'
    """


def check_apply(table, feed_dir: str, max_lsn: int) -> list[str]:
    """Compare the lake table's live state with the one-shot LWW oracle
    over feed events ``lsn <= max_lsn``. Returns mismatch descriptions."""
    from pyspark.sql import functions as F

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        want = dict(con.execute(f"SELECT url, lsn FROM ({_winners_sql(feed_dir, max_lsn)})").fetchall())
        urls = sorted(want)
        step = max(1, len(urls) // TEXT_SAMPLE)
        sample = urls[::step][:TEXT_SAMPLE]
        html = dict(
            con.execute(
                f"SELECT url, html FROM ({_winners_sql(feed_dir, max_lsn)}) WHERE url IN ("
                + ",".join("?" * len(sample))
                + ")",
                sample,
            ).fetchall()
        ) if sample else {}
    finally:
        con.close()

    live = table.read(include_system=True)
    got = {r[0]: r[1] for r in live.select("url", "_event_id").collect()}
    problems = check_rows("state", got, want)
    texts = {
        r[0]: r[1] for r in live.filter(F.col("url").isin(sample)).select("url", "text").collect()
    }
    bad = [u for u in sample if texts.get(u) != frozen_extract_text(html[u])]
    if bad:
        problems.append(f"text: {len(bad)}/{len(sample)} sampled pages differ, e.g. {bad[0]}")
    return problems


def check_rows(name: str, got: dict, want: dict) -> list[str]:
    """Compare key -> value-tuple maps of one table."""
    if got == want:
        return []
    missing = len(want.keys() - got.keys())
    extra = len(got.keys() - want.keys())
    wrong = sum(1 for k in want.keys() & got.keys() if want[k] != got[k])
    return [f"{name}: {missing} missing, {extra} extra, {wrong} wrong rows"]
