"""HTTP KML feed source — the reference's fetch stage (task.ts:66-90)
as a PySpark Python DataSource (Spark 4 Python Data Source API).

Layout follows the reference's execution shape:
  * every share is fetched concurrently, as the reference's Promise.all
    does (task.ts:177,66-68), but through a bounded thread pool
    (``fetch_shares``, at most FETCH_THREADS requests in flight) inside
    a few contiguous chunks: one InputPartition per chunk, never more
    chunks than the session's parallelism, so the Python task count is
    bounded by cores rather than by the share count;
  * the 30-minute lookback is pushed INTO the request as the d1 query
    param (server-side filter, task.ts:80-82) — predicate pushdown at
    the source, not a post-scan filter;
  * optional Basic auth with empty username (":password" base64,
    task.ts:85-87);
  * feed-granular error isolation: a failing fetch yields an error row
    (body NULL, error populated) rather than failing the job
    (task.ts:165-168; SURVEY.md §2.3.7).

The source emits RAW (share_id, body, error, fetched_at) rows; parsing
stays in sources/kml.py so the same code path serves fixtures, batch
and streaming. Tests use file:// URLs — no live network.

Register + use:
    spark.dataSource.register(KMLFeedDataSource)
    spark.read.format("kml_feed").option("shares", json.dumps([...])).load()
"""

from __future__ import annotations

import base64
import json
from collections.abc import Iterator, Sequence
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StringType, StructField, StructType

from etl_inreach_spark.session import default_parallelism

FEED_SCHEMA = StructType(
    [
        StructField("share_id", StringType(), False),
        StructField("body", StringType(), True),
        StructField("error", StringType(), True),
        StructField("fetched_at", StringType(), True),
    ]
)

DEFAULT_BASE = "https://share.garmin.com/Feed/Share/"

# Requests one fetch_shares call keeps in flight; a batch read makes one
# partition per FETCH_THREADS shares, up to the session's parallelism.
FETCH_THREADS = 16


def _utc_iso_ms(dt: datetime) -> str:
    """Date.toISOString() shape: milliseconds + 'Z' (task.ts:80-82)."""
    return dt.astimezone(timezone.utc).isoformat(timespec="milliseconds").replace(
        "+00:00", "Z"
    )


def build_feed_url(base: str, share_id: str, d1_iso: str | None) -> str:
    url = f"{base}{share_id}"
    if d1_iso is not None:
        from urllib.parse import quote

        # percent-encode: a raw '+' in an ISO offset would decode as a
        # SPACE server-side and silently break the lookback filter
        sep = "&" if "?" in url else "?"
        url = f"{url}{sep}d1={quote(d1_iso, safe='')}"
    return url


def fetch_one(
    share_id: str,
    base: str,
    password: str | None,
    d1_iso: str | None,
) -> tuple[str, str | None, str | None, str]:
    """Fetch a single share feed. Never raises — errors come back as
    data (feed-granular isolation). Logs one line per request and per
    failure, executor-side (reference O23: task.ts:76,166)."""
    import logging
    import urllib.request

    log = logging.getLogger("etl_inreach_spark.feeds")
    url = build_feed_url(base, share_id, d1_iso)
    log.info("ok - requesting %s", share_id)
    req = urllib.request.Request(url)
    if password:
        # ":password" — empty username, exactly the reference's header
        # (task.ts:85-87)
        token = base64.b64encode(f":{password}".encode()).decode()
        req.add_header("Authorization", f"Basic {token}")
    now = datetime.now(timezone.utc).isoformat()
    try:
        with urllib.request.urlopen(req, timeout=30.0) as resp:
            return share_id, resp.read().decode("utf-8", errors="replace"), None, now
    except Exception as e:  # noqa: BLE001 — isolation is the contract
        log.warning("feed %s failed: %s", share_id, e)
        return share_id, None, f"{type(e).__name__}: {e}", now


def fetch_shares(shares: Sequence[dict], base: str, d1_iso: str | None) -> Iterator[tuple]:
    """``fetch_one`` rows for ``shares``, in input order, with at most
    FETCH_THREADS requests in flight. Each share still fails on its own
    as an error row: ``fetch_one`` never raises."""
    with ThreadPoolExecutor(max_workers=FETCH_THREADS) as pool:
        yield from pool.map(
            lambda s: fetch_one(s["share_id"], base, s.get("password"), d1_iso), shares
        )


class _ShareChunk(InputPartition):
    def __init__(self, shares: Sequence[dict]):
        self.shares = shares


class KMLFeedReader(DataSourceReader):
    def __init__(self, options: dict):
        self.shares: Sequence[dict] = json.loads(options.get("shares", "[]"))
        self.base = options.get("base_url", DEFAULT_BASE)
        self.lookback_minutes = int(options.get("lookback_minutes", "30"))
        # pin d1 at planning time so every partition queries the same
        # window (the reference computes one d1 per run, task.ts:80-82)
        if options.get("d1"):
            self.d1 = options["d1"]
        elif self.lookback_minutes > 0:
            self.d1 = _utc_iso_ms(
                datetime.now(timezone.utc) - timedelta(minutes=self.lookback_minutes)
            )
        else:
            self.d1 = None

    def partitions(self) -> Sequence[InputPartition]:
        # min(parallelism, ceil(n / FETCH_THREADS)) contiguous chunks:
        # a Python task costs ~0.1 s of CPU whatever it fetches, and one
        # chunk's thread pool already overlaps FETCH_THREADS requests
        n = len(self.shares)
        chunks = min(default_parallelism(), -(-n // FETCH_THREADS))
        return [
            _ShareChunk(self.shares[i * n // chunks : (i + 1) * n // chunks])
            for i in range(chunks)
        ]

    def read(self, partition: _ShareChunk) -> Iterator[tuple]:
        yield from fetch_shares(partition.shares, self.base, self.d1)


class KMLFeedStreamReader(SimpleDataSourceStreamReader):
    """Poll-based streaming form: each micro-batch is ONE fetch round
    over every share — exactly the reference's scheduled-invocation
    loop (task.ts:32: one Lambda run per Schedule tick) as a
    Structured Streaming source. The offset is the poll counter. The
    round runs on the driver through ``fetch_shares``: the requests
    overlap, so a slow share no longer delays every share behind it.

    Replay semantics: a live HTTP feed cannot be re-fetched
    identically, so ``readBetweenOffsets`` returns nothing — delivery
    is at-least-once ACROSS restarts, and the downstream watermark
    dedup (streaming/pipeline.py) absorbs re-polled overlap, matching
    the reference's tolerance for re-fetched windows (the d1 lookback
    re-reads 30 minutes every run)."""

    def __init__(self, options: dict):
        self.shares: Sequence[dict] = json.loads(options.get("shares", "[]"))
        self.base = options.get("base_url", DEFAULT_BASE)
        self.lookback_minutes = int(options.get("lookback_minutes", "30"))

    def initialOffset(self) -> dict:
        return {"poll": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        d1 = (
            _utc_iso_ms(datetime.now(timezone.utc) - timedelta(minutes=self.lookback_minutes))
            if self.lookback_minutes > 0
            else None
        )
        rows = list(fetch_shares(self.shares, self.base, d1))
        return iter(rows), {"poll": int(start["poll"]) + 1}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(())


class KMLFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kml_feed"

    def schema(self) -> StructType:
        return FEED_SCHEMA

    def reader(self, schema: StructType) -> KMLFeedReader:
        return KMLFeedReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> KMLFeedStreamReader:
        return KMLFeedStreamReader(self.options)
