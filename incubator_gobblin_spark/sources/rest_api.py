"""Generic REST-API batch source: paged fetch, watermark predicates,
per-task rate limiting, bounded retries — the RestApiExtractor family.

Reference:
- RestApiExtractor (gobblin-core
  .../source/extractor/extract/restapi/RestApiExtractor.java:61):
  builds the extract query with watermark predicates, then iterates
  paged responses until the connector reports exhaustion.
- RestApiConnector (.../restapi/RestApiConnector.java:66): connection +
  auth + request execution with retry.
- SalesforceExtractor (gobblin-salesforce
  .../SalesforceExtractor.java:94): paging via batch fetch and PK
  chunking — the same "split the watermark/id range into independent
  chunks" planning this module does driver-side.

Spark-first decomposition:
- The DRIVER plans workunits: the watermark interval splits into N
  half-open (lo, hi] chunks (the Partitioner analogue) — each chunk is
  one Spark input partition, fetched independently.
- EXECUTORS fetch pages inside ``mapInPandas``: an Arrow-batched stage
  (never row-at-a-time) that loops the endpoint's paged responses,
  rate-limited by a per-task TokenBucket and retried with backoff.
  Records cross as JSON strings; ``from_json`` with the declared schema
  turns them into typed columns, so everything downstream is a normal
  DataFrame.
- At 100 TB-pipeline scale the fetch stage is embarrassingly parallel
  (one task per chunk, no shuffle); aggregate request rate =
  rate_per_sec x concurrent tasks, the same sizing arithmetic as
  ThrottleWriter.

The endpoint is pluggable: production supplies an HTTP client;
offline tests (this container has no network) use
:class:`FileBackedRestEndpoint`, a deterministic double that serves
paged, watermark-filtered JSON out of a parquet file — the same
file-backed-double pattern as ``sources/mock_kafka.py``.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_gobblin_spark.operators.watermark import WatermarkInterval
from incubator_gobblin_spark.sources.manifest_import import is_committed

__all__ = [
    "RestApiSource",
    "FileBackedRestEndpoint",
    "FlakyEndpoint",
    "read_rest",
    "read_rest_pk_chunked",
    "ingest_rest_incremental",
    "AuthExpiredError",
    "TokenExpiringEndpoint",
    "AuthenticatingEndpoint",
]


@dataclass
class RestApiSource:
    """Declarative source config (the .pull-file surface of
    ``source.querybased.*`` + ``extract.*`` for a REST extractor)."""

    resource: str
    schema: str  # DDL string for from_json, e.g. "id long, ts timestamp"
    wm_column: str
    page_size: int = 1000
    rate_per_sec: float = 50.0  # per task; cluster rate = this x tasks
    max_retries: int = 3
    retry_backoff_sec: float = 0.05
    # "cursor" (default): each request passes after=<last order-key>,
    # the keyset-pagination every serious API exposes (Salesforce
    # queryMore, link-header cursors) — O(page) server work per
    # request. "offset": OFFSET/LIMIT paging for APIs that only offer
    # it — the server re-scans O(offset) rows per page, so a deep
    # resource costs O(n^2/page) server work; keep pages large there.
    # Cursor mode requires order_by to be a unique, totally-ordered
    # column (an id); duplicates at a page boundary would be skipped.
    paging: str = "cursor"


class FileBackedRestEndpoint:
    """Offline REST endpoint double, file-backed like the mock Kafka
    broker: each resource is a parquet file; ``fetch`` serves one page
    of JSON records ordered by the resource's id-ish ordering column,
    filtered to the low-exclusive / high-inclusive watermark range.

    Picklable by construction (holds only paths), so it ships into
    executor tasks inside the mapInPandas closure. Queries run through
    DuckDB per call — stateless, no cross-process handles.
    """

    def __init__(self, resources: dict[str, str], order_by: str | None = None):
        self.resources = dict(resources)
        self.order_by = order_by

    def _rel(self, resource: str) -> str:
        if resource not in self.resources:
            raise KeyError(f"unknown resource: {resource}")
        return self.resources[resource]

    def fetch(self, resource: str, params: dict[str, Any]) -> dict[str, Any]:
        """One page: params = {wm_column?, low?, high?, offset, limit,
        order_by}. Returns {"records_json": [str, ...], "next_after":
        last order-key} — raw JSON bodies plus a next-page cursor, the
        shape a real REST API serves (link-header / queryMore cursors);
        the extractor passes the JSON through untouched instead of the
        old parse-to-dict/re-serialize round trip. Endpoints may
        alternatively return {"records": [dict, ...]} (the v1 contract,
        still accepted by every consumer)."""
        import duckdb

        path = self._rel(resource)
        def _lit(v: Any) -> str:
            s = str(v)
            try:
                int(s)
                return s
            except ValueError:
                pass
            try:
                datetime.fromisoformat(s)
                return f"TIMESTAMP '{s}'"
            except ValueError:
                # string keys (Salesforce 18-char ids): ordinary varchar
                escaped = s.replace("'", "''")
                return f"'{escaped}'"

        conds = []
        wm = params.get("wm_column")
        if wm and params.get("low") is not None:
            conds.append(f"{wm} > {_lit(params['low'])}")
        if wm and params.get("high") is not None:
            conds.append(f"{wm} <= {_lit(params['high'])}")
        order = params.get("order_by") or self.order_by
        if not order:
            raise ValueError("paged fetch requires a deterministic order_by")
        if params.get("after") is not None:
            # keyset pagination: O(page) work per request — the server
            # seeks past the cursor instead of re-scanning the offset
            conds.append(f"{order} > {_lit(params['after'])}")
            page_clause = f"LIMIT {int(params['limit'])}"
        else:
            page_clause = (
                f"LIMIT {int(params['limit'])} OFFSET {int(params.get('offset', 0))}"
            )
        where = f"WHERE {' AND '.join(conds)}" if conds else ""
        sql = (
            f"SELECT to_json(t) FROM (SELECT * FROM '{path}' {where} "
            f"ORDER BY {order} {page_clause}) t"
        )
        records = [r[0] for r in duckdb.sql(sql).fetchall()]
        next_after = None
        if records:
            import json as _json

            next_after = _json.loads(records[-1]).get(order)
        return {"records_json": records, "next_after": next_after}

    def high_watermark(self, resource: str, wm_column: str) -> Any:
        """Current max watermark at the source (the API-side query a
        real connector issues to bound an incremental run)."""
        import duckdb

        val = duckdb.sql(
            f"SELECT max({wm_column}) FROM '{self._rel(resource)}'"
        ).fetchone()[0]
        return val

    def pk_bounds(self, resource: str, pk_column: str, chunk_size: int) -> list:
        """Every ``chunk_size``-th primary-key value in key order — the
        chunk boundaries Salesforce's "PK chunking" header makes the
        server compute. Boundary k is the pk of row k*chunk_size, so
        every (boundary, next-boundary] range holds exactly chunk_size
        rows regardless of how sparse or skewed the key space is."""
        import duckdb

        rows = duckdb.sql(
            f"SELECT {pk_column} FROM ("
            f"  SELECT {pk_column}, row_number() OVER (ORDER BY {pk_column}) AS rn"
            f"  FROM '{self._rel(resource)}')"
            f" WHERE rn % {int(chunk_size)} = 0 ORDER BY {pk_column}"
        ).fetchall()
        return [r[0] for r in rows]


class AuthExpiredError(ConnectionError):
    """The endpoint rejected the current credential (the 401 case)."""


class TokenExpiringEndpoint:
    """Endpoint double whose access tokens expire after ``ttl_requests``
    fetches — the Salesforce-style session-token lifecycle. Token state
    lives in files under ``state_dir`` (O_EXCL-free: single-writer per
    wrapper, tokens only compared) so it shares across executor
    processes like the other doubles."""

    def __init__(self, inner: Any, state_dir: str, ttl_requests: int = 3):
        self.inner = inner
        self.state_dir = state_dir
        self.ttl = int(ttl_requests)

    def _paths(self):
        import os

        os.makedirs(self.state_dir, exist_ok=True)
        return (
            os.path.join(self.state_dir, "token"),
            os.path.join(self.state_dir, "uses"),
        )

    def issue_token(self) -> str:
        """The token endpoint: mint a fresh credential."""
        import os
        import uuid

        tok_p, uses_p = self._paths()
        tok = uuid.uuid4().hex
        with open(tok_p + ".tmp", "w") as fh:
            fh.write(tok)
        os.replace(tok_p + ".tmp", tok_p)
        with open(uses_p + ".tmp", "w") as fh:
            fh.write("0")
        os.replace(uses_p + ".tmp", uses_p)
        return tok

    def fetch(self, resource: str, params: dict[str, Any]) -> dict[str, Any]:
        import os

        tok_p, uses_p = self._paths()
        tok = params.get("auth_token")
        if (
            not tok
            or not os.path.exists(tok_p)
            or open(tok_p).read() != tok
        ):
            raise AuthExpiredError("invalid or expired token")
        uses = int(open(uses_p).read()) + 1
        if uses > self.ttl:
            os.unlink(tok_p)  # token burns out mid-session
            raise AuthExpiredError("token ttl exhausted")
        with open(uses_p + ".tmp", "w") as fh:
            fh.write(str(uses))
        os.replace(uses_p + ".tmp", uses_p)
        return self.inner.fetch(resource, params)

    def high_watermark(self, resource: str, wm_column: str) -> Any:
        return self.inner.high_watermark(resource, wm_column)


class AuthenticatingEndpoint:
    """Connection-layer auth wrapper — the RestApiConnector contract
    (gobblin-core .../restapi/RestApiConnector.java:66: the CONNECTOR
    owns getAccessToken/refresh; extractors never see a 401). Wraps
    any endpoint whose ``fetch`` raises :class:`AuthExpiredError`:
    acquires a token lazily, stamps it into every request, and on
    expiry refreshes ONCE and replays the same request — a refresh is
    not a page retry, so it never consumes the extractor's bounded
    retry budget, and the replayed request is identical, so no page is
    skipped or double-served."""

    def __init__(self, inner: Any):
        self.inner = inner
        self._token: str | None = None
        self.refreshes = 0

    def _ensure(self) -> str:
        if self._token is None:
            self._token = self.inner.issue_token()
            self.refreshes += 1
        return self._token

    def fetch(self, resource: str, params: dict[str, Any]) -> dict[str, Any]:
        p = dict(params)
        p["auth_token"] = self._ensure()
        try:
            return self.inner.fetch(resource, p)
        except AuthExpiredError:
            self._token = None
            p["auth_token"] = self._ensure()
            return self.inner.fetch(resource, p)

    def high_watermark(self, resource: str, wm_column: str) -> Any:
        return self.inner.high_watermark(resource, wm_column)


@dataclass
class FlakyEndpoint:
    """Failure-injection wrapper for tests: the first ``fail_first``
    calls for each distinct (resource, offset) raise — exercising the
    extractor's bounded-retry path without double-serving any page."""

    inner: Any
    fail_first: int = 1
    _seen: dict = field(default_factory=dict)

    def fetch(self, resource: str, params: dict[str, Any]) -> dict[str, Any]:
        key = (resource, params.get("low"), params.get("offset"), params.get("after"))
        n = self._seen.get(key, 0)
        self._seen[key] = n + 1
        if n < self.fail_first:
            raise ConnectionError(f"injected failure #{n + 1} for {key}")
        return self.inner.fetch(resource, params)

    def high_watermark(self, resource: str, wm_column: str) -> Any:
        return self.inner.high_watermark(resource, wm_column)


def _split_units(
    interval: WatermarkInterval, num_partitions: int
) -> list[tuple[str | None, str | None]]:
    """Half-open (lo, hi] workunit bounds as ISO/int strings (or a
    single unbounded unit when the interval is open)."""
    low, high = interval.low, interval.high
    if low is None or high is None or num_partitions <= 1:
        fmt = lambda v: v.isoformat() if isinstance(v, datetime) else (
            None if v is None else str(v)
        )
        return [(fmt(low), fmt(high))]
    if isinstance(low, datetime):
        span = high - low
        bounds = [low + span * i / num_partitions for i in range(num_partitions)]
        bounds.append(high)
        return [
            (bounds[i].isoformat(), bounds[i + 1].isoformat())
            for i in range(num_partitions)
            if bounds[i] != bounds[i + 1]
        ]
    lo, hi = int(low), int(high)
    bounds = [lo + (hi - lo) * i // num_partitions for i in range(num_partitions)]
    bounds.append(hi)
    return [
        (str(bounds[i]), str(bounds[i + 1]))
        for i in range(num_partitions)
        if bounds[i] != bounds[i + 1]
    ]


def read_rest(
    spark: SparkSession,
    source: RestApiSource,
    endpoint: Any,
    interval: WatermarkInterval,
    num_partitions: int = 4,
    order_by: str | None = None,
) -> DataFrame:
    """Fetch ``source.resource`` through ``endpoint`` for the watermark
    interval, as a typed DataFrame.

    Plan shape: one fetch task per workunit (no shuffle; the JSON decode
    and everything after it is plain Catalyst). Each task pages until a
    short page signals exhaustion, acquiring one token per request and
    retrying failed requests ``max_retries`` times with linear backoff
    (RestApiConnector's retry contract — a page is only yielded once,
    so retries cannot duplicate records)."""
    # the fetch closure imports package modules (TokenBucket) on the
    # executor — ship the package zip once so workers can import it
    # regardless of the driver's cwd (same deployment as mock_kafka)
    units = _split_units(interval, num_partitions)
    # effective paging order: explicit caller choice, else the
    # endpoint's own declared order (rest.source.order.by reaches the
    # fetch THROUGH this — params['order_by'] always wins inside
    # endpoint.fetch), else the watermark column. Cursor mode needs the
    # order key unique — ties AT a page boundary under a non-unique
    # watermark would be skipped; pass order_by (or paging='offset')
    # for tie-heavy watermarks.
    order = order_by or getattr(endpoint, "order_by", None) or source.wm_column
    return _read_units(spark, source, endpoint, units, source.wm_column, order)


def read_rest_pk_chunked(
    spark: SparkSession,
    source: RestApiSource,
    endpoint: Any,
    pk_column: str,
    chunk_size: int = 100_000,
) -> DataFrame:
    """Salesforce-style PK-chunked fetch (SalesforceExtractor.java:94,
    the ``Sforce-Enable-PKChunking`` planning shape): the endpoint
    computes chunk boundaries — every ``chunk_size``-th primary key in
    key order — and each (boundary, next-boundary] range becomes one
    independent workunit fetched in parallel.

    Use this instead of watermark tiling when the time column is
    skewed (bulk backfills pile into one interval) or absent: equal
    ROW-count chunks give equal task work by construction, the same
    reason the reference reaches for PK chunking on large Salesforce
    objects. The fetch machinery (paging, rate limit, retries) is
    byte-identical to :func:`read_rest` — only the planner differs."""
    bounds = endpoint.pk_bounds(source.resource, pk_column, int(chunk_size))
    # a resource smaller than chunk_size yields no boundaries — the
    # edge list still produces ONE open (None, None] chunk covering the
    # whole table, never zero workunits
    edges: list = [None, *[str(b) for b in bounds], None]
    units = [(edges[i], edges[i + 1]) for i in range(len(edges) - 1)]
    return _read_units(spark, source, endpoint, units, pk_column, pk_column)


def _read_units(
    spark: SparkSession,
    source: RestApiSource,
    endpoint: Any,
    units: list[tuple[str | None, str | None]],
    filter_column: str,
    order: str,
) -> DataFrame:
    """Shared fetch core: one mapInPandas task per (lo, hi] workunit,
    each paging the endpoint under a per-task TokenBucket with bounded
    retries. ``filter_column`` is the half-open range predicate column
    (the watermark for read_rest, the primary key for PK chunking)."""
    # the fetch closure imports package modules (TokenBucket) on the
    # executor — ship the package zip once so workers can import it
    # regardless of the driver's cwd (same deployment as mock_kafka)
    from incubator_gobblin_spark.sources.mock_kafka import _ship_package

    _ship_package(spark)
    if not units:
        # an empty interval (low == high tiles to nothing) reads as an
        # empty typed frame, not a repartition(0) crash
        return (
            spark.createDataFrame([], "json string")
            .select(F.from_json(F.col("json"), source.schema).alias("r"))
            .select("r.*")
        )
    unit_df = spark.createDataFrame(
        units, "lo string, hi string"
    ).repartition(len(units))
    resource = source.resource
    wm_column = filter_column
    page_size = int(source.page_size)
    rate = float(source.rate_per_sec)
    max_retries = int(source.max_retries)
    backoff = float(source.retry_backoff_sec)
    paging = source.paging
    if paging not in ("cursor", "offset"):
        raise ValueError(f"unknown paging mode: {paging!r}")

    def fetch(batches) -> Iterator:
        import pandas as pd

        from incubator_gobblin_spark.operators.throttle import TokenBucket

        bucket = TokenBucket(rate_per_sec=rate, burst=rate)
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                offset = 0
                after = None
                while True:
                    bucket.acquire(1.0)
                    params = {
                        "wm_column": wm_column,
                        "low": lo,
                        "high": hi,
                        "limit": page_size,
                        "order_by": order,
                    }
                    if paging == "cursor" and after is not None:
                        params["after"] = after
                    elif paging == "offset":
                        params["offset"] = offset
                    attempt = 0
                    while True:
                        try:
                            page = endpoint.fetch(resource, params)
                            break
                        except Exception:
                            attempt += 1
                            if attempt > max_retries:
                                raise
                            time.sleep(backoff * attempt)
                    if "records_json" in page:
                        # raw JSON pass-through (the v2 contract): no
                        # parse/re-serialize — bodies flow straight to
                        # from_json, the cursor comes pre-extracted
                        recs = page["records_json"]
                        if recs:
                            yield pd.DataFrame({"json": recs})
                            after = page.get("next_after")
                            if after is None:
                                after = json.loads(recs[-1]).get(order)
                    else:
                        recs = page["records"]
                        if recs:
                            yield pd.DataFrame(
                                {"json": [json.dumps(r, default=str) for r in recs]}
                            )
                            after = recs[-1].get(order)
                    if len(recs) < page_size:
                        break
                    if paging == "cursor" and after is None:
                        # a full page whose records lack the order key
                        # would re-fetch page 1 forever
                        raise ValueError(
                            f"cursor paging needs {order!r} present in "
                            "every record (endpoint omitted it)"
                        )
                    offset += len(recs)

    raw = unit_df.mapInPandas(fetch, "json string")
    return raw.select(
        F.from_json(F.col("json"), source.schema).alias("r")
    ).select("r.*")


def ingest_rest_incremental(
    spark: SparkSession,
    source: RestApiSource,
    endpoint: Any,
    sink,
    store,
    *,
    table: str | None = None,
    num_partitions: int = 4,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    order_by: str | None = None,
) -> dict[str, Any]:
    """One incremental run of the QueryBasedSource watermark loop over a
    REST endpoint: low = committed state, high = the endpoint's current
    max watermark; publish to a manifest-mode sink under a run id
    derived from the LOW watermark; then commit the new high watermark.
    Mirrors jobs/kafka_ingest.ingest_kafka_batch.

    Idempotent replay: the run id is keyed on (table, low). A crash
    between publish and state commit leaves that run committed, and a
    committed run is never republished (the manifest sink makes that
    publish a no-op). The replay therefore first finishes the crashed
    run's state commit at the highest watermark that run actually
    published, read back from its committed snapshot (that replay
    returns the committed run), and then ingests the rest — the rows
    the source GREW by in between — as the next run, so the overlap is
    never double-appended or lost."""
    import hashlib

    from incubator_gobblin_spark.state import TableState

    if getattr(sink, "commit_mode", None) != "manifest":
        raise ValueError(
            "exactly-once REST ingestion requires a manifest-mode sink"
        )
    table = table or f"rest:{source.resource}"
    wm = source.wm_column
    st = store.get(table)
    low = st.high_watermark

    def run_id_for(low) -> str:
        return "rest-" + hashlib.md5(f"{table}|{low}".encode()).hexdigest()[:16]

    run_id = run_id_for(low)
    high = endpoint.high_watermark(source.resource, wm)
    if is_committed(sink.path, run_id):
        done = sink.read_committed(
            spark,
            as_of_run=run_id,
            filters=None if low is None else [(wm, ">", low)],
        )
        reached = done.agg(F.max(wm)).first()[0]
        if reached is None:
            raise RuntimeError(
                f"run {run_id!r} is committed but holds no {wm!r} value above "
                f"{low!r} (did transform drop every row?): the watermark it "
                "reached is unknown — re-baseline the table state"
            )
        store.commit(
            table,
            TableState(high_watermark=reached, last_run_id=run_id, extra=st.extra),
        )
        if high is None or high <= reached:
            return {"published": True, "low": low, "high": reached, "run_id": run_id}
        low, run_id = reached, run_id_for(reached)
    if high is None or (low is not None and high <= low):
        return {"published": False, "low": low, "high": high}
    df = read_rest(
        spark,
        source,
        endpoint,
        WatermarkInterval(wm, low, high),
        num_partitions=num_partitions,
        order_by=order_by,
    )
    if transform is not None:
        df = transform(df)
    sink.write_staging(df, run_id)
    sink.publish(run_id)
    store.commit(
        table, TableState(high_watermark=high, last_run_id=run_id, extra=st.extra)
    )
    return {"published": True, "low": low, "high": high, "run_id": run_id}
