"""Webhook destination semantics over a loopback HTTP receiver
(reference ``runreveal`` destination, README.md:244-250).

Unlike the other network edges, HTTP is fully runnable here: the
conformance query stands up a real stdlib HTTP server on 127.0.0.1,
delivers an events projection through :class:`WebhookSink` (executor
partitions POSTing NDJSON chunks with retry/backoff), then reads the
receiver's spool back with Spark and rolls it up. The DuckDB oracle
computes the same rollup straight from the events table — so the hash
gate proves END-TO-END delivery completeness: serialize → POST →
receive → parse → aggregate loses or corrupts nothing.

The rollup is deliberately batch-boundary-free and duplicate-tolerant
(DISTINCT ids, min/max, distinct-id checksum): the sink's contract is
at-least-once with nondeterministic chunking, so any batch-dependent
output would be untestable — and a real receiver dedups on an id
field anyway. Delivery happens once per fixture dir (the capture
pattern); re-runs read the spool.
"""

from __future__ import annotations

import http.server
import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.functions import text as X
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag

_MOD = 1_000_000_007


class SpoolReceiver:
    """Minimal NDJSON webhook endpoint: each POST body is appended to
    the spool directory as one file; optionally fails the first
    ``fail_first`` requests with 503 (retry-path conformance). Thread
    -per-request so 32 executor partitions can deliver concurrently."""

    def __init__(self, spool_dir: str, fail_first: int = 0):
        os.makedirs(spool_dir, exist_ok=True)
        self.spool_dir = spool_dir
        self.n_requests = 0
        self._fail_remaining = fail_first
        self._lock = threading.Lock()
        receiver = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 - stdlib API name
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                with receiver._lock:
                    receiver.n_requests += 1
                    n = receiver.n_requests
                    if receiver._fail_remaining > 0:
                        receiver._fail_remaining -= 1
                        self.send_response(503)
                        self.end_headers()
                        return
                with open(os.path.join(receiver.spool_dir, f"req_{n:06d}.ndjson"), "wb") as fh:
                    fh.write(body)
                self.send_response(200)
                self.end_headers()

            def log_message(self, *args):  # quiet
                pass

        self._httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}/"

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def webhook_spool_dir(spark: SparkSession, sf_dir: str) -> str:
    """Deliver (once) the error-events projection through WebhookSink
    to a loopback receiver; return the receiver's spool directory."""
    from cheetah_spark.sinks import WebhookSink

    def build(out: str) -> None:
        recv = SpoolReceiver(out)
        try:
            e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "error")
            payload = e.select("event_id", "user_id", "event_type")
            WebhookSink(webhook_url=recv.url, batch_size=100).write(payload)
        finally:
            recv.close()

    return derived_dir(
        f"{_tag(sf_dir)}/webhook_spool",
        [table_path(sf_dir, "events")],
        build,
        helpers=(WebhookSink,),
    )


def webhook_stream_spool_dir(spark: SparkSession, sf_dir: str) -> str:
    """Deliver (once) the same error-events projection through the
    STREAMING path — events replay feed → foreachBatch → partition
    POSTs, availableNow — to its own loopback receiver."""
    from cheetah_spark.sinks import WebhookSink
    from cheetah_spark.sources import ParquetSource
    from cheetah_spark.streaming import events_stream_dir

    src_dir = events_stream_dir(spark, sf_dir)

    def build(out: str) -> None:
        recv = SpoolReceiver(out)
        try:
            stream = ParquetSource(
                src_dir, streaming=True, max_files_per_trigger=2
            ).read(spark)
            payload = stream.where(F.col("event_type") == "error").select(
                "event_id", "user_id", "event_type"
            )
            q = WebhookSink(
                webhook_url=recv.url,
                batch_size=100,
                checkpoint=f"{out}/_checkpoint",
            ).write(payload)
            try:
                # awaitTermination returns False on timeout WITHOUT
                # raising — falling through would pin an incomplete
                # spool behind the ready flag forever (r8 self-review)
                if not q.awaitTermination(300):
                    raise TimeoutError(
                        "webhook stream fixture did not drain within 300s; "
                        "spool left unmarked for retry"
                    )
            finally:
                q.stop()
        finally:
            recv.close()

    return derived_dir(
        f"{_tag(sf_dir)}/webhook_stream_spool", [src_dir], build, helpers=(WebhookSink,)
    )


def _spool_rollup(got: DataFrame) -> DataFrame:
    d = got.select("event_id", "user_id").distinct()
    return d.agg(
        F.count("*").cast("bigint").alias("n_delivered"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        (
            F.sum((X.hash56(F.col("event_id").cast("string")) % _MOD).cast("decimal(38,0)"))
            % _MOD
        )
        .cast("bigint")
        .alias("id_checksum"),
    )


_WEBHOOK_ORACLE = f"""
    WITH got AS (
        SELECT DISTINCT event_id, user_id FROM events WHERE event_type = 'error'
    )
    SELECT COUNT(*)::BIGINT AS n_delivered,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id,
           COUNT(DISTINCT user_id)::BIGINT AS n_users,
           CAST(SUM(CAST(({X.oracle_hash56("CAST(event_id AS VARCHAR)")}) % {_MOD}
                    AS DECIMAL(38,0))) % {_MOD} AS BIGINT) AS id_checksum
    FROM got
"""


@register(
    "s_webhook_live",
    oracle=_WEBHOOK_ORACLE,
    tags=("webhook", "streaming", "sink", "delivery"),
)
def s_webhook_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING webhook delivery under the hash gate: the events
    replay feed runs through foreachBatch → per-partition NDJSON POSTs
    to a real loopback receiver across multiple micro-batches
    (availableNow), each batch acking only after its POSTs succeed;
    the received spool must roll up to exactly the source projection.
    The duplicate-tolerant rollup (DISTINCT ids) keeps the contract
    honest for at-least-once semantics — a batch retry after a
    delivered-but-unacked POST may double-send, never lose."""
    spool = webhook_stream_spool_dir(spark, sf_dir)
    return _spool_rollup(spark.read.json(f"{spool}/req_*.ndjson"))


@register(
    "q_webhook_sink_batches",
    oracle=_WEBHOOK_ORACLE,
    tags=("webhook", "sink", "delivery"),
)
def q_webhook_sink_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back what the webhook receiver actually got and prove it is
    exactly the error-events projection that was sent: distinct-id
    count, id range, distinct users, and a modular checksum over the
    delivered ids. The oracle computes the same from the source table —
    any dropped chunk, truncated body, or corrupted row breaks the
    hash."""
    spool = webhook_spool_dir(spark, sf_dir)
    return _spool_rollup(spark.read.json(f"{spool}/req_*.ndjson"))
