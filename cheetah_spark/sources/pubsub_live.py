"""Pub/Sub source/sink — the reference wishlist's #5 connector
(reference README.md:301-311 "Source / Destination Wishlist: pubsub"),
built on the PUBLIC Google Cloud Pub/Sub REST API (cloud.google.com/
pubsub/docs/reference/rest — the same JSON-over-HTTP surface the
official Pub/Sub emulator serves): ``topics:publish``,
``subscriptions:pull``, ``subscriptions:acknowledge``, with base64
message data, attributes, server-assigned message ids, ack-id leases,
and subscription FILTERS (``attributes.key = "value"`` per the public
filter syntax), spoken over stdlib ``urllib``/``http.server``.

Transports, the redis_live/nats_live/amqp_live discipline:

- ``transport="http"`` — REAL Pub/Sub REST calls over HTTP.
  :class:`PubSubClient` issues the documented requests verbatim
  (create topic/subscription, ``:publish`` → ``messageIds``,
  ``:pull`` → ``receivedMessages`` with ``ackId`` leases,
  ``:acknowledge``); :class:`MiniPubSubServer` is a loopback server
  the conformance tests run against (``ThreadingHTTPServer``,
  per-subscription message queues, ack-deadline lease expiry with
  REDELIVERY, attribute-equality filters) — the official emulator (or
  the real service, plus auth) accepts the identical requests.
- ``transport="replay"`` — a deterministic NDJSON capture (schema:
  ``message_id, attributes, data`` with attributes as a canonical
  JSON string) delivered in bounded chunks per micro-batch through
  the same envelope, batch or streaming.

Rows surface as ``message_id string, attributes string, data string``.
Pub/Sub is at-least-once: the seq-window reader fires ``:acknowledge``
per ack-id on checkpoint commit (reference kawa T4 ackFn semantics,
processor.go:101-118), and the service redelivers leases that expire
unacked — so the lost-window policy after a reader restart is the MQTT
QoS≥1 / AMQP one: warn and rely on redelivery rather than fail.
"""

from __future__ import annotations

import base64
import http.server
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.sinks import Sink, write_transport
from cheetah_spark.sources import Source
from cheetah_spark.sources.seqwindow import (
    AckHandle,
    LiveDataSource,
    SeqWindowStreamReader,
    load_stream,
)

PUBSUB_SCHEMA = "message_id string, attributes string, data string"


# ---------------------------------------------------------------------------
# Subscription filters (public syntax subset: attribute equality,
# AND-conjunction — cloud.google.com/pubsub/docs/subscription-message-filter)
# ---------------------------------------------------------------------------


def parse_filter(expr: str) -> list:
    """``attributes.k = "v" AND attributes.k2 = "v2"`` → [(k, v), ...].
    The public filter grammar is larger (OR, NOT, hasPrefix); this
    connector implements the equality-conjunction subset and rejects
    the rest loudly rather than mis-filtering."""
    import re as _re

    if not expr or not expr.strip():
        return []
    clauses = []
    for part in _re.split(r"\s+AND\s+", expr.strip()):
        m = _re.fullmatch(r'attributes\.([\w.-]+)\s*=\s*"([^"]*)"', part.strip())
        if not m:
            raise ValueError(
                f"pubsub: unsupported filter clause {part!r} — this connector "
                'implements the attributes.key = "value" [AND ...] subset'
            )
        clauses.append((m.group(1), m.group(2)))
    return clauses


def filter_matches(clauses: list, attributes: dict) -> bool:
    return all(attributes.get(k) == v for k, v in clauses)


def filter_match_col(expr: str):
    """The same filter as a Catalyst predicate over the canonical
    attributes-JSON column (no Python UDF)."""
    clauses = parse_filter(expr)
    cond = F.lit(True)
    for k, v in clauses:
        cond = cond & (F.get_json_object("attributes", f"$.{k}") == F.lit(v))
    return cond


def _canon_attrs(attributes: dict) -> str:
    """Canonical (sorted-key, no-space) JSON so the attributes column
    hash-compares stably between transports and the oracle."""
    return json.dumps(attributes or {}, sort_keys=True, separators=(",", ":"))


# ---------------------------------------------------------------------------
# Loopback server (conformance stand-in — the official emulator serves the
# same REST surface)
# ---------------------------------------------------------------------------


class _Subscription:
    def __init__(self, topic: str, ack_deadline_s: float, filter_expr: str):
        self.topic = topic
        self.ack_deadline_s = ack_deadline_s
        self.filter_clauses = parse_filter(filter_expr)
        self.queue: list[dict] = []  # undelivered messages
        self.leased: dict[str, tuple[float, dict]] = {}  # ackId -> (expiry, message)


class MiniPubSubServer:
    """Loopback Pub/Sub REST server: topics, subscriptions (with
    attribute-equality filters), ``:publish`` fan-out,``:pull`` with
    ack-id leases, ``:acknowledge``, and REDELIVERY of leases that
    expire unacked (the at-least-once contract ack-on-commit relies
    on)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length") or 0)
                raw = self.rfile.read(n) if n else b""
                return json.loads(raw) if raw else {}

            def do_PUT(self):
                try:
                    self._reply(200, outer._handle_put(self.path, self._body()))
                except KeyError as exc:
                    self._reply(404, {"error": {"code": 404, "message": str(exc)}})
                except ValueError as exc:
                    self._reply(400, {"error": {"code": 400, "message": str(exc)}})

            def do_POST(self):
                try:
                    self._reply(200, outer._handle_post(self.path, self._body()))
                except KeyError as exc:
                    self._reply(404, {"error": {"code": 404, "message": str(exc)}})
                except ValueError as exc:
                    self._reply(400, {"error": {"code": 400, "message": str(exc)}})

        self._httpd = http.server.ThreadingHTTPServer((host, port), Handler)
        self.addr = "%s:%d" % self._httpd.server_address
        self._lock = threading.Lock()
        self._topics: dict[str, list[str]] = {}  # topic path -> subscription paths
        self._subs: dict[str, _Subscription] = {}
        self._next_mid = itertools.count(1)
        self._next_ack = itertools.count(1)
        threading.Thread(target=self._httpd.serve_forever, daemon=True).start()

    # -- REST dispatch -------------------------------------------------------
    def _handle_put(self, path: str, body: dict) -> dict:
        # PUT /v1/projects/{p}/topics/{t} | /v1/projects/{p}/subscriptions/{s}
        name = path[len("/v1/") :]
        if "/topics/" in name:
            with self._lock:
                self._topics.setdefault(name, [])
            return {"name": name}
        if "/subscriptions/" in name:
            topic = body.get("topic") or ""
            with self._lock:
                if topic not in self._topics:
                    raise KeyError(f"topic not found: {topic}")
                sub = _Subscription(
                    topic,
                    float(body.get("ackDeadlineSeconds") or 10),
                    body.get("filter") or "",
                )
                self._subs[name] = sub
                self._topics[topic].append(name)
            return {"name": name, "topic": topic}
        raise ValueError(f"unknown resource {path}")

    def _handle_post(self, path: str, body: dict) -> dict:
        if path.endswith(":publish"):
            topic = path[len("/v1/") : -len(":publish")]
            return self._publish(topic, body.get("messages") or [])
        if path.endswith(":pull"):
            sub = path[len("/v1/") : -len(":pull")]
            return self._pull(sub, int(body.get("maxMessages") or 10))
        if path.endswith(":acknowledge"):
            sub = path[len("/v1/") : -len(":acknowledge")]
            return self._acknowledge(sub, body.get("ackIds") or [])
        raise ValueError(f"unknown method {path}")

    def _publish(self, topic: str, messages: list) -> dict:
        with self._lock:
            if topic not in self._topics:
                raise KeyError(f"topic not found: {topic}")
            mids = []
            for m in messages:
                mid = str(next(self._next_mid))
                mids.append(mid)
                attrs = m.get("attributes") or {}
                rec = {
                    "data": m.get("data") or "",
                    "attributes": attrs,
                    "messageId": mid,
                    "publishTime": "1970-01-01T00:00:00Z",
                }
                for sname in self._topics[topic]:
                    sub = self._subs[sname]
                    if filter_matches(sub.filter_clauses, attrs):
                        sub.queue.append(rec)
        return {"messageIds": mids}

    def _pull(self, sname: str, max_messages: int) -> dict:
        now = time.monotonic()
        with self._lock:
            sub = self._subs.get(sname)
            if sub is None:
                raise KeyError(f"subscription not found: {sname}")
            # expired leases go back to the front of the queue (redelivery)
            expired = [aid for aid, (exp, _) in sub.leased.items() if exp <= now]
            for aid in expired:
                _, msg = sub.leased.pop(aid)
                sub.queue.insert(0, msg)
            out = []
            while sub.queue and len(out) < max_messages:
                msg = sub.queue.pop(0)
                aid = f"ack-{next(self._next_ack)}"
                sub.leased[aid] = (now + sub.ack_deadline_s, msg)
                out.append({"ackId": aid, "message": msg})
        return {"receivedMessages": out}

    def _acknowledge(self, sname: str, ack_ids: list) -> dict:
        with self._lock:
            sub = self._subs.get(sname)
            if sub is None:
                raise KeyError(f"subscription not found: {sname}")
            for aid in ack_ids:
                sub.leased.pop(aid, None)
        return {}

    # -- introspection for tests ----------------------------------------------
    def leased_count(self, sname: str) -> int:
        with self._lock:
            return len(self._subs[sname].leased)

    def queued_count(self, sname: str) -> int:
        with self._lock:
            return len(self._subs[sname].queue)

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


# ---------------------------------------------------------------------------
# Client (stdlib urllib)
# ---------------------------------------------------------------------------


class PubSubClient:
    """Minimal Pub/Sub REST client. ``addr`` is the emulator-style
    ``host:port``; a real endpoint additionally needs an OAuth bearer
    token, which the loopback/emulator surface does not check."""

    def __init__(self, addr: str, project: str = "p"):
        self._base = f"http://{addr}/v1"
        self.project = project

    def _call(self, method: str, path: str, body: Optional[dict] = None) -> dict:
        data = json.dumps(body or {}).encode()
        req = urllib.request.Request(
            f"{self._base}/{path}",
            data=data,
            method=method,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read() or b"{}")

    def topic_path(self, topic: str) -> str:
        return f"projects/{self.project}/topics/{topic}"

    def sub_path(self, sub: str) -> str:
        return f"projects/{self.project}/subscriptions/{sub}"

    def create_topic(self, topic: str) -> dict:
        return self._call("PUT", self.topic_path(topic))

    def create_subscription(
        self, sub: str, topic: str, ack_deadline_s: int = 10, filter_expr: str = ""
    ) -> dict:
        body: dict = {
            "topic": self.topic_path(topic),
            "ackDeadlineSeconds": ack_deadline_s,
        }
        if filter_expr:
            body["filter"] = filter_expr
        return self._call("PUT", self.sub_path(sub), body)

    def publish(self, topic: str, messages: list) -> list:
        """messages: [{"data": str|bytes, "attributes": {...}}] →
        messageIds. Data is base64-wrapped per the REST contract."""
        enc = []
        for m in messages:
            d = m.get("data") or b""
            if isinstance(d, str):
                d = d.encode("utf-8")
            enc.append(
                {
                    "data": base64.b64encode(d).decode("ascii"),
                    "attributes": m.get("attributes") or {},
                }
            )
        out = self._call("POST", f"{self.topic_path(topic)}:publish", {"messages": enc})
        return out.get("messageIds") or []

    def pull(self, sub: str, max_messages: int = 100) -> list:
        """→ [(ackId, message_id, attributes:dict, data:str)]."""
        out = self._call(
            "POST", f"{self.sub_path(sub)}:pull", {"maxMessages": max_messages}
        )
        recs = []
        for rm in out.get("receivedMessages") or []:
            msg = rm["message"]
            data = base64.b64decode(msg.get("data") or "").decode("utf-8")
            recs.append((rm["ackId"], msg["messageId"], msg.get("attributes") or {}, data))
        return recs

    def acknowledge(self, sub: str, ack_ids: list) -> None:
        if ack_ids:
            self._call("POST", f"{self.sub_path(sub)}:acknowledge", {"ackIds": ack_ids})

    def close(self) -> None:
        pass  # one HTTP request per call: no connection to close


# ---------------------------------------------------------------------------
# Source config + streaming reader (seq-window core)
# ---------------------------------------------------------------------------


@dataclass
class PubSubSource(Source):
    """Config type ``{"type":"pubsub","addr":...,"project":...,
    "subscription":...}``."""

    addr: str = ""
    project: str = "p"
    subscription: str = "sub"
    filter: str = ""  # replay-side narrowing (the public filter subset)
    poll_ms: int = 100
    max_messages: int = 500
    transport: str = "http"  # http | replay
    capture_path: str = ""
    chunk_size: int = 0
    streaming: bool = True

    def read(self, spark: SparkSession) -> DataFrame:
        if not self.streaming:
            # batch is only meaningful over a capture: a subscription
            # backlog drains on pull+ack; there is no stable history to
            # snapshot (Seek/retention need explicit service config)
            if self.transport.lower() != "replay":
                raise ValueError(
                    "pubsub: batch reads need transport='replay' — a "
                    "subscription backlog drains on pull; use a capture"
                )
            env = spark.read.schema(PUBSUB_SCHEMA).json(self.capture_path)
            if self.filter:
                env = env.where(filter_match_col(self.filter))
            return env
        return load_stream(spark, PubSubStreamDataSource, self)


class _PubSubSimpleStreamReader(SeqWindowStreamReader):
    """Seq-window reader over ``:pull`` polling / replay capture. Items
    are ``(ack_id, message_id, attributes, data)``. Acks:
    ``:acknowledge`` per ack-id fires on checkpoint commit (reference
    kawa T4 ackFn); a lost replay window warns and relies on
    lease-expiry redelivery (the MQTT QoS>=1 / AMQP policy)."""

    NAME = "pubsub"
    SOURCE = PubSubSource

    def _connect(self) -> PubSubClient:
        return PubSubClient(self._src.addr, self._src.project)

    def _poll(self, client: PubSubClient):
        recs = client.pull(self._src.subscription, self._src.max_messages)
        if not recs:
            time.sleep(self._src.poll_ms / 1000.0)
        return [(ack_id, mid, _canon_attrs(attrs), data) for ack_id, mid, attrs, data in recs]

    def _replay_item(self, rec: dict) -> tuple:
        # replay: nothing to ack
        return None, rec["message_id"], rec["attributes"], rec["data"]

    def _row_of(self, item: tuple) -> tuple:
        return item[1:]

    def _ack_of(self, item, seq: int, listener):
        ack_id = item[0]
        if ack_id is None:
            return None
        return AckHandle(listener.client.acknowledge, self._src.subscription, [ack_id])

    def _on_lost_window(self, start_seq: int, end_seq: int) -> None:
        import warnings

        warnings.warn(
            f"pubsub: replay window [{start_seq},{end_seq}) lost after restart; "
            "messages in it were never acked — their leases expire and the "
            "service redelivers them (at-least-once)",
            stacklevel=2,
        )


class PubSubStreamDataSource(LiveDataSource):
    """``spark.readStream.format("cheetah-pubsub")`` — a Pub/Sub
    subscription as a Python streaming data source."""

    NAME, SCHEMA, READER = "cheetah-pubsub", PUBSUB_SCHEMA, _PubSubSimpleStreamReader


# ---------------------------------------------------------------------------
# Sink adapter (config type)
# ---------------------------------------------------------------------------


@dataclass
class PubSubSink(Sink):
    """``:publish`` every row (``attributes, data`` — a missing data
    column defaults to a JSON struct of the row). Batched per the REST
    contract (one :publish per ``batch_size`` rows) per partition;
    replay transport appends the NDJSON capture the source reads."""

    addr: str = ""
    project: str = "p"
    topic: str = "out"
    batch_size: int = 100
    transport: str = "http"  # http | replay
    capture_path: str = ""
    checkpoint: Optional[str] = None
    trigger: Optional[dict] = None

    def write(self, df: DataFrame):
        cols = set(df.columns)
        mid_col = F.col("message_id") if "message_id" in cols else F.lit("")
        attrs_col = F.col("attributes") if "attributes" in cols else F.lit("{}")
        data_col = (
            F.col("data")
            if "data" in cols
            else F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        )
        out = df.select(
            mid_col.alias("message_id"),
            attrs_col.alias("attributes"),
            data_col.alias("data"),
        )
        addr, project, topic, bsz = self.addr, self.project, self.topic, self.batch_size

        def send(rows):
            client = PubSubClient(addr, project)
            batch = []
            for r in rows:
                batch.append(
                    {"data": r.data, "attributes": json.loads(r.attributes or "{}")}
                )
                if len(batch) >= bsz:
                    client.publish(topic, batch)
                    batch = []
            if batch:
                client.publish(topic, batch)

        return write_transport(
            out, self.transport, "http", "pubsub", self.capture_path, send,
            self.checkpoint, self.trigger,
        )
