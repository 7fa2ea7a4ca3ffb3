"""Live MQTT broker transport (reference S3/D3, x/mqtt/mqtt.go) on the
PySpark Python Data Source API.

The replay adapters (``MqttReplaySource``/``MqttReplaySink``) carry the
*semantics* — wildcard filters, QoS downgrade, retained flags, the
Message envelope — over a recorded capture. This module carries the
*transport*: a real broker client wired into Structured Streaming as a
custom streaming data source (``spark.readStream.format("cheetah-mqtt")``)
and a per-partition publisher sink.

Transport is pluggable because the sandbox has no broker and no
``paho-mqtt`` wheel:

- ``transport=paho`` — the production path. Builds an Eclipse Paho
  client (the Python sibling of the reference's
  ``github.com/eclipse/paho.mqtt.golang`` import, mqtt.go:10) with the
  same option surface: broker, client_id, topic filter (default ``#``),
  QoS (default 1), retained, keep_alive, username/password
  (mqtt.go:14-103). Import-gated: constructing it without the paho
  wheel raises ImportError naming ``paho-mqtt``; everything up to the
  socket — option validation, offset bookkeeping, ack-on-commit — is
  the same code the replay transport exercises in tests.
- ``transport=replay`` — a deterministic broker stand-in that delivers
  an NDJSON capture (the ``MqttReplaySource.CAPTURE_SCHEMA`` layout)
  through the *identical* client interface, applying broker-side
  wildcard matching, and records acks/publishes to NDJSON logs so
  tests can assert the at-least-once contract from outside the
  streaming subprocess.

Delivery contract (reference parity):

- Subscribe-side manual ack: a message is acked only when the reader's
  ``commit(offset)`` fires — i.e. after the micro-batch that contains
  it has been durably committed by the sink. That is the reference's
  ack-after-sink closure (mqtt.go:212-225 hands ``message.Ack`` to the
  processor; processor.go:109-115 fires it post-Send) mapped onto the
  checkpoint offset commit (T4).
- Connection loss is fatal: the reference pushes the lost-connection
  error onto ``errc`` and ``Run`` returns it (mqtt.go:112-114,156-165);
  here the next ``read()`` raises and the StreamingQuery fails with a
  ``StreamingQueryException`` — same "crash, restart from offsets"
  posture.
- Publish waits for the broker token per batch (mqtt.go:167-176):
  the sink drains each partition's rows through ``publish().wait()``
  before the batch commits.

Scale notes (100 TB): the subscribe side is inherently a single
consumer per (client_id, filter) — MQTT has no consumer groups — so
the source is a low-volume control/ingest edge, not a bulk-scan path;
Spark fans the envelope rows out to executors immediately after
admission. The publish side scales per-partition: each executor
partition opens its own client (``foreachPartition``), so sink
throughput grows with parallelism, bounded by the broker.
"""

from __future__ import annotations

import json
import re
import threading
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from cheetah_spark.sinks import Sink, send_partitions
from cheetah_spark.sources import Source, mqtt_filter_regex
from cheetah_spark.sources.seqwindow import (
    LiveDataSource,
    ReplayPump,
    SeqWindowStreamReader,
    capture_lines,
    load_stream,
)


@dataclass
class MqttOpts:
    """The reference's option surface (mqtt.go:14-103), same defaults:
    topic ``#``, QoS 1, retained false."""

    broker: str = ""
    client_id: str = ""
    topic: str = "#"
    qos: int = 1
    retained: bool = False
    keep_alive: float = 30.0
    username: str = ""
    password: str = ""

    def validate_connect(self) -> None:
        # parity: clientConnect's precondition errors (mqtt.go:126-131)
        if not self.broker:
            raise ValueError("mqtt: missing broker")
        if not self.client_id:
            raise ValueError("mqtt: missing clientID")


class MqttMessage:
    """One delivered message — the subset of the paho message surface
    the reader needs (payload/topic/mid/qos/retain + manual ack)."""

    __slots__ = ("topic", "payload", "mid", "qos", "retained", "_ack")

    def __init__(self, topic, payload, mid, qos, retained, ack=None):
        self.topic = topic
        self.payload = payload
        self.mid = mid
        self.qos = qos
        self.retained = retained
        self._ack = ack

    def ack(self) -> None:
        if self._ack is not None:
            self._ack(self)


class PahoClientFactory:
    """Production transport: builds a connected Eclipse Paho client.

    Import-gated — the sandbox ships no ``paho-mqtt`` wheel, so the
    import error is raised lazily with an actionable message. All
    option plumbing mirrors clientConnect (mqtt.go:125-154)."""

    def __call__(self, opts: MqttOpts, on_message, on_connection_lost):
        """``on_message=None`` builds a PUBLISH-ONLY client: no
        subscription (a sink subscribing to its own publish topic would
        echo every message back to every publisher and, with manual
        ack, fill the broker's QoS1 in-flight window) and no manual-ack
        mode."""
        try:
            import paho.mqtt.client as paho  # type: ignore
        except ImportError as exc:  # pragma: no cover - no wheel in sandbox
            raise ImportError(
                "mqtt transport=paho requires the 'paho-mqtt' package "
                "(pip install paho-mqtt); use transport=replay for "
                "broker-less capture replay"
            ) from exc

        opts.validate_connect()
        client = paho.Client(
            callback_api_version=paho.CallbackAPIVersion.VERSION2,
            client_id=opts.client_id,
            # ack-after-sink: commit() fires the acks (subscribe side only)
            manual_ack=on_message is not None,
        )
        if opts.username:
            client.username_pw_set(opts.username, opts.password or None)

        def _on_disconnect(_c, _ud, _flags, rc, _props=None):
            if rc != 0:
                on_connection_lost(Exception(f"mqtt connection lost: rc={rc}"))

        if on_message is not None:

            def _on_message(_c, _ud, m):  # paho → transport-neutral envelope
                on_message(
                    MqttMessage(
                        m.topic, bytes(m.payload), m.mid, m.qos, m.retain,
                        ack=lambda msg: client.ack(msg.mid, msg.qos),
                    )
                )

            client.on_message = _on_message
        client.on_disconnect = _on_disconnect
        host, _, port = opts.broker.partition(":")
        client.connect(host, int(port) if port else 1883, int(opts.keep_alive))
        if on_message is not None:
            client.subscribe(opts.topic, opts.qos)
        client.loop_start()
        return _PahoAdapter(client)


class _PahoAdapter:
    def __init__(self, client):
        self._client = client
        self.connected = True

    def publish(self, topic, payload, qos, retained):
        # blocking token wait — Send's contract (mqtt.go:167-176)
        info = self._client.publish(topic, payload, qos, retained)
        info.wait_for_publish()

    def close(self):
        self._client.loop_stop()
        self._client.disconnect()


@dataclass
class ReplayClientFactory:
    """Broker stand-in: delivers an NDJSON capture through the same
    client interface the paho transport uses, applying BROKER-side
    wildcard subscription matching (MQTT-3.1.1 §4.7 — the broker, not
    the client, evaluates the filter) and the §3.8.4 QoS downgrade.

    Side-effect logs (NDJSON, one record per event) make the
    at-least-once contract observable from outside the streaming
    subprocess: ``ack_log`` records each ack as ``{"mid": ...}``
    in commit order; ``publish_log`` records each publish. Both are
    append-opened so multiple partitions/batches interleave safely on
    a local filesystem."""

    capture_path: str = ""
    ack_log: str = ""
    publish_log: str = ""
    fail_connect: bool = False
    drop_connection_after: int = -1  # deliver N then signal conn-lost
    chunk_size: int = 0  # 0 = deliver everything at connect

    def __call__(self, opts: MqttOpts, on_message, on_connection_lost):
        if self.fail_connect:
            # parity: connect token error (mqtt.go:149-151)
            raise ConnectionError(f"mqtt connect error: {opts.broker or 'broker down'}")
        adapter = _ReplayAdapter(self)
        adapter._client_id = opts.client_id  # logged with publishes (tests)
        if not self.capture_path:  # publish-only client: nothing to deliver
            return adapter
        pat = re.compile(mqtt_filter_regex(opts.topic))

        def messages():
            delivered = 0
            for mid, line in enumerate(capture_lines(self.capture_path, (".json",))):
                rec = json.loads(line)
                if not pat.match(rec["topic"]):
                    continue  # broker-side filter: non-matching never leaves the broker
                if 0 <= self.drop_connection_after <= delivered:
                    adapter.connected = False
                    on_connection_lost(Exception("mqtt connection lost: simulated"))
                    return
                yield MqttMessage(
                    rec["topic"],
                    rec["payload"].encode(),
                    mid,
                    min(int(rec.get("qos", 0)), opts.qos),  # §3.8.4 downgrade
                    bool(rec.get("retained", False)),
                    ack=adapter._log_ack,
                )
                delivered += 1

        # the reader pumps one chunk per micro-batch (a live push
        # transport has no pump; the reader feature-detects)
        adapter.pump = ReplayPump(messages(), self.chunk_size, on_message).pump
        return adapter


class _ReplayAdapter:
    def __init__(self, factory: ReplayClientFactory):
        self._factory = factory
        self.connected = True
        self._lock = threading.Lock()

    def _append(self, log_path: str, rec: dict):
        if not log_path:
            return
        with self._lock, open(log_path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")

    def _log_ack(self, msg: MqttMessage):
        self._append(self._factory.ack_log, {"mid": msg.mid, "topic": msg.topic})

    def publish(self, topic, payload, qos, retained):
        self._append(
            self._factory.publish_log,
            {
                "topic": topic,
                "payload": payload.decode() if isinstance(payload, (bytes, bytearray)) else str(payload),
                "qos": qos,
                "retained": retained,
                "client_id": getattr(self, "_client_id", ""),
            },
        )

    def close(self):
        self.connected = False


# Envelope columns the source emits — the Message[T] shape
# (types.go:10-26) + delivery metadata, matching MqttReplaySource.
MQTT_STREAM_SCHEMA = (
    "key string, value binary, topic string, attributes map<string,string>"
)


@dataclass
class MqttLiveSource(Source):
    """Source adapter over the cheetah-mqtt stream format (S3).

    ``transport="paho"`` needs a reachable broker + the paho wheel;
    ``transport="replay"`` replays a capture through the same reader,
    ack path included."""

    broker: str = ""
    client_id: str = ""
    topic: str = "#"
    qos: int = 1
    username: str = ""
    password: str = ""
    keep_alive: float = 30.0
    transport: str = "paho"
    capture_path: str = ""
    ack_log: str = ""
    drop_connection_after: int = -1
    fail_connect: bool = False
    chunk_size: int = 0
    streaming: bool = True

    def read(self, spark: SparkSession) -> DataFrame:
        return load_stream(spark, MqttStreamDataSource, self)


class _MqttSimpleStreamReader(SeqWindowStreamReader):
    """Driver-side reader on the shared
    :class:`~cheetah_spark.sources.seqwindow.SeqWindowStreamReader`
    core: buffers pushed messages, serves them as seq-numbered
    micro-batch slices, acks on commit.

    Offsets are ``{"seq": n}`` — the count of messages admitted so
    far. ``commit(end)`` fires the manual acks for every message below
    ``end`` — at-least-once, ack-after-sink (T4): an unacked QoS≥1
    message is redelivered by the broker on reconnect. The lost-window
    policy is QoS-aware (see ``_on_lost_window``)."""

    NAME = "mqtt"
    SOURCE = MqttLiveSource

    def _opts(self) -> MqttOpts:
        src = self._src
        return MqttOpts(
            broker=src.broker,
            client_id=src.client_id,
            topic=src.topic,
            qos=src.qos,
            keep_alive=src.keep_alive,
            username=src.username,
            password=src.password,
        )

    def _validate(self) -> None:
        super()._validate()
        if self._src.transport.lower() == "paho":
            self._opts().validate_connect()

    def _make_listener(self):
        src = self._src
        if src.transport.lower() == "paho":
            factory: Callable = PahoClientFactory()
        else:
            factory = ReplayClientFactory(
                capture_path=src.capture_path,
                ack_log=src.ack_log,
                fail_connect=src.fail_connect,
                drop_connection_after=src.drop_connection_after,
                chunk_size=src.chunk_size,
            )
        return factory(self._opts(), self._on_item, self._on_error)

    def _row_of(self, msg: MqttMessage) -> tuple:
        return (
            str(msg.mid),
            bytes(msg.payload),
            msg.topic,
            {"qos": str(msg.qos), "retained": str(msg.retained).lower()},
        )

    def _ack_of(self, msg: MqttMessage, seq: int, listener):
        return msg  # MqttMessage carries its own ack closure

    def _on_lost_window(self, start_seq: int, end_seq: int) -> None:
        # The replay window lives in this reader process's memory, so a
        # driver restart loses it. For QoS>=1 the unacked messages come
        # back via broker redelivery (at-least-once holds); at QoS 0
        # there is no redelivery, so committing this empty range is
        # silent data loss — fail the query instead of hiding it, and
        # make the QoS>=1 reliance on redelivery visible in the log.
        if int(self._src.qos) == 0:
            raise RuntimeError(
                f"mqtt: replay window lost for offsets [{start_seq},{end_seq}) "
                "after restart and qos=0 has no broker redelivery — rows are "
                "unrecoverable; use qos>=1 for at-least-once recovery"
            )
        import warnings

        warnings.warn(
            f"mqtt: replay window lost for offsets [{start_seq},{end_seq}) "
            f"({end_seq - start_seq} rows) — relying on broker QoS>=1 redelivery "
            "of unacked messages for delivery",
            RuntimeWarning,
            stacklevel=2,
        )


class MqttStreamDataSource(LiveDataSource):
    """``spark.readStream.format("cheetah-mqtt")`` — the subscribe half
    of the reference's MQTT connector (mqtt.Source, mqtt.go:178-251) as
    a Python streaming data source."""

    NAME, SCHEMA, READER = "cheetah-mqtt", MQTT_STREAM_SCHEMA, _MqttSimpleStreamReader


@dataclass
class MqttLiveSink(Sink):
    """Publish half (mqtt.Destination, mqtt.go:105-176): every row's
    ``payload_col`` goes to ONE fixed topic with the sink's QoS and
    retained flag, waiting on each publish token.

    Scale shape: ``foreachPartition`` — one client per executor
    partition, rows published from where they already live; no
    collect-to-driver. The factory (and its options) must therefore be
    picklable, which both transports are."""

    broker: str = ""
    client_id: str = ""
    topic: str = "out"
    qos: int = 1
    retained: bool = False
    # credentials + keep-alive: the reference's canonical MQTT config
    # uses the same keys for sources AND destinations (README.md:
    # 204-217 — userName/password/keepAlive, aliased in config.py), so
    # the publish path must accept and forward them too
    username: str = ""
    password: str = ""
    keep_alive: float = 30.0
    payload_col: str = "value"
    transport: str = "paho"
    publish_log: str = ""
    fail_connect: bool = False
    checkpoint: Optional[str] = None
    trigger: Optional[dict] = None

    def _publisher(self):
        opts = MqttOpts(
            broker=self.broker,
            client_id=self.client_id,
            topic=self.topic,
            qos=self.qos,
            retained=self.retained,
            username=self.username,
            password=self.password,
            keep_alive=self.keep_alive,
        )
        if self.transport == "paho":
            opts.validate_connect()
            factory: Callable = PahoClientFactory()
        else:
            factory = ReplayClientFactory(
                publish_log=self.publish_log, fail_connect=self.fail_connect
            )
        topic, qos, retained, col = self.topic, self.qos, self.retained, self.payload_col

        def publish_partition(rows):
            import dataclasses
            import uuid as _uuid

            client = None
            try:
                for row in rows:
                    if client is None:  # connect lazily: empty partitions open nothing
                        # unique per-partition client id: MQTT-3.1.4-2 —
                        # a duplicate ClientID makes the broker drop the
                        # existing connection, so N partitions sharing
                        # the configured id would disconnect each other
                        # mid-batch (the reference README demands unique
                        # ids for the same reason, README.md:208-210)
                        popts = dataclasses.replace(
                            opts,
                            client_id=f"{opts.client_id}-p{_uuid.uuid4().hex[:8]}",
                        )
                        client = factory(popts, None, lambda e: None)
                    payload = row[col]
                    if isinstance(payload, str):
                        payload = payload.encode()
                    client.publish(topic, payload, qos, retained)
            finally:
                if client is not None:
                    client.close()

        return publish_partition

    def write(self, df: DataFrame):
        return send_partitions(df, self._publisher(), "mqtt", self.checkpoint, self.trigger)
