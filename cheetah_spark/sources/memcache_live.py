"""Memcache sink/source — the reference wishlist's "memcache?" entry
(reference README.md:301-311 "Source / Destination Wishlist"), built
on the PUBLIC memcached text protocol (memcached protocol.txt:
``set <key> <flags> <exptime> <bytes>\\r\\n<data>\\r\\n`` → ``STORED``,
``get <key>...`` → ``VALUE`` blocks + ``END``, ``delete``,
``version``), spoken directly over stdlib TCP sockets.

A cache is not a queue: memcached has no pub/sub, no history, and —
by design — no key enumeration. So unlike the broker connectors this
one is shaped as:

- :class:`MemcacheSink` — the serving-layer materialization path: rows
  become ``set`` operations (key column + value column, default JSON
  struct), batch or streaming (per-micro-batch upsert, so a streaming
  aggregation materializes its latest state into the cache — the
  classic "Spark job keeps a memcache warm" deployment).
- :class:`MemcacheSource` — a KEYED batch read: an explicit key list
  (or a one-column DataFrame of keys) multi-``get``, surfacing
  ``key string, flags int, value string`` with misses dropped (or
  kept as NULL rows with ``keep_misses``). There is deliberately NO
  streaming source and NO full-scan source — memcached cannot answer
  either honestly, and pretending otherwise would silently return
  partial data.

:class:`MiniMemcacheServer` is a loopback server the conformance tests
and the roundtrip hash gate run against (threaded stdlib sockets,
set/get/delete/flush_all/version) — a real memcached accepts the
identical bytes."""

from __future__ import annotations

import socket
from dataclasses import dataclass, field
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.sinks import Sink, send_partitions
from cheetah_spark.sources import Source
from cheetah_spark.sources.seqwindow import LoopbackServer

MEMCACHE_SCHEMA = "key string, flags int, value string"


class MemcacheClient:
    """Minimal memcached text-protocol client (stdlib socket). One
    instance per thread/partition."""

    def __init__(self, addr: str):
        host, _, port = addr.rpartition(":")
        self._sock = socket.create_connection((host or "127.0.0.1", int(port)))
        self._fh = self._sock.makefile("rb")

    def _send(self, data: bytes) -> None:
        self._sock.sendall(data)

    def _line(self) -> bytes:
        line = self._fh.readline()
        if not line:
            raise ConnectionError("memcache: connection closed")
        return line.rstrip(b"\r\n")

    def set(self, key: str, value, flags: int = 0, exptime: int = 0) -> None:
        if isinstance(value, str):
            value = value.encode("utf-8")
        self._send(
            f"set {key} {flags} {exptime} {len(value)}\r\n".encode() + value + b"\r\n"
        )
        resp = self._line()
        if resp != b"STORED":
            raise RuntimeError(f"memcache: set failed: {resp.decode()}")

    def get_multi(self, keys: Iterable[str]) -> dict:
        """→ {key: (flags, value:str)} for the keys that hit."""
        keys = list(keys)
        if not keys:
            return {}
        self._send(("get " + " ".join(keys) + "\r\n").encode())
        out = {}
        while True:
            line = self._line()
            if line == b"END":
                return out
            parts = line.decode().split(" ")
            if parts[0] != "VALUE":
                raise RuntimeError(f"memcache: unexpected reply {line!r}")
            key, flags, nbytes = parts[1], int(parts[2]), int(parts[3])
            data = self._fh.read(nbytes + 2)[:-2]
            out[key] = (flags, data.decode("utf-8"))

    def get(self, key: str):
        return self.get_multi([key]).get(key)

    def delete(self, key: str) -> bool:
        self._send(f"delete {key}\r\n".encode())
        return self._line() == b"DELETED"

    def version(self) -> str:
        self._send(b"version\r\n")
        return self._line().decode().removeprefix("VERSION ")

    def flush_all(self) -> None:
        self._send(b"flush_all\r\n")
        self._line()

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


class MiniMemcacheServer(LoopbackServer):
    """Loopback memcached: set/get (multi-key)/delete/flush_all/
    version over the text protocol — a real memcached accepts the
    same bytes."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._store: dict[str, tuple[int, bytes]] = {}
        super().__init__(host, port)

    def _serve(self, conn) -> None:
        fh = conn.makefile("rb")
        while not self._closing:
            line = fh.readline()
            if not line:
                return
            parts = line.rstrip(b"\r\n").decode().split(" ")
            cmd = parts[0]
            if cmd == "set":
                key, flags, _exp, nbytes = (
                    parts[1],
                    int(parts[2]),
                    int(parts[3]),
                    int(parts[4]),
                )
                data = fh.read(nbytes + 2)[:-2]
                with self._lock:
                    self._store[key] = (flags, data)
                if "noreply" not in parts:
                    self._send(conn, b"STORED\r\n")
            elif cmd in ("get", "gets"):
                out = b""
                with self._lock:
                    for key in parts[1:]:
                        hit = self._store.get(key)
                        if hit is not None:
                            flags, data = hit
                            out += f"VALUE {key} {flags} {len(data)}\r\n".encode()
                            out += data + b"\r\n"
                self._send(conn, out + b"END\r\n")
            elif cmd == "delete":
                with self._lock:
                    existed = self._store.pop(parts[1], None) is not None
                self._send(conn, b"DELETED\r\n" if existed else b"NOT_FOUND\r\n")
            elif cmd == "flush_all":
                with self._lock:
                    self._store.clear()
                self._send(conn, b"OK\r\n")
            elif cmd == "version":
                self._send(conn, b"VERSION 1.6.0-mini\r\n")
            elif cmd == "quit":
                return
            else:
                self._send(conn, b"ERROR\r\n")

    def key_count(self) -> int:
        with self._lock:
            return len(self._store)


@dataclass
class MemcacheSink(Sink):
    """``set`` every row: ``key`` column (required unless
    ``key_prefix`` + monotonic ids are acceptable — they are not, so
    it is required) and ``value`` column (default: JSON struct of the
    remaining columns). One socket per partition; streaming frames
    upsert per micro-batch via foreachBatch — a streaming aggregation
    in update/complete mode keeps the cache at its latest state."""

    addr: str = ""
    key_col: str = "key"
    value_col: str = ""  # empty: JSON struct of all non-key columns
    flags: int = 0
    exptime: int = 0
    checkpoint: Optional[str] = None
    trigger: Optional[dict] = None

    def _normalize(self, df: DataFrame) -> DataFrame:
        if self.key_col not in df.columns:
            raise ValueError(f"memcache: key column {self.key_col!r} missing")
        if self.value_col:
            val = F.col(self.value_col).cast("string")
        else:
            rest = [c for c in df.columns if c != self.key_col]
            val = F.to_json(F.struct(*[F.col(c) for c in rest]))
        return df.select(
            F.col(self.key_col).cast("string").alias("key"), val.alias("value")
        )

    def write(self, df: DataFrame):
        out = self._normalize(df)
        addr, flags, exptime = self.addr, self.flags, self.exptime

        def send(rows):
            client = None
            try:
                for r in rows:
                    if client is None:
                        client = MemcacheClient(addr)
                    client.set(r.key, r.value, flags, exptime)
            finally:
                if client is not None:
                    client.close()

        return send_partitions(
            out, send, "memcache", self.checkpoint, self.trigger, output_mode="update"
        )


@dataclass
class MemcacheSource(Source):
    """KEYED batch read: multi-``get`` an explicit key list, surfacing
    ``key, flags, value``. Distributed: the key list parallelizes
    across partitions and each partition opens its own connection —
    reading a 10M-key export is 10M/parallelism gets per socket, the
    same shape a cache-warming verifier runs at. Misses are dropped
    unless ``keep_misses`` (then NULL value rows). NO streaming and NO
    full scan: memcached can answer neither honestly."""

    addr: str = ""
    keys: tuple = field(default_factory=tuple)
    keep_misses: bool = False
    batch_size: int = 64  # keys per multi-get
    streaming: bool = False

    def __post_init__(self) -> None:
        self.keys = tuple(self.keys)  # a JSON config gives a list

    def read(self, spark: SparkSession) -> DataFrame:
        if self.streaming:
            raise ValueError(
                "memcache: no streaming source exists — a cache has no "
                "notifications or history; use a queue connector for streams"
            )
        if not self.keys:
            raise ValueError(
                "memcache: a key list is required — memcached has no key "
                "enumeration by design, so a full scan cannot be answered"
            )
        addr, bsz, keep = self.addr, self.batch_size, self.keep_misses
        keys_df = spark.createDataFrame([(k,) for k in self.keys], "key string")

        def fetch(rows):
            client = None
            try:
                batch = []
                for r in rows:
                    if client is None:
                        client = MemcacheClient(addr)
                    batch.append(r.key)
                    if len(batch) >= bsz:
                        yield from _emit(client, batch, keep)
                        batch = []
                if batch:
                    yield from _emit(client, batch, keep)
            finally:
                if client is not None:
                    client.close()

        def _emit(client, batch, keep):
            got = client.get_multi(batch)
            for k in batch:
                hit = got.get(k)
                if hit is not None:
                    yield (k, hit[0], hit[1])
                elif keep:
                    yield (k, None, None)

        return keys_df.rdd.mapPartitions(fetch).toDF(MEMCACHE_SCHEMA)
