"""Fan-out sinks (SURVEY.md §2.6 K1-K6).

The reference's sink surface is MQTT publish (K1/K2), two 7-segment
displays (K3), console (K4), and syslog (K5/K6). The engine form is a
``Publisher`` protocol whose ``open → publish* → close`` lifecycle is
the direct analog of the module ABI's
``post_collection_init → post_collection* → destroy``
(reference src/modules/module.h:24-29,47-52) and of Spark's
``ForeachWriter`` contract — one instance per partition per epoch.

Messages are MQTT-shaped rows (``topic``, ``qos``, ``payload``,
schemas.MQTT_MESSAGE): QoS 1 ≈ foreach (at-least-once re-delivery on
task retry, reference src/modules/dd/producer.c:152-153); QoS 2 ≈
foreachBatch + checkpoint (Spark's exactly-once,
reference src/modules/hko/hko.cpp:69-72).

A real MQTT client is not in this container; ``MqttPublisher`` is the
wiring stub behind an import-try (paho-mqtt), with console/collecting
implementations for tests — the reference's own "sample module as
smoke test" strategy (SURVEY.md §5).
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

logger = logging.getLogger("sensor_data_pipeline_spark.sinks")


class Publisher:
    """open/publish/close lifecycle, the module-ABI analog."""

    def open(self, partition_id: int, epoch_id: int) -> bool:  # noqa: ARG002
        return True

    def publish(self, topic: str, payload: str, qos: int) -> None:
        raise NotImplementedError

    def close(self, error: Exception | None) -> None:
        pass


class ConsolePublisher(Publisher):
    """K4: fixed-format console sink
    (reference src/modules/module_rpi_ups_hat.c:187-220)."""

    def publish(self, topic: str, payload: str, qos: int) -> None:
        print(f"[{topic} qos={qos}] {payload}")


class FileSpoolPublisher(Publisher):
    """Test/debug sink: spools each partition-epoch's messages to one
    JSONL file — the observable side-effect device standing in for the
    7seg display (K3). foreach writers run in executor worker
    processes, so an in-memory collector can never observe them; a
    spool directory works under any deployment."""

    def __init__(self, spool_dir: str) -> None:
        self._dir = spool_dir
        self._buf: list[dict[str, Any]] = []
        self._name = "unopened"

    def open(self, partition_id: int, epoch_id: int) -> bool:
        self._name = f"epoch{epoch_id}-part{partition_id}.jsonl"
        self._buf = []
        return True

    def publish(self, topic: str, payload: str, qos: int) -> None:
        self._buf.append({"topic": topic, "qos": qos, "payload": payload})

    def close(self, error: Exception | None) -> None:
        if error is None and self._buf:
            import json
            import os

            os.makedirs(self._dir, exist_ok=True)
            with open(os.path.join(self._dir, self._name), "w") as f:
                for m in self._buf:
                    f.write(json.dumps(m) + "\n")

    @staticmethod
    def read_all(spool_dir: str) -> list[tuple[str, int, str]]:
        import glob
        import json

        out = []
        for path in sorted(glob.glob(f"{spool_dir}/*.jsonl")):
            with open(path) as f:
                out.extend((m["topic"], m["qos"], m["payload"]) for m in map(json.loads, f))
        return out


class MqttPublisher(Publisher):
    """K1/K2 wiring for a real broker (TLS host:8883, keepalive 60 s —
    reference src/modules/libs/mqtt.c:80). The client is injectable:
    ``client_factory`` must produce an object with the paho-mqtt
    Client surface (tls_set/connect/loop_start/publish/loop_stop/
    disconnect), defaulting to the real ``paho.mqtt.client.Client``.
    paho is not baked into this container, so the default raises
    cleanly and callers fall back (E3 init-failure degradation,
    reference src/event_loops.c:26-31); the vendored
    ``loopback.LoopbackMqttClient`` exercises this exact wiring
    without a broker."""

    def __init__(
        self,
        host: str,
        port: int = 8883,
        keepalive: int = 60,
        client_factory: Any = None,
        **tls: Any,
    ) -> None:
        if client_factory is None:
            try:
                import paho.mqtt.client as mqtt  # type: ignore[import-not-found]
            except ImportError as e:  # pragma: no cover - env without paho
                raise NotImplementedError("paho-mqtt not installed in this environment") from e
            client_factory = mqtt.Client
        self._client = client_factory()
        if tls:
            self._client.tls_set(**tls)
        self._host, self._port, self._keepalive = host, port, keepalive

    def open(self, partition_id: int, epoch_id: int) -> bool:  # noqa: ARG002
        self._client.connect(self._host, self._port, self._keepalive)
        self._client.loop_start()  # background network thread, mqtt.c:86-89
        return True

    def publish(self, topic: str, payload: str, qos: int) -> None:
        self._client.publish(topic, payload, qos=qos)

    def close(self, error: Exception | None) -> None:  # noqa: ARG002
        self._client.loop_stop()
        self._client.disconnect()


class PublisherForeachWriter:
    """Adapts a Publisher to Spark's foreach sink contract. Expects
    MQTT_MESSAGE-shaped rows. Lifecycle logging mirrors the reference's
    on_connect/on_publish callbacks (K6, src/modules/libs/mqtt.c:6-47)."""

    def __init__(self, publisher: Publisher) -> None:
        self._pub = publisher

    def open(self, partition_id: int, epoch_id: int) -> bool:
        logger.info("publisher open partition=%d epoch=%d", partition_id, epoch_id)
        return self._pub.open(partition_id, epoch_id)

    def process(self, row: Any) -> None:
        self._pub.publish(row["topic"], row["payload"], int(row["qos"]))

    def close(self, error: Exception | None) -> None:
        if error is not None:
            logger.error("publisher close with error: %s", error)
        self._pub.close(error)


def publish_stream(
    messages: DataFrame,
    publisher: Publisher,
    *,
    checkpoint_dir: str | None = None,
    query_name: str = "publish",
) -> DataStreamWriter:
    """The (unstarted) writer for a streaming publish of
    MQTT_MESSAGE-shaped rows; run it with ``streaming.drain``. With a
    checkpoint dir the delivery is exactly-once per epoch (QoS 2
    analog); without, at-least-once (QoS 1).
    """
    writer = messages.writeStream.foreach(PublisherForeachWriter(publisher)).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def fanout_stream(
    df: DataFrame,
    routes: dict,
    *,
    checkpoint_dir: str | None = None,
    query_name: str = "fanout",
) -> DataStreamWriter:
    """One stream, N sinks, each with its own projection — the engine
    form of the reference consumer driving two 7-segment displays with
    different fields from the same message (K3,
    reference src/modules/dd/consumer.cpp:124-131: display 0 shows
    temp_outdoor+rh, display 1 shows temp_indoor) plus its console and
    syslog fan-out.

    ``routes`` maps sink name -> (transform, write) where
    ``transform(batch_df) -> DataFrame`` is the per-sink projection and
    ``write(projected_df, batch_id) -> None`` performs the sink I/O.

    The micro-batch is persisted ONCE and every route reads the cached
    rows — N sinks cost one upstream computation, not N (the batch-side
    analog of the reference reusing one parsed message for all
    displays). Failure semantics: any route raising fails the epoch,
    the offset is not committed, and ALL routes replay — so each
    route's write must be idempotent per (sink, batch_id), exactly like
    any foreachBatch sink."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for name, (transform, write) in routes.items():
                try:
                    write(transform(batch_df), batch_id)
                except Exception:
                    logger.error("fanout route %r failed in epoch %d", name, batch_id)
                    raise
        finally:
            batch_df.unpersist()

    writer = df.writeStream.foreachBatch(apply).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
