"""Kafka topic administration (A23) + broker watermark probes (A4).

Reference semantics:
  - ``CreateMissingTopics`` (fifo/admin.go:12-31): create topics one by
    one; a TopicAlreadyExists response is ignored, any other error
    aborts.  Invoked by to-kafka when ``-topicpartitions > 0``
    (cmd/zync/to-kafka/command.go:90-94) and by from-kafka when
    ``-kafkareplicas > 0`` (cmd/zync/from-kafka/command.go:187-191).
  - ``Consumer.Watermarks`` (fifo/consumer.go:184-196): (min start
    offset, max end offset) across partitions via the admin client.
  - ``Producer.HeadOffset`` (fifo/producer.go:44-46): the topic's max
    end offset — the resume point for To.Sync (fifo/to.go:31-33).

The broker boundary is the ``TopicAdmin`` interface.  ``WireTopicAdmin``
is the one real implementation: it speaks the public Kafka protocol
through kafka_wire.KafkaWireClient, with the kafka.json TLS/SASL
settings, so it needs no client library.  ``FakeTopicAdmin`` is the
in-process double used by tests and local demos.  Everything above the
interface — CLI wiring, resume-offset resolution, ensure-topics — is
exercised broker-free.
"""

from __future__ import annotations


class TopicAdminError(Exception):
    pass


class TopicExists(TopicAdminError):
    """Raised internally by implementations; swallowed by
    create_missing_topics (kerr.TopicAlreadyExists, fifo/admin.go:25)."""


class TopicAdmin:
    """Interface: what zync needs from a Kafka admin client."""

    def create_topic(
        self,
        topic: str,
        partitions: int = 1,
        replication: int = 1,
        configs: dict[str, str] | None = None,
    ) -> None:
        """Create one topic; raise TopicExists if present, TopicAdminError
        on any other failure."""
        raise NotImplementedError

    def watermarks(self, topic: str) -> tuple[int, int]:
        """(start, end) offsets — fifo/consumer.go:184-196."""
        raise NotImplementedError

    def head_offset(self, topic: str) -> int:
        """Producer.HeadOffset: the next offset the topic will assign
        (fifo/producer.go:44-46)."""
        return self.watermarks(topic)[1]

    def partitions(self, topic: str) -> list[int]:
        """Partition ids of a topic — feeds the per-partition resume
        map (starting_offsets_from_pool).  The reference never asks (it
        pins partition 0, fifo/consumer.go:59-63); multi-partition
        ingest needs the full set so never-stored partitions start from
        earliest."""
        raise NotImplementedError

    def create_missing_topics(
        self,
        topics: list[str],
        partitions: int = 1,
        replication: int = 1,
        configs: dict[str, str] | None = None,
    ) -> list[str]:
        """CreateMissingTopics (fifo/admin.go:12-31): one by one (the
        reference avoids batched creates to dodge slow-broker timeouts),
        ignoring already-exists.  Returns the topics actually created."""
        created = []
        for topic in topics:
            try:
                self.create_topic(topic, partitions, replication, configs)
                created.append(topic)
            except TopicExists:
                pass
        return created


class FakeTopicAdmin(TopicAdmin):
    """In-memory broker double: topic metadata + (start, end) offsets.

    Tests seed offsets directly (``advance``) to simulate produced
    records; ``partitions``/``configs`` are recorded so assertions can
    check the create parameters the reference passes."""

    def __init__(self):
        self.topics: dict[str, dict] = {}

    def create_topic(self, topic, partitions=1, replication=1, configs=None):
        if topic in self.topics:
            raise TopicExists(topic)
        self.topics[topic] = {
            "partitions": partitions,
            "replication": replication,
            "configs": dict(configs or {}),
            "start": 0,
            "end": 0,
        }

    def advance(self, topic: str, n: int) -> None:
        """Simulate n records produced to the topic."""
        self.topics.setdefault(
            topic,
            {"partitions": 1, "replication": 1, "configs": {}, "start": 0, "end": 0},
        )
        self.topics[topic]["end"] += n

    def watermarks(self, topic):
        if topic not in self.topics:
            raise TopicAdminError(f"unknown topic {topic!r}")
        t = self.topics[topic]
        return t["start"], t["end"]

    def partitions(self, topic):
        if topic not in self.topics:
            raise TopicAdminError(f"unknown topic {topic!r}")
        return list(range(self.topics[topic]["partitions"]))


class WireTopicAdmin(TopicAdmin):
    """Broker admin over the dependency-free wire client
    (kafka_wire.KafkaWireClient) — what ``open_admin`` returns, and the
    adapter the stub-broker tests drive end-to-end over a real
    socket."""

    def __init__(self, brokers: str, security: dict | None = None):
        from .kafka_wire import KafkaWireClient  # noqa: PLC0415

        self._client = KafkaWireClient(brokers, **(security or {}))

    def create_topic(self, topic, partitions=1, replication=1, configs=None):
        from .kafka_wire import ERR_TOPIC_ALREADY_EXISTS, KafkaWireError  # noqa: PLC0415

        try:
            self._client.create_topic(
                topic, partitions=partitions, replication=replication,
                configs=configs,
            )
        except KafkaWireError as e:
            if e.code == ERR_TOPIC_ALREADY_EXISTS:
                raise TopicExists(topic) from None
            raise TopicAdminError(f"creating topic {topic}: {e}") from e

    def watermarks(self, topic):
        from .kafka_wire import KafkaWireError  # noqa: PLC0415

        try:
            per_part = [
                self._client.watermarks(topic, p) for p in self.partitions(topic)
            ]
            return (
                min(lo for lo, _ in per_part),
                max(hi for _, hi in per_part),
            )
        except KafkaWireError as e:
            raise TopicAdminError(f"watermarks for {topic}: {e}") from e

    def partitions(self, topic):
        from .kafka_wire import KafkaWireError  # noqa: PLC0415

        try:
            metas = self._client.metadata([topic])
        except KafkaWireError as e:
            raise TopicAdminError(f"metadata for {topic}: {e}") from e
        if not metas or metas[0].error:
            raise TopicAdminError(f"unknown topic {topic!r}")
        return [p.partition for p in metas[0].partitions]

    def close(self):
        self._client.close()


def open_admin(brokers: str | None) -> TopicAdmin | None:
    """CLI helper: a ``WireTopicAdmin`` when brokers are given, else
    None (callers degrade like the reference does when its flags are
    0).  Connects with the kafka.json security settings when a
    kafka.json exists, and probes with one ApiVersions round trip so an
    unreachable broker degrades to None instead of failing later
    (callers that REQUIRE an admin, like resolve_start_offset
    --resume, raise their own clear error)."""
    if not brokers:
        return None
    try:
        from .config import ConfigMissing, kafka_config, wire_security  # noqa: PLC0415

        try:
            security = wire_security(kafka_config())
        except ConfigMissing:
            security = {}
        admin = WireTopicAdmin(brokers, security=security)
        admin._client.api_versions()
        return admin
    except Exception:  # noqa: BLE001
        return None
