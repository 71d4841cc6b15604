"""Pipeline configuration.

Replaces the reference's ``config.properties`` (zookeeper quorum, kafka
brokers, topic list, kudu masters — src/main/resources/config.properties:1-5,
loaded at ConsumerMain.scala:41-45). ZooKeeper disappears entirely (offsets
live in the Structured Streaming checkpoint); the Kudu master is replaced by
a local/managed table root.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class PipelineConfig:
    """Everything the streaming CDC pipeline needs to run.

    Mirrors config.properties + the spark-submit flags in
    /root/reference/README.md:41-49.
    """

    # Kafka source (reference: kafka.brokers / kafka.topics properties)
    brokers: str = "localhost:9092"
    topics: tuple[str, ...] = ("tt",)
    starting_offsets: str = "latest"  # auto.offset.reset=latest (ConsumerMain.scala:56)

    # Sink root: each target table is a keyed parquet table under this dir
    # (replaces kudu.master, config.properties:4)
    warehouse_dir: str = "/tmp/kudusync_warehouse"

    # Structured Streaming checkpoint (replaces ZooKeeper/local-file/Kafka
    # offset stores, ConsumerMain.scala:128-151)
    checkpoint_dir: str = "/tmp/kudusync_checkpoint"

    # trigger interval — Seconds(5), ConsumerMain.scala:33
    trigger_interval: str = "5 seconds"

    # rate cap — maxRatePerPartition=2000 * 5 partitions * 5s batch
    # (README.md:48, files/offset.log:1-5)
    max_offsets_per_trigger: int = 50_000

    # metrics log dir — LoggerManager.scala:38-60 writes ./files/tbLog{date}.log
    metrics_dir: str = "/tmp/kudusync_metrics"

    # dead-letter capture (None = count-only, the reference's drop+log
    # semantics; a path makes bad input replayable after a parser fix)
    dead_letter_dir: str | None = None
