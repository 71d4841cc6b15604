"""get_spark's defaults: the driver heap fits the machine, and the
session's optimizer-rule exclusion survives a caller's own list."""

from __future__ import annotations

import os

from kafkatosparktokudu_spark.session import get_spark


def test_driver_heap_fits_in_physical_memory(spark):
    """A heap capped above the machine's memory lets one long-lived
    session grow until the machine runs short (seen: 12.6 GB of 16 GB
    under a 48g cap)."""
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    heap = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf
    )
    assert heap <= os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_caller_excluded_rules_keep_the_session_exclusion(spark):
    """A caller's spark.sql.optimizer.excludedRules in extra_conf is
    merged with InferFiltersFromGenerate, not put in its place."""
    key = "spark.sql.optimizer.excludedRules"
    own = "org.apache.spark.sql.catalyst.optimizer.PushFoldableIntoBranches"
    before = spark.conf.get(key)
    try:
        # same arguments as the shared session, so only the rule list moves
        s = get_spark(
            app_name="tests", master="local[8]", shuffle_partitions=8,
            extra_conf={key: own},
        )
        rules = s.conf.get(key).split(",")
    finally:
        spark.conf.set(key, before)
    assert own in rules
    assert "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate" in rules
