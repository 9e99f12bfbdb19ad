"""Driver-session simulation: queries must work on a session WE did not
build.

The driver constructs its own SparkSession; every conf our plans depend
on (UTC zone, nanos-as-long for events.parquet, Arrow) must therefore be
applied at load time by catalog.load / session.tune — never assumed from
our factory. This runs a representative query per conf-sensitive family
on a bare-default session.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="module")
def plain_spark(spark):
    # The session-scoped fixture already built a (tuned) session; a truly
    # separate JVM is too costly per test run, so simulate the driver by
    # RESETTING the runtime confs our plans rely on and letting the code
    # under test re-apply them.
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
    ):
        spark.conf.unset(k)
    yield spark
    from audios_to_dataset_spark.session import tune

    tune(spark)


def test_events_nanos_path_self_heals(plain_spark, sf_dir):
    """catalog.load must apply its timestamp confs itself on a bare
    session, whatever precision the current testdata generation stores
    (nanosAsLong for TIMESTAMP(NANOS) generations — a raw read would
    throw PARQUET_TYPE_ILLEGAL — LTZ inference for micros ones). The
    nanos branch itself is pinned with a purpose-built file in
    test_ts_robustness.test_true_nanos_parquet_batch_and_stream."""
    from audios_to_dataset_spark.plans.events import q_tumbling_window

    df = q_tumbling_window(plain_spark, sf_dir)
    assert df.count() > 0


def test_dedup_and_text_families_conf_free(plain_spark, sf_dir):
    from audios_to_dataset_spark.plans.dedup import q_dedup_exact
    from audios_to_dataset_spark.plans.textops import q_text_stats

    assert q_dedup_exact(plain_spark, sf_dir).count() > 0
    assert q_text_stats(plain_spark, sf_dir).count() > 0


def test_load_keeps_user_shuffle_partitions(spark, sf_dir):
    """catalog.load re-applies the parity confs on every table load, but
    a shuffle-partition count the user already set must survive it."""
    from audios_to_dataset_spark.catalog import load

    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, "2000")
    try:
        load(spark, sf_dir, "orders")
        assert spark.conf.get(key) == "2000"
    finally:
        spark.conf.set(key, prior)


def test_tune_reads_core_count_when_called(spark, monkeypatch):
    """tune() sizes shuffle partitions from SPARK_GRAFT_CPUS as it is when
    called, not as it was when the session module was imported (conftest
    and perfbench set it after that import)."""
    from audios_to_dataset_spark.session import tune

    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    try:
        spark.conf.unset(key)
        tune(spark)
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prior)


def test_load_sets_broadcast_threshold_only_when_unset(spark, sf_dir):
    """catalog.load gives a session without a broadcast threshold the
    64 MB one get_session plans with, and keeps one the user set."""
    from audios_to_dataset_spark.catalog import load

    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        load(spark, sf_dir, "orders")
        assert spark.conf.get(key) == str(64 * 1024 * 1024)
        spark.conf.set(key, str(1024 * 1024))
        load(spark, sf_dir, "orders")
        assert spark.conf.get(key) == str(1024 * 1024)
    finally:
        spark.conf.set(key, prior)
