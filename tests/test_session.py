"""Session defaults: shuffle partitions follow the local master's cores,
and only a local-mode master gets a sized driver heap."""

from __future__ import annotations

import os

from ecommerce_etl_pipeline_spark.session import get_spark, local_shuffle_partitions


def test_local_masters_get_two_partitions_per_thread():
    assert local_shuffle_partitions("local") == 2
    assert local_shuffle_partitions("local[4]") == 8
    assert local_shuffle_partitions("local[3,2]") == 6
    assert local_shuffle_partitions("local[*]") == 2 * os.cpu_count()


def test_other_masters_keep_the_deployment_setting():
    for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]", "k8s://h"):
        assert local_shuffle_partitions(master) is None


def test_local_cluster_driver_keeps_the_default_heap(spark, monkeypatch):
    """A local-cluster's executors are separate JVMs with their own heap, so
    get_spark sizes no driver heap for it (the running fixture session is
    returned; only the environment is inspected)."""
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    assert get_spark(master="local-cluster[2,1,1024]") is spark
    assert "PYSPARK_SUBMIT_ARGS" not in os.environ
