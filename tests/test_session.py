"""Session defaults: shuffle partitions follow the local master's cores."""

from __future__ import annotations

import os

from ecommerce_etl_pipeline_spark.session import local_shuffle_partitions


def test_local_masters_get_two_partitions_per_thread():
    assert local_shuffle_partitions("local") == 2
    assert local_shuffle_partitions("local[4]") == 8
    assert local_shuffle_partitions("local[3,2]") == 6
    assert local_shuffle_partitions("local[*]") == 2 * os.cpu_count()


def test_other_masters_keep_the_deployment_setting():
    for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]", "k8s://h"):
        assert local_shuffle_partitions(master) is None
