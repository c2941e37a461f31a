"""``grouped_map_parallelism`` on a session without a ``sparkContext``
(Spark Connect raises ``PySparkAttributeError`` there) and with a
non-integer shuffle width. Only those two errors are expected; any other
error propagates."""

from __future__ import annotations

import pytest
from pyspark.errors import PySparkAttributeError

from rspl_spark.session import grouped_map_parallelism


class _Conf:
    def __init__(self, shuffle_partitions):
        self.shuffle_partitions = shuffle_partitions

    def get(self, key):
        assert key == "spark.sql.shuffle.partitions"
        if isinstance(self.shuffle_partitions, Exception):
            raise self.shuffle_partitions
        return self.shuffle_partitions


class _ConnectLikeSession:
    """No ``sparkContext``: attribute access raises as Spark Connect's does."""

    def __init__(self, shuffle_partitions):
        self.conf = _Conf(shuffle_partitions)

    @property
    def sparkContext(self):
        raise PySparkAttributeError(
            errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED", messageParameters={"attr_name": "sparkContext"}
        )


def test_grouped_map_parallelism_without_spark_context():
    assert grouped_map_parallelism(_ConnectLikeSession("16")) == 16
    assert grouped_map_parallelism(_ConnectLikeSession("auto")) == 200
    with pytest.raises(RuntimeError):
        grouped_map_parallelism(_ConnectLikeSession(RuntimeError("conf service down")))
