"""``get_spark`` on a live session."""

from cugraph_spark.session import get_spark


def test_get_spark_leaves_live_session_unchanged(spark):
    """A second call returns the live session without re-applying any
    setting: the shuffle partition count stays what the first call set."""
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    again = get_spark("another_app", shuffle_partitions=int(parts) + 5)
    assert again.sparkContext is spark.sparkContext
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
