"""get_spark on a live session returns it untouched."""

from osm_search_spark.session import get_spark


def test_get_spark_leaves_a_live_session_untouched(spark, set_conf):
    set_conf("spark.sql.adaptive.coalescePartitions.enabled", "false")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    again = get_spark("again", cpus=32)
    assert again.sparkContext is spark.sparkContext
    # the first call's partition count and a runtime change stay in place
    assert spark.conf.get("spark.sql.shuffle.partitions") == before == "8"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "false"
