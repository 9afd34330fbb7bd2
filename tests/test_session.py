def test_get_spark_leaves_live_session_conf(spark):
    """A second get_spark in a process with a live session returns that
    session with the runtime conf its creator set: the session defaults
    apply only to a session the call creates, extra_conf always."""
    from sema_spark.session import _DEFAULTS, get_spark

    key, probe = "spark.sql.shuffle.partitions", "spark.sema_spark.probe"
    before = spark.conf.get(key)
    assert before != _DEFAULTS[key]  # the test session sets its own
    try:
        again = get_spark(cores=4, extra_conf={probe: "1"})
        assert again.sparkContext is spark.sparkContext
        assert spark.conf.get(key) == before
        assert spark.conf.get(probe) == "1"
    finally:
        spark.conf.set(key, before)
        spark.conf.unset(probe)
