"""session.reset_session_state: the between-query hygiene every benchmark
pass and bench.py query ends with."""

from epic_pandas_spark.session import reset_session_state


def test_reset_session_state_releases_persisted_rdds(spark):
    """A finished query's localCheckpoint blocks stay persisted until the
    driver JVM happens to GC; after the reset none remain."""
    sc = spark.sparkContext
    spark.range(1000).localCheckpoint(eager=True)
    assert dict(sc._jsc.getPersistentRDDs())
    reset_session_state(spark)
    assert dict(sc._jsc.getPersistentRDDs()) == {}
