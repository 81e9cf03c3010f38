import pytest


@pytest.fixture(scope="session")
def spark():
    from kelos_on_kafka_spark.plans.session import get_spark

    s = get_spark(
        app_name="kelos-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    yield s
    s.stop()


def await_stream(q, timeout: float) -> None:
    """Wait up to ``timeout`` seconds for a streaming query to finish.
    One still running then is stopped and fails the test, naming the
    query, instead of leaving a partial sink to assert on and running
    on into the next test."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after {timeout} s"
        )
