import os
import pickle
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from finance_data_ingestion_pipeline_with_kafka_spark.session import get_spark

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def get_test_spark():
    """The shared test session (getOrCreate — same JVM as the fixture).
    For hypothesis @given tests, which cannot take pytest fixtures."""
    return get_spark(
        app_name="engine-tests",
        master=os.environ.get("TEST_SPARK_MASTER", "local[8]"),
        shuffle_partitions=8,
    )


@pytest.fixture(scope="session")
def spark():
    yield get_test_spark()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class FakeGroupState:
    """In-memory stand-in for the ``GroupState`` an
    ``applyInPandasWithState`` update function receives, with Spark's
    rules: the state value round-trips through pickle, the timeout is
    cleared on every call, and a timeout timestamp must be positive and
    not older than the current watermark."""

    def __init__(self, watermark_ms: int = -1, value=None):
        self.watermark_ms = watermark_ms
        self.blob = None if value is None else pickle.dumps(tuple(value))
        self.timeout_ms = None
        self.hasTimedOut = False

    @property
    def exists(self) -> bool:
        return self.blob is not None

    @property
    def get(self):
        assert self.blob is not None
        return pickle.loads(self.blob)

    def update(self, value) -> None:
        self.blob = pickle.dumps(tuple(value))

    def getCurrentWatermarkMs(self) -> int:
        return self.watermark_ms

    def setTimeoutTimestamp(self, ts_ms: int) -> None:
        assert 0 < ts_ms and ts_ms >= self.watermark_ms, (ts_ms, self.watermark_ms)
        self.timeout_ms = ts_ms

    def call(self, update, key: tuple, pdfs=(), timed_out: bool = False) -> list:
        """One invocation, as Spark makes it: the frames it yields."""
        self.timeout_ms, self.hasTimedOut = None, timed_out
        return list(update(key, iter(pdfs), self))
