from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aoseventstreamer_spark.session import get_spark  # noqa: E402

SF_DIR_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# Reseal-depth tests (fuzz sweeps, model sequences, interop chains —
# measured >= ~7 s each, ~24 min combined) are listed in slow_tests.txt
# and marked `slow` here, so the DEFAULT run (`pytest tests/ -q`, what
# the driver's verify budget can finish) stays fast while keeping every
# gate family: the full-registry parity sweep runs pooled
# (test_parity_registry.test_full_registry_parity_pooled) and the
# registry-wide plan/window gates are never marked. Full suite:
#   python -m pytest tests/ -q -m "slow or not slow"
_SLOW_LIST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_LIST) as f:
            slow_ids = {
                line.strip() for line in f
                if line.strip() and not line.startswith("#")
            }
    except OSError:
        return
    for item in items:
        base = item.nodeid.split("[")[0]
        if item.nodeid in slow_ids or base in slow_ids:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("aoseventstreamer-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR_SMALL


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_DIR_ORACLE


class TablelogTail:
    """Tail a tablelog table the one way the package offers:
    ``spark.readStream.format("tablelog")`` + ``foreachBatch``, with
    Spark's checkpoint ``ck`` carrying the ``{"version": N}`` offset.
    ``options`` are read options (``readChangeFeed="true"``,
    ``ignoreChanges="true"``); ``sink(batch_df, batch_id)`` sees each
    micro-batch."""

    def __init__(self, spark):
        from aoseventstreamer_spark.sources.tablelog_source import (
            register_tablelog_source,
        )

        register_tablelog_source(spark)
        self.spark = spark
        self.live = []

    def _writer(self, path, ck, sink, options):
        reader = self.spark.readStream.format("tablelog")
        for k, v in options.items():
            reader = reader.option(k, v)
        return (
            reader.load(path)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
        )

    def once(self, path, ck, sink, **options):
        """One ``availableNow`` run (a kill/restart step); a failing
        batch re-raises here."""
        q = self._writer(path, ck, sink, options).trigger(availableNow=True).start()
        assert q.awaitTermination(120), "tablelog tail did not drain"
        return q

    def running(self, path, ck, sink, **options):
        """A live tail; drive it with ``processAllAvailable()``. It is
        stopped at teardown."""
        q = self._writer(path, ck, sink, options).trigger(
            processingTime="100 milliseconds"
        ).start()
        self.live.append(q)
        return q

    @staticmethod
    def end_version(q) -> int:
        """The table version the query's last micro-batch read up to
        (its source ``endOffset``)."""
        return json.loads(q.lastProgress.json)["sources"][0]["endOffset"]["version"]


@pytest.fixture()
def tablelog_tail(spark):
    tail = TablelogTail(spark)
    yield tail
    for q in tail.live:
        q.stop()
