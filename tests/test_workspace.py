"""Workspace plumbing (sources/workspace.py): the store's table catalog
under concurrent first reads and the default session's config."""

import threading
import time

from cubes_spark.sources.workspace import ParquetStore, session_config
from tests.conftest import SF_DIR


def test_concurrent_first_reads_share_one_dataframe(spark, monkeypatch):
    store = ParquetStore(spark, SF_DIR)
    original = ParquetStore._read

    def slow_read(self, location):
        time.sleep(0.2)          # widen the window between check and set
        return original(self, location)
    monkeypatch.setattr(ParquetStore, "_read", slow_read)

    barrier = threading.Barrier(4)
    frames = [None] * 4

    def read(i):
        barrier.wait(timeout=60)
        frames[i] = store.table("nation")
    threads = [threading.Thread(target=read, args=(i,)) for i in range(4)]
    for thread in threads:
        thread.start()
    for thread in threads:
        thread.join(timeout=60)
        assert not thread.is_alive()
    assert all(frame is frames[0] for frame in frames)
    assert store.table("nation") is frames[0]


def test_local_session_config_sets_the_worker_daemon():
    config = session_config(4)
    assert config["spark.master"] == "local[4]"
    assert config["spark.python.daemon.module"] == "cubes_spark.pydaemon"
    assert "spark.executorEnv.PYTHONPATH" in config
    assert config["spark.sql.shuffle.partitions"] == "8"


def test_remote_session_config_leaves_executor_python_alone():
    config = session_config(4, shuffle_partitions=64,
                            master="spark://cluster:7077")
    assert not {"spark.master", "spark.python.daemon.module",
                "spark.executorEnv.PYTHONPATH"} & set(config)
    assert config["spark.sql.shuffle.partitions"] == "64"
    assert config["spark.sql.adaptive.enabled"] == "true"
