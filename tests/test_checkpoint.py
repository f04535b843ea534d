"""Checkpoint commits under the engine's session tuning
(``session.tune``): local sessions commit through Spark's
FileSystem-based checkpoint manager, which must keep the two-writer
guard of Spark's default FileContext-based one, and a second query on
an active route's checkpoint is refused.
"""

from __future__ import annotations

import pytest

from ureplicator_spark import fixtures as FX
from ureplicator_spark.session import (
    CHECKPOINT_MANAGER,
    FILESYSTEM_CHECKPOINT_MANAGER,
    STOP_ACTIVE_RUN,
    tune,
)

_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
_MANAGERS = [_PKG + "FileContextBasedCheckpointFileManager", FILESYSTEM_CHECKPOINT_MANAGER]


def test_tune_picks_the_filesystem_manager_only_while_unset(spark):
    assert spark.conf.get(CHECKPOINT_MANAGER) == FILESYSTEM_CHECKPOINT_MANAGER
    assert spark.conf.get(STOP_ACTIVE_RUN) == "false"
    mine = spark.newSession()
    mine.conf.set(CHECKPOINT_MANAGER, _MANAGERS[0])
    mine.conf.set(STOP_ACTIVE_RUN, "true")
    tune(mine)
    assert mine.conf.get(CHECKPOINT_MANAGER) == _MANAGERS[0]
    assert mine.conf.get(STOP_ACTIVE_RUN) == "true"


def _second_writer(spark, manager: str, root: str) -> tuple:
    """Commit batch file ``0`` twice with ``overwriteIfPossible=false``
    through ``manager``; the second commit's exception class (or None)
    and the file's bytes afterwards."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    conf.set(CHECKPOINT_MANAGER, manager)
    offsets = jvm.org.apache.hadoop.fs.Path(f"file:{root}/offsets")
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        offsets, conf
    )
    assert fm.getClass().getName() == manager
    fm.mkdirs(offsets)
    batch = jvm.org.apache.hadoop.fs.Path(offsets, "0")
    first = fm.createAtomic(batch, False)
    first.write(bytearray(b"first"))
    first.close()
    second = fm.createAtomic(batch, False)
    second.write(bytearray(b"second"))
    raised = None
    try:
        second.close()
    except Exception as e:
        exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
        raised = exists.getName() if exists.isInstance(e.java_exception) else repr(e)
        second.cancel()
    with open(f"{root}/offsets/0", "rb") as fh:
        return raised, fh.read()


def test_both_managers_refuse_a_second_atomic_create(spark, tmp_path):
    """The FileSystem manager keeps the FileContext manager's guard on
    ``file:``: a second no-overwrite commit of an existing batch file
    raises ``FileAlreadyExistsException`` and leaves the first commit's
    bytes in place."""
    outcomes = [
        _second_writer(spark, m, str(tmp_path / m.rsplit(".", 1)[1])) for m in _MANAGERS
    ]
    assert outcomes[0] == outcomes[1]
    assert outcomes[0] == ("org.apache.hadoop.fs.FileAlreadyExistsException", b"first")


def test_second_query_on_an_active_routes_checkpoint_is_refused(spark, sf_dir, tmp_path):
    """A route under another name on a running route's checkpoint is
    refused; the running route keeps running and the refused name is
    not left reserved."""
    from ureplicator_spark.api import Engine

    src = str(tmp_path / "records")
    FX.records(spark, sf_dir).limit(100).coalesce(1).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    eng = Engine(spark)
    first = eng.create_route("sjc1", "dca1", 1, src, ckpt, str(tmp_path / "out1"))
    job = eng.routes.jobs[first["route"]]
    try:
        job.query.processAllAvailable()
        with pytest.raises(Exception, match="already active"):
            eng.create_route("sjc1", "dca1", 2, src, ckpt, str(tmp_path / "out2"))
        assert job.query.isActive
        assert list(eng.routes.jobs) == [first["route"]]
    finally:
        eng.routes.remove(first["route"])
