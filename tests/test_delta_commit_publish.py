"""The one Delta commit publish (``_publish_commit``) and the one JSON
commit reader (``_commit_actions``): a failed publish leaves no commit
behind, racing writers get exactly one winner whose commit is complete,
and a commit file with no actions is refused instead of replayed as an
empty version. No Spark session is needed."""

from __future__ import annotations

import json
import multiprocessing as mp
import os
from pathlib import Path

import pytest

from evolution_spark.io.delta_log import (
    _commit_actions,
    _publish_commit,
    _replay_log,
)

SCHEMA = json.dumps({
    "type": "struct",
    "fields": [{"name": "id", "type": "long", "nullable": True,
                "metadata": {}}],
})


def _v0(table_dir: Path) -> Path:
    """A hand-written version 0: protocol + metaData, no files."""
    log = table_dir / "_delta_log"
    log.mkdir(parents=True)
    (log / f"{0:020d}.json").write_text(
        json.dumps({"protocol": {"minReaderVersion": 1,
                                 "minWriterVersion": 2}}) + "\n"
        + json.dumps({"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": SCHEMA, "partitionColumns": [],
            "configuration": {}, "createdTime": 0,
        }}) + "\n"
    )
    return log


def _add(i: int, writer: int) -> dict:
    return {"add": {
        "path": f"part-w{writer}-{i:05d}.parquet", "partitionValues": {},
        "size": 100 + i, "modificationTime": 0, "dataChange": True,
        "stats": json.dumps({"numRecords": i}),
    }}


def _actions(writer: int, n: int = 400) -> list[dict]:
    return [{"commitInfo": {"operation": "WRITE", "writer": writer}}] + [
        _add(i, writer) for i in range(n)
    ]


def _serialized(actions: list[dict]) -> str:
    return "".join(json.dumps(a) + "\n" for a in actions)


def test_failed_publish_leaves_no_commit_and_retry_succeeds(tmp_path):
    log = _v0(tmp_path)
    commit = log / f"{1:020d}.json"
    # an action JSON cannot serialize: the publish fails before any file
    # carries the version's name
    with pytest.raises(TypeError):
        _publish_commit(
            tmp_path, 1, [{"commitInfo": {"bad": object()}}], "test"
        )
    assert not commit.exists()
    assert sorted(p.name for p in log.iterdir()) == [f"{0:020d}.json"]
    # the retry at the same version is not mistaken for a concurrent commit
    _publish_commit(tmp_path, 1, _actions(0, 3), "test")
    assert _commit_actions(log, 1) == _actions(0, 3)
    live, *_ = _replay_log(tmp_path)
    assert len(live) == 3


def test_publish_failing_mid_write_leaves_no_commit(tmp_path, monkeypatch):
    log = _v0(tmp_path)

    def _fail(fd):
        raise OSError("injected fsync failure")

    # the failure hits after the temp file is written, before the link
    monkeypatch.setattr(os, "fsync", _fail)
    with pytest.raises(OSError, match="injected"):
        _publish_commit(tmp_path, 1, _actions(0, 3), "test")
    monkeypatch.undo()
    assert sorted(p.name for p in log.iterdir()) == [f"{0:020d}.json"]
    _publish_commit(tmp_path, 1, _actions(1, 3), "test")
    assert _commit_actions(log, 1) == _actions(1, 3)


def _race_writer(table_dir: str, writer: int, barrier, results) -> None:
    barrier.wait()
    try:
        _publish_commit(Path(table_dir), 1, _actions(writer), "race")
        results.put((writer, "ok"))
    except RuntimeError as e:
        results.put((writer, str(e)))


def test_racing_writers_have_exactly_one_complete_winner(tmp_path):
    log = _v0(tmp_path)
    n = 8
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(n)
    results = ctx.Queue()
    procs = [
        ctx.Process(target=_race_writer,
                    args=(str(tmp_path), w, barrier, results))
        for w in range(n)
    ]
    for p in procs:
        p.start()
    outcomes = dict(results.get(timeout=120) for _ in range(n))
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    winners = [w for w, r in outcomes.items() if r == "ok"]
    assert len(winners) == 1
    losers = [r for w, r in outcomes.items() if w not in winners]
    assert len(losers) == n - 1
    assert all("concurrent commit detected" in r for r in losers)
    # the commit holds the winner's actions in full, and no temp file is
    # left behind by any writer
    assert (log / f"{1:020d}.json").read_text() == _serialized(
        _actions(winners[0])
    )
    assert sorted(p.name for p in log.iterdir()) == [
        f"{0:020d}.json", f"{1:020d}.json"
    ]


def test_commit_with_no_actions_is_refused(tmp_path):
    log = _v0(tmp_path)
    (log / f"{1:020d}.json").write_text("")
    with pytest.raises(RuntimeError, match="holds no actions"):
        _commit_actions(log, 1)
    with pytest.raises(RuntimeError, match="holds no actions"):
        _replay_log(tmp_path)
    # a whitespace-only commit is just as empty
    (log / f"{1:020d}.json").write_text("\n  \n")
    with pytest.raises(RuntimeError, match="holds no actions"):
        _replay_log(tmp_path)
