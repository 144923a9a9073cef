"""The epoch-fenced commit log shared by the catalog, the manifest table
and the dedup-ingest state (vanus_spark/commitlog.py). Spark-free."""

from __future__ import annotations

import json
import os

import pytest

from vanus_spark import commitlog
from vanus_spark.commitlog import ConcurrentWriterError


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _text(path):
    with open(path) as f:
        return f.read()


def test_stale_epoch_is_fenced(tmp_path):
    d = str(tmp_path)
    assert commitlog.commit(d, 0, ["b1-aaaaaaaa"]) == 1
    with pytest.raises(ConcurrentWriterError):
        commitlog.commit(d, 0, ["b1-bbbbbbbb"])  # also observed epoch 0
    assert commitlog.read(d) == (1, ["b1-aaaaaaaa"], {})
    assert commitlog.epochs(d) == [1]
    assert not os.path.exists(f"{d}/.COMMITTED.lock")  # released on raise


def test_busy_lock_raises_timeout(tmp_path, monkeypatch):
    d = str(tmp_path)
    monkeypatch.setattr(commitlog, "_LOCK_TIMEOUT_S", 0.05)
    _write(f"{d}/.COMMITTED.lock", "")  # another writer holds the lock
    with pytest.raises(TimeoutError):
        commitlog.commit(d, 0, ["b1-aaaaaaaa"])
    assert not os.path.exists(f"{d}/COMMITTED")
    assert os.path.exists(f"{d}/.COMMITTED.lock")  # not ours to remove


def test_history_is_written_before_committed(tmp_path, monkeypatch):
    d = str(tmp_path)
    swaps = []
    real_replace = os.replace

    def crash_at_commit_point(src, dst):
        swaps.append(os.path.relpath(dst, d))
        if dst.endswith("COMMITTED"):
            raise OSError("crash at the commit point")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_at_commit_point)
    with pytest.raises(OSError):
        commitlog.commit(d, 0, ["b1-aaaaaaaa"])
    monkeypatch.undo()
    assert swaps == ["manifests/m1", "COMMITTED"]
    # the crash left the store at epoch 0; the orphan history copy is
    # overwritten by the epoch's real commit
    assert commitlog.read(d).epoch == 0
    assert commitlog.commit(d, 0, ["b1-bbbbbbbb"]) == 1
    assert commitlog.read(d, 1).entries == ["b1-bbbbbbbb"]


def test_vacuum_keeps_generations_above_the_retained_ones(tmp_path):
    d = str(tmp_path)
    data = [f"{d}/corpus", f"{d}/sig"]
    for name in ("b1-aaaaaaaa", "b2-aaaaaaaa", "b3-bbbbbbbb"):
        for kind in data:
            os.makedirs(f"{kind}/{name}")
    commitlog.commit(d, 0, ["b1-aaaaaaaa"])
    commitlog.commit(d, 1, ["b2-aaaaaaaa"])
    assert commitlog.next_generation(data) == 4
    # b3 is another writer's uncommitted batch: above the retained
    # generation 2, so it survives; b1 is referenced only by epoch 1
    assert commitlog.vacuum(d, data, retain_epochs=1) == 2
    for kind in data:
        assert sorted(os.listdir(kind)) == ["b2-aaaaaaaa", "b3-bbbbbbbb"]
    assert commitlog.epochs(d) == [2]
    with pytest.raises(FileNotFoundError):
        commitlog.read(d, 1)


def test_vacuum_reads_table_entries_by_their_generation_directory(tmp_path):
    d = str(tmp_path)
    data = [f"{d}/data"]
    for rel in ("g1-aaaaaaaa/_b=0", "g1-aaaaaaaa/_b=1", "g2-aaaaaaaa/_b=1"):
        os.makedirs(f"{d}/data/{rel}")
    commitlog.commit(d, 0, ["0:g1-aaaaaaaa/_b=0", "1:g1-aaaaaaaa/_b=1"])
    commitlog.commit(d, 1, ["0:g1-aaaaaaaa/_b=0", "1:g2-aaaaaaaa/_b=1"])
    assert commitlog.vacuum(d, data, retain_epochs=1) == 0  # g1 still live
    assert sorted(os.listdir(f"{d}/data")) == ["g1-aaaaaaaa", "g2-aaaaaaaa"]


TABLE_MANIFEST = (
    "#epoch=3\n"
    "#meta:applied_epoch=7\n"
    "#meta:source=cdc\n"
    "0:g1-0a1b2c3d/_b=0\n"
    "2:g3-9f8e7d6c/_b=2\n"
    "5:g2-0a1b2c3d/_b=5"
)
DEDUP_MANIFEST = "#epoch=4\nc3-0a1b2c3d\nb4-0a1b2c3d"


@pytest.mark.parametrize("text", [TABLE_MANIFEST, DEDUP_MANIFEST])
def test_manifest_format_round_trips(tmp_path, text):
    d = str(tmp_path)
    _write(f"{d}/COMMITTED", text)
    m = commitlog.read(d)
    assert commitlog.render(*m) == text
    commitlog.commit(d, m.epoch, m.entries, m.meta)
    bumped = text.replace(f"#epoch={m.epoch}", f"#epoch={m.epoch + 1}")
    assert _text(f"{d}/COMMITTED") == bumped
    assert _text(f"{d}/manifests/m{m.epoch + 1}") == bumped


def test_catalog_document_round_trips(tmp_path):
    from vanus_spark.catalog import Catalog

    path = str(tmp_path / "catalog.json")
    doc = {
        "epoch": 4,
        "state": {
            "namespaces": {"7": {"id": 7, "name": "default", "created_at": 1, "updated_at": 1}},
            "eventbuses": {},
            "subscriptions": {},
            "users": {},
            "tokens": {},
            "roles": [],
            "cluster": None,
            "connectors": {},
        },
    }
    _write(path, json.dumps(doc))
    cat = Catalog(path)
    assert cat.get_namespace(7)["name"] == "default"
    cat._commit()
    assert _text(path) == json.dumps({**doc, "epoch": 5})
    stale = Catalog(path)
    cat._commit()
    with pytest.raises(ConcurrentWriterError):
        stale._commit()
    assert not os.path.exists(path + ".lock")
