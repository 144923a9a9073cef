"""Epoch-fenced commit log: the one commit protocol behind every durable
store (the control-plane catalog, ``ManifestTable`` and the
dedup-ingest state).

The reference makes metadata and log writes atomic and single-writer
through its Raft-replicated store (server/store/raft/). Here a store
publishes one file by write-temp + atomic rename, and concurrent
writers are fenced by an epoch: a writer that observed epoch E may
only publish E+1, checked under a short-lived lock file — optimistic
concurrency, the version check of a Delta transaction log. The loser
gets ``ConcurrentWriterError``; whatever it wrote before the swap is an
orphan no reader follows.

Manifest stores share one layout and text format:

    <dir>/COMMITTED      # "#epoch=N", then "#meta:k=v" lines, then entries
    <dir>/manifests/mN   # the same text for every committed epoch N

An entry names a data directory, optionally behind a key and followed
by a path inside it (``5:g3-1a2b3c4d/_b=5`` maps a table's bucket 5,
``b3-1a2b3c4d`` is a dedup-ingest batch). A data directory's name
starts with one letter and its generation number, so generations order
every write, committed or not.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from contextlib import contextmanager
from typing import Callable, Iterator, NamedTuple

_LOCK_TIMEOUT_S = 10.0
_LOCK_POLL_S = 0.01
_GENERATION = re.compile(r"^[a-z](\d+)")
_HISTORY = re.compile(r"^m(\d+)$")


class ConcurrentWriterError(RuntimeError):
    """Another writer committed since this writer last read the store.
    Re-read it (refresh, or a new handle) before writing again."""


class Manifest(NamedTuple):
    epoch: int
    entries: list[str]
    meta: dict[str, str]


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` by write-temp + ``os.replace``: a
    reader, or a restart after a crash, sees the old content or the
    new, never an empty or partial file."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


@contextmanager
def _locked(lock: str) -> Iterator[None]:
    deadline = time.monotonic() + _LOCK_TIMEOUT_S
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() > deadline:
                raise TimeoutError(f"commit lock busy: {lock}")
            time.sleep(_LOCK_POLL_S)
    try:
        yield
    finally:
        os.close(fd)
        os.unlink(lock)


def fenced_swap(
    path: str,
    lock: str,
    epoch: int,
    live_epoch: Callable[[], int],
    render: Callable[[int], str],
    history_dir: str | None = None,
) -> int:
    """Publish ``render(epoch + 1)`` at ``path`` if the store is still
    at ``epoch``; returns the new epoch. Under ``lock`` it re-reads the
    live epoch and raises ``ConcurrentWriterError`` on a mismatch. With
    ``history_dir`` the history copy lands first: a crash before the
    ``path`` swap leaves an orphan history file that the epoch's real
    commit later overwrites."""
    with _locked(lock):
        live = live_epoch()
        if live != epoch:
            raise ConcurrentWriterError(
                f"stale writer: observed epoch {epoch}, live epoch {live} ({path})"
            )
        new_epoch = epoch + 1
        text = render(new_epoch)
        if history_dir is not None:
            os.makedirs(history_dir, exist_ok=True)
            write_atomic(f"{history_dir}/m{new_epoch}", text)
        write_atomic(path, text)  # commit point
    return new_epoch


# ----- manifest stores ------------------------------------------------------


def parse(text: str) -> Manifest:
    """Pre-epoch manifests (no ``#epoch`` line) read as epoch 0."""
    epoch, entries, meta = 0, [], {}
    for tok in text.split():
        if tok.startswith("#epoch="):
            epoch = int(tok[len("#epoch=") :])
        elif tok.startswith("#meta:"):
            k, v = tok[len("#meta:") :].split("=", 1)
            meta[k] = v
        elif not tok.startswith("#"):
            entries.append(tok)
    return Manifest(epoch, entries, meta)


def render(epoch: int, entries: list[str], meta: dict[str, str] | None = None) -> str:
    return "\n".join(
        [
            f"#epoch={epoch}",
            *(f"#meta:{k}={v}" for k, v in sorted((meta or {}).items())),
            *entries,
        ]
    )


def read(store_dir: str, epoch: int | None = None) -> Manifest:
    """The live manifest (epoch 0 with no entries before the first
    commit), or the history copy of a committed ``epoch`` —
    ``FileNotFoundError`` when it was never committed or vacuum pruned
    it."""
    if epoch is None:
        path = f"{store_dir}/COMMITTED"
        if not os.path.exists(path):
            return parse("")
    else:
        path = f"{store_dir}/manifests/m{epoch}"
    with open(path) as f:
        return parse(f.read())


def epochs(store_dir: str) -> list[int]:
    """Committed epochs whose history copy is still on disk."""
    d = f"{store_dir}/manifests"
    if not os.path.isdir(d):
        return []
    return sorted(int(m.group(1)) for n in os.listdir(d) if (m := _HISTORY.match(n)))


def commit(
    store_dir: str, epoch: int, entries: list[str], meta: dict[str, str] | None = None
) -> int:
    """Publish ``entries`` (and ``meta``) as the manifest of epoch
    ``epoch + 1``, history copy first; returns the new epoch."""
    return fenced_swap(
        f"{store_dir}/COMMITTED",
        f"{store_dir}/.COMMITTED.lock",
        epoch,
        lambda: read(store_dir).epoch,
        lambda new_epoch: render(new_epoch, entries, meta),
        history_dir=f"{store_dir}/manifests",
    )


def _directory(entry: str) -> str:
    return entry.split("/", 1)[0].rsplit(":", 1)[-1]


def _generation(name: str) -> int | None:
    m = _GENERATION.match(name)
    return int(m.group(1)) if m else None


def next_generation(data_dirs: list[str]) -> int:
    """1 + the highest generation across every directory under
    ``data_dirs`` (committed, orphaned or mid-write), so a fresh name
    never collides with one a reader or another writer can see."""
    gens = [
        g
        for d in data_dirs
        if os.path.isdir(d)
        for name in os.listdir(d)
        if (g := _generation(name)) is not None
    ]
    return max(gens, default=0) + 1


def vacuum(store_dir: str, data_dirs: list[str], retain_epochs: int = 1) -> int:
    """Retention GC: delete every data directory that neither the live
    manifest nor the last ``retain_epochs`` history copies reference,
    then prune the unretained history. Returns the number of
    directories deleted.

    Only directories whose generation is at most the highest retained
    one are candidates: an in-flight writer's directories carry a
    higher generation than anything committed when it started, so a
    concurrent vacuum never deletes them."""
    eps = epochs(store_dir)
    retained = set(eps[-max(1, retain_epochs) :])
    live = read(store_dir)
    referenced = {_directory(x) for x in live.entries}
    for e in retained:
        referenced.update(_directory(x) for x in read(store_dir, e).entries)
    max_gen = max((_generation(n) or 0 for n in referenced), default=0)
    deleted = 0
    for d in data_dirs:
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            g = _generation(name)
            if g is not None and g <= max_gen and name not in referenced:
                shutil.rmtree(os.path.join(d, name), ignore_errors=True)
                deleted += 1
    for e in eps:
        if e not in retained and e != live.epoch:
            try:
                os.unlink(f"{store_dir}/manifests/m{e}")
            except FileNotFoundError:
                pass
    return deleted
