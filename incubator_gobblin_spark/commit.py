"""Commit sequences: replayable exactly-once batch publish.

Reference: CommitSequence is an ordered list of CommitSteps persisted
BEFORE execution; if the job dies mid-publish, the next run detects the
unfinished sequence and replays it to completion before doing anything
else (gobblin-api .../commit/CommitSequence.java:66, CommitStep.java:33;
replay wiring AbstractJobLauncher.java:419-427,:650-657). This is the
exactly-once half the staging+abort flow doesn't cover: a crash BETWEEN
the first and last publish rename leaves a half-published dataset that
plain retry would double-publish.

Spark-first shape: steps are small serializable filesystem/metadata
ops (the data writes already happened into staging — Spark's committer
made those atomic per task); every step is IDEMPOTENT so replay after
a crash at any point converges. The store is a JSON document per
sequence, deleted only after the last step succeeds.

Lake log and metadata versions (Delta, Iceberg) publish through
:func:`put_if_absent`, the one create-if-absent primitive shared by
every lake writer. The files those versions reference are written
through :func:`stage_parquet`, the one staged-file writer (Gobblin's
writer-fills-staging, publisher-moves-into-place split).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from urllib.parse import unquote


@dataclass
class CommitStep:
    """One idempotent publish action (CommitStep.java:33).

    kinds:
    - ``rename``: move args[src] -> args[dst]; already-moved (src gone,
      dst present) is success.
    - ``delete``: remove args[path] if present.
    - ``mkdir``: ensure args[path] exists.
    - ``write_file``: atomically write args[content] to args[path]
      (same content every replay -> idempotent).
    """

    kind: str
    args: dict = field(default_factory=dict)

    def execute(self) -> None:
        if self.kind == "rename":
            src, dst = self.args["src"], self.args["dst"]
            if not os.path.exists(src):
                if os.path.exists(dst):
                    return  # replay of an already-completed step
                raise FileNotFoundError(f"rename: neither {src} nor {dst} exists")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            os.replace(src, dst)
        elif self.kind == "delete":
            p = self.args["path"]
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.exists(p):
                os.unlink(p)
        elif self.kind == "mkdir":
            os.makedirs(self.args["path"], exist_ok=True)
        elif self.kind == "write_file":
            p = self.args["path"]
            os.makedirs(os.path.dirname(p), exist_ok=True)
            tmp = p + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(self.args["content"])
            os.replace(tmp, p)
        else:
            raise ValueError(f"unknown commit step kind: {self.kind}")


class CommitSequenceStore:
    """FsStateStore-style persistence for unfinished sequences
    (one JSON doc per sequence; gone = committed)."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _doc(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.json")

    def persist(self, name: str, steps: list[CommitStep], done: int = 0) -> None:
        doc = {
            "name": name,
            "done": done,
            "steps": [{"kind": s.kind, "args": s.args} for s in steps],
        }
        tmp = self._doc(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, self._doc(name))

    def load(self, name: str) -> tuple[list[CommitStep], int]:
        with open(self._doc(name)) as fh:
            doc = json.load(fh)
        return [CommitStep(s["kind"], s["args"]) for s in doc["steps"]], doc["done"]

    def delete(self, name: str) -> None:
        if os.path.exists(self._doc(name)):
            os.unlink(self._doc(name))

    def unfinished(self) -> list[str]:
        return sorted(
            f[:-5] for f in os.listdir(self.root) if f.endswith(".json")
        )


class CommitSequence:
    """Persist-then-execute (CommitSequence.java:66): the sequence hits
    durable storage before the first step runs, progress is checkpointed
    per step, and the doc is deleted only after the last step — so a
    crash anywhere is recoverable by :func:`replay_unfinished`."""

    def __init__(self, name: str, store: CommitSequenceStore) -> None:
        self.name = name
        self.store = store
        self.steps: list[CommitStep] = []

    def add(self, kind: str, **args) -> "CommitSequence":
        self.steps.append(CommitStep(kind, args))
        return self

    def execute(self) -> None:
        self.store.persist(self.name, self.steps, done=0)
        _run(self.name, self.steps, 0, self.store)


def _run(
    name: str, steps: list[CommitStep], start: int, store: CommitSequenceStore
) -> None:
    for i in range(start, len(steps)):
        steps[i].execute()
        store.persist(name, steps, done=i + 1)
    store.delete(name)


def replay_unfinished(store: CommitSequenceStore) -> list[str]:
    """Run-at-startup recovery (AbstractJobLauncher.java:419-427):
    finish every half-published sequence, oldest first. Returns the
    names replayed. Steps are idempotent, so a crash DURING replay is
    just another replay."""
    replayed = []
    for name in store.unfinished():
        steps, done = store.load(name)
        _run(name, steps, done, store)
        replayed.append(name)
    return replayed


def put_if_absent(path: str, data: str) -> bool:
    """Create ``path`` holding ``data`` only if no file has that name
    yet; False means another writer holds it. This is the publish step
    of every lake commit: Delta ``NNN.json`` and Iceberg
    ``vN.metadata.json`` versions must be created put-if-absent
    (delta-io PROTOCOL.md; the Iceberg file-system catalog), and two
    writers that read the same head race for the same name.

    ``data`` is written in full to ``<path>.tmp-<pid>-<unique>``,
    fsynced, then hard-linked to ``path``. On POSIX ``link`` fails with
    EEXIST if the name is taken, and otherwise the target appears
    atomically complete. ``O_EXCL`` would refuse a taken name too, but
    it creates the file empty and fills it afterwards, so a concurrent
    reader could replay a partial version. EEXIST therefore only ever
    means a lost race: the caller re-reads the head and retries at the
    next version or aborts with a conflict error. Any other error
    propagates.

    ``data`` arrives serialized, so an encoding error is raised before
    any file exists, and the temp file is removed on every outcome.
    Log cleanup skips names containing ``.tmp-``. ``os.link`` is called
    through the module attribute so tests and tracers can wrap it.
    """
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:12]}"
    try:
        with open(tmp, "w") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        return True
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)


def _remove(paths) -> None:
    """Unlink files (or staging directories) no published metadata
    references. Missing ones are fine."""
    for p in paths:
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
            continue
        with contextlib.suppress(OSError):
            os.remove(p)


def _move_parts(staging: str, dest_dir: str, tag: str):
    """Move the ``*.parquet`` parts directly under ``staging`` into
    ``dest_dir`` as ``{tag}-<uuid12>-<i:05d>.parquet`` (collision-free
    next to other writers' files), yielding ``(part name, new path)``
    as each one lands, so a caller's cleanup sees every moved file even
    when a later move fails. ``dest_dir`` is created with the first
    part; Spark's ``_SUCCESS`` and ``.crc`` files stay behind."""
    parts = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    for i, fn in enumerate(parts):
        os.makedirs(dest_dir, exist_ok=True)
        dst = os.path.join(
            dest_dir, f"{tag}-{uuid.uuid4().hex[:12]}-{i:05d}.parquet"
        )
        shutil.move(os.path.join(staging, fn), dst)
        yield fn, dst


def _hive_partition(rel_dir: str) -> dict:
    """``{column: value}`` of a Spark ``partitionBy`` dir path
    ``k=v/...`` relative to the write root (``.`` is ``{}``). The one
    decoder of Spark's dir values: ``__HIVE_DEFAULT_PARTITION__`` is a
    null, anything else is percent-escaped."""
    if rel_dir == ".":
        return {}
    out = {}
    for seg in rel_dir.split(os.sep):
        k, _, v = seg.partition("=")
        out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    return out


def stage_parquet(
    df, root: str, dest: str, tag: str, part_cols=(), keep_empty=False
) -> list[tuple]:
    """Write ``df`` as parquet into the table at ``root`` and return
    ``(path, partition, footer metadata, size)`` per file: the file
    half of every lake commit, before :func:`put_if_absent` publishes
    the version that references the files.

    ``df`` is written as shaped (callers own repartition, ``coalesce``
    and sort) to ``<root>/.staging-<uuid>``, hive-partitioned by
    ``part_cols``. Each ``*.parquet`` part's footer is read once; parts
    with zero rows are dropped unless ``keep_empty`` (an empty write
    then still yields the one schema-carrying file Spark wrote). The
    rest move to ``dest/<hive dir>`` under the ``tag`` prefix (see
    :func:`_move_parts`), ``partition`` being the decoded hive dir
    (:func:`_hive_partition`). ``dest`` must lie under ``root``.

    If anything raises, every moved file is removed, and so is every
    dest dir that removal leaves empty. The staging dir is always
    removed, ``_SUCCESS`` and ``.crc`` files with it. Reclaiming the
    returned files after a lost commit is the caller's job."""
    import pyarrow.parquet as pq

    staging = os.path.join(root, f".staging-{uuid.uuid4().hex[:12]}")
    out: list[tuple] = []
    try:
        w = df.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.parquet(staging)
        for dirpath, dirs, files in os.walk(staging):
            dirs.sort()
            kept = {}
            for fn in sorted(f for f in files if f.endswith(".parquet")):
                fp = os.path.join(dirpath, fn)
                md = pq.read_metadata(fp)
                if md.num_rows or keep_empty:
                    kept[fn] = (md, os.path.getsize(fp))
                else:
                    os.remove(fp)
            rel = os.path.relpath(dirpath, staging)
            partition = _hive_partition(rel)
            dest_dir = os.path.normpath(os.path.join(dest, rel))
            for fn, fp in _move_parts(dirpath, dest_dir, tag):
                out.append((fp, partition, *kept[fn]))
    except BaseException:
        _remove([t[0] for t in out])
        stop = os.path.abspath(root)
        for d in sorted({os.path.dirname(t[0]) for t in out}, reverse=True):
            with contextlib.suppress(OSError):  # a non-empty dir stops it
                while os.path.abspath(d) != stop:
                    os.rmdir(d)
                    d = os.path.dirname(d)
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out
