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
every lake writer.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid
from dataclasses import dataclass, field


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
