"""Manifest lake reader: head resolution and manifest loading.

A manifest lake (``FileSink(commit_mode="manifest")``) is laid out as:

- ``_data/<run_id>/``: the immutable data files of one run.
- ``_manifests/<run_id>.json``: the snapshot a run commits: its
  ``run_id``, ``parent`` run id, commit ``seq`` and the ``groups`` it
  references.
- ``_manifests/groups/*.json``: immutable per-partition entry lists
  (one entry per data file, with its stats).
- ``_manifests/log/<seq:020d>.json``: the commit log. Entry ``seq``
  holds the relative path of the manifest committed at that seq. It is
  created with :func:`~incubator_gobblin_spark.commit.put_if_absent`,
  so two committers on the same base race for one name and one loses.
- ``_CURRENT``: a hint naming a recently committed manifest, rewritten
  after each commit.

The head is the manifest the hint names, followed forward through
``log/<seq + 1>`` for as long as that entry exists. A crash between a
commit's log put and its hint write therefore costs readers one extra
read, never the commit. A lake whose manifests carry no ``seq`` (it
predates the log and has only ``_CURRENT``) is at seq 0 and takes the
next commit at ``log/1``.

Every reader of the lake, ``FileSink`` and the ``lakecdf`` stream,
resolves the head and loads manifests here.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

HINT = "_CURRENT"
LOG_DIR = os.path.join("_manifests", "log")


class Head(NamedTuple):
    """The committed head: its log ``seq`` (0 before the first logged
    commit) and its manifest (None before the first commit), with group
    references only."""

    seq: int
    manifest: dict | None


def manifest_rel(run_id: str) -> str:
    return os.path.join("_manifests", f"{run_id}.json")


def log_entry(root: str, seq: int) -> str:
    return os.path.join(root, LOG_DIR, f"{seq:020d}.json")


def log_seqs(root: str) -> list[int]:
    """Seqs of the log entries present, ascending."""
    try:
        names = os.listdir(os.path.join(root, LOG_DIR))
    except FileNotFoundError:
        return []
    return sorted(int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit())


def _read(root: str, rel: str) -> dict:
    with open(os.path.join(root, rel)) as fh:
        return json.load(fh)


def read_head(root: str) -> Head:
    """Resolve the committed head: the hint's manifest, then every log
    entry after its seq. Costs one failed open in the steady state."""
    try:
        with open(os.path.join(root, HINT)) as fh:
            rel = fh.read().strip()
    except FileNotFoundError:
        rel = ""
    m = _read(root, rel) if rel else None
    seq = m.get("seq", 0) if m else 0
    while True:
        try:
            with open(log_entry(root, seq + 1)) as fh:
                rel = fh.read().strip()
        except FileNotFoundError:
            return Head(seq, m)
        seq += 1
        m = _read(root, rel)


def load_run(root: str, run_id: str) -> dict:
    """The manifest ``run_id`` wrote, with group references only."""
    try:
        return _read(root, manifest_rel(run_id))
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no committed manifest for run {run_id!r} under {root} (vacuumed?)"
        ) from None


def history(root: str) -> list[str]:
    """Committed run ids, newest first, by walking the parent chain
    from the head (only COMMITTED snapshots appear — a manifest file
    that lost its log put is not in any chain). O(retained history)
    manifest reads: a test of one run id goes through
    :func:`is_committed`."""
    chain: list[str] = []
    m = read_head(root).manifest
    while m is not None:
        chain.append(m["run_id"])
        if not m["parent"]:
            break
        try:
            m = load_run(root, m["parent"])
        except FileNotFoundError:  # parent vacuumed away
            break
    return chain


def is_committed(root: str, run_id: str) -> bool:
    """Whether ``run_id`` is in :func:`history`, from at most two small
    reads: its manifest exists, carries ``seq``, and ``log/<seq>`` names
    it. A log entry naming another manifest means this one lost its put.
    A manifest without ``seq`` (a lake written before the commit log),
    or whose log entry is gone (never put, or vacuumed while the
    manifest was still inside the grace window), falls back to the
    walk."""
    rel = manifest_rel(run_id)
    try:
        seq = _read(root, rel).get("seq")
    except FileNotFoundError:
        return False
    if seq is not None:
        try:
            with open(log_entry(root, seq)) as fh:
                return fh.read().strip() == rel
        except FileNotFoundError:
            pass
    return run_id in history(root)


def load_group(root: str, group: dict) -> list[dict]:
    return _read(root, group["file"])["entries"]


def load_entries(root: str, manifest: dict) -> list[dict]:
    """Every file entry of a manifest, in group order."""
    return [e for g in manifest["groups"] for e in load_group(root, g)]
