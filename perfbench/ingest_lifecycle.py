"""``ingest_lifecycle``: increments land in a lake, then lifecycle jobs
run on lake tables (Gobblin's extract -> convert -> quality-check ->
write -> publish, then CDC merge, purge, replication and maintenance).

A round runs the ingest stage (``ingest.py``) and then the lifecycle
stage (``lifecycle.py``), each from its own fixed starting state, so
every round is the same seeded work.
"""

from __future__ import annotations

from ingest import Ingest
from lifecycle import Lifecycle


class IngestLifecycle:
    name = "ingest_lifecycle"

    def __init__(self, bench):
        self.b = bench
        self.ingest = Ingest(bench)
        self.lifecycle = Lifecycle(bench)
        self.stages = (self.ingest, self.lifecycle)

    def wraps(self):
        seen, out = set(), []
        for stage in self.stages:
            for owner, attr, name in stage.wraps():
                if (owner, attr) not in seen:
                    seen.add((owner, attr))
                    out.append((owner, attr, name))
        return out

    def setup(self) -> None:
        for stage in self.stages:
            stage.setup()
        self.b.watch(self.ingest.lake, self.lifecycle.delta, self.lifecycle.ice)

    def warm(self) -> None:
        for stage in self.stages:
            stage.warm()

    def reset(self, i: int) -> None:
        for stage in self.stages:
            stage.reset(i)

    def round(self, i: int) -> None:
        for stage in self.stages:
            stage.round(i)
        disk = sum(s.disk_bytes() for s in self.stages)
        live = self.ingest.live_bytes + self.lifecycle.live_total()
        self.b.set_storage_amp(disk / live)

    def check(self) -> None:
        for stage in self.stages:
            stage.check()

    def layer_metrics(self) -> dict[str, float]:
        traced = [r for r in self.b.rounds if r.traced]
        written = sum(r.bytes_written for r in traced) / len(traced)
        return {
            "sinks.read_committed_growth": self.ingest.read_growth(),
            "sinks.files_written": sum(r.files_written for r in traced) / len(traced),
            "sinks.bytes_written": written,
            "sinks.write_amp": written / sum(s.user_bytes() for s in self.stages),
            "sinks.live_files": sum(s.live_files() for s in self.stages),
        }
