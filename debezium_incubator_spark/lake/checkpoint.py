"""CheckpointStore — per-partition offset high-water marks + phase machine.

Reference analog: the two offset .properties files (snapshot /
commitlog) written ack-then-mark by FileOffsetWriter.java:41-172 +
KafkaRecordEmitter.java:58-100, and the Oracle snapshot lifecycle flags
(OracleOffsetContext.java:100-175).

Contract with LakeTable: the engine commits data FIRST (manifest summary
carries ``{epoch, max_offsets, counters}``), THEN writes the checkpoint,
once per epoch. On restart, if the table's committed epoch is ahead of
the checkpoint, the checkpoint is rebuilt from the commit summaries — so
a crash between commit and checkpoint cannot double-apply (exactly-once).

State shape (JSON, one file per epoch + atomic LATEST pointer):
    {
      "epoch": 3,                  # last fully applied micro-batch
      "phase": "snapshot"|"stream",# D6 handoff state machine
      "table_version": 5,          # lake version produced by epoch
      "stream_pos": 812,           # highest changelog offset delivered
      "max_offsets": {"0": 812},   # per-bucket lineage high-water marks
      "counters": {"rows_applied": ..., "deletes": ..., ...}
    }
``stream_pos`` is absent until the first epoch (read as -1). Keys an
older layout wrote beyond these are ignored; the next epoch's
checkpoint drops them.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any


def _atomic_write(path: str, data: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


INITIAL = {
    "epoch": -1,
    "phase": "snapshot",
    "table_version": None,
    "max_offsets": {},
    "counters": {},
}


class CheckpointStore:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def latest(self) -> dict[str, Any]:
        ptr = os.path.join(self.path, "LATEST")
        if not os.path.exists(ptr):
            return dict(INITIAL)
        with open(ptr) as f:
            epoch = int(f.read().strip())
        return self.load(epoch)

    def load(self, epoch: int) -> dict[str, Any]:
        with open(os.path.join(self.path, f"epoch={epoch}.json")) as f:
            return json.load(f)

    def save(self, state: dict[str, Any]) -> None:
        epoch = state["epoch"]
        _atomic_write(
            os.path.join(self.path, f"epoch={epoch}.json"), json.dumps(state, indent=1)
        )
        _atomic_write(os.path.join(self.path, "LATEST"), str(epoch))

    def reset(self) -> None:
        """Forget all persisted state (DROP TABLE teardown): a re-created
        table of the same name must start from INITIAL, not inherit the
        dropped table's phase/stream_pos — a stale ``stream_pos`` would
        make the replay guard silently skip the full-history replay the
        fresh table is owed (data loss, not duplicate absorption)."""
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path, exist_ok=True)

    def rewind_to(self, epoch: int) -> None:
        """Point LATEST at an older epoch (kill/replay tests)."""
        if not os.path.exists(os.path.join(self.path, f"epoch={epoch}.json")):
            raise FileNotFoundError(f"no checkpoint for epoch {epoch}")
        _atomic_write(os.path.join(self.path, "LATEST"), str(epoch))

    def epochs(self) -> list[int]:
        out = []
        for fn in os.listdir(self.path):
            if fn.startswith("epoch=") and fn.endswith(".json"):
                out.append(int(fn[len("epoch=") : -len(".json")]))
        return sorted(out)

    @staticmethod
    def merge_max_offsets(old: dict[str, int], new: dict[str, int]) -> dict[str, int]:
        """markOffset max-semantics (FileOffsetWriter.java:75-89)."""
        out = dict(old)
        for k, v in new.items():
            if v is None:
                continue
            out[k] = max(int(v), int(out.get(k, -(1 << 62))))
        return out

    @staticmethod
    def merge_counters(old: dict[str, int], new: dict[str, int]) -> dict[str, int]:
        out = dict(old)
        for k, v in new.items():
            out[k] = int(out.get(k, 0)) + int(v)
        return out
