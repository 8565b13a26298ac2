"""Snapshot progress tracking: resume a failed load without redoing
finished work.

≈ ``pkg/worker/tasks/snapshot_table_progress_tracker.go:17`` in
transferia/transferia: every table part reports progress to shared
memory (``UpdateOperationTablesParts``), so a restarted operation
skips completed parts instead of re-reading a 10-hour snapshot from
zero.

Spark translation: WITHIN one activate() run, Spark's own task retry
is the part-level recovery (a failed task re-runs, the job resumes) —
the tracker's job here is CROSS-run durability. The store is a small
JSON file (stand-in for the coordinator's shared memory; on a cluster
point it at an object-store key or a table — the interface is the
same, mirroring IncrementalState):

- table granularity: ``activate`` marks each output table after its
  write commits and skips tables already marked on the next run;
- part granularity: part-planned sources (JDBC ranges, Mongo _id
  ranges, CH shard×part) can persist per-part completion and ask for
  the still-pending subset.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from transferia_spark import durable


@dataclass
class SnapshotProgress:
    path: str
    operation_id: str = "op"

    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def _save(self, data: dict) -> None:
        # one publish per save, like the tracker's single flush
        durable.publish(self.path, json.dumps(data))

    def _op(self, data: dict) -> dict:
        return data.setdefault(self.operation_id, {})

    # -- table granularity --------------------------------------------------

    def table_done(self, table: str) -> bool:
        return self._load().get(self.operation_id, {}).get(table, {}).get("completed", False)

    def mark_table(self, table: str, rows: int = -1) -> None:
        data = self._load()
        ent = self._op(data).setdefault(table, {})
        ent["completed"] = True
        ent["rows"] = rows
        self._save(data)

    # -- part granularity ---------------------------------------------------

    def part_done(self, table: str, part_key: str) -> bool:
        ent = self._load().get(self.operation_id, {}).get(table, {})
        return ent.get("parts", {}).get(part_key, {}).get("completed", False)

    def mark_part(self, table: str, part_key: str, rows: int = -1) -> None:
        data = self._load()
        ent = self._op(data).setdefault(table, {})
        ent.setdefault("parts", {})[part_key] = {"completed": True, "rows": rows}
        self._save(data)

    def pending_parts(self, table: str, part_keys: list[str]) -> list[str]:
        ent = self._load().get(self.operation_id, {}).get(table, {})
        done = {k for k, v in ent.get("parts", {}).items() if v.get("completed")}
        return [k for k in part_keys if k not in done]

    def clear(self) -> None:
        data = self._load()
        data.pop(self.operation_id, None)
        self._save(data)
