"""Checkpoint / resume — the reference's state-file semantics on a
manifest table.

Reference (internal/app/manager/manager.go:171-235, internal/cli/
state.go:19-37): state is carried through the pipeline and persisted only
AFTER all outputs succeeded — at-least-once overall; a crash between
output-write and state-save replays the batch.

Here: a JSON-lines manifest under ``<dir>/<instance_id>.manifest.jsonl``
records one committed batch per line:
    {batch_id, source_state, per_stage_counts, per_sink_counts, committed_at}
Commit order is sinks-first, manifest-last (same as the reference).
Replayed batches are idempotent because every sink writes to a
deterministic ``batch_id=N`` location with overwrite — so the observable
output converges to exactly-once even though the control flow is
at-least-once.

JSON-lines (not parquet) because the manifest is tiny, append-only, and
driver-side; on a cluster this would be an Iceberg/Delta table or the
Structured Streaming checkpoint dir — the interface below is the swap
point.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class BatchRecord:
    batch_id: int
    source_state: dict = field(default_factory=dict)
    per_stage_counts: dict = field(default_factory=dict)
    per_sink_counts: dict = field(default_factory=dict)
    # diagnostic: empty lines filtered before each sink write (reference
    # counts these per output, e.g. internal/output/log_analytics/
    # log_analytics.go:133-135, kafka.go:86-90)
    per_sink_empty_counts: dict = field(default_factory=dict)
    # diagnostic: bounded-retry tally per sink (the reference's RetryCount
    # in PipelineResults, pkg/core/channel.go:3-8; its HTTP-family outputs
    # do 3-attempt retries, log_analytics.go:186, s3.go:38)
    per_sink_retry_counts: dict = field(default_factory=dict)
    # per-partition lineage: {spark_partition_id: rows surviving the
    # processor chain} — the partition-granular progress/skew record the
    # north rule asks for (and the reference's per-batch ResultCount,
    # pkg/core/channel.go:3-8, generalized below file granularity)
    partition_counts: dict = field(default_factory=dict)
    committed_at: float = 0.0
    # True only on records returned by run_batch's on_error='drop' path —
    # never committed to the manifest, lets run_tick distinguish a
    # swallowed failure from a success when no manifest is configured
    failed: bool = False


@dataclass
class Status:
    """Instance status roll-up (reference internal/app/manager/
    status.go:7-27 — Running, Errors, LastSuccessfulRun,
    LastSuccessfulResultCount, HasErrors, ErrorsSinceSuccessfulRun)."""

    last_successful_run: float | None = None
    last_successful_result_count: int = 0
    errors: list[str] = field(default_factory=list)
    errors_since_successful_run: int = 0

    @property
    def has_errors(self) -> bool:
        return bool(self.errors)


class Manifest:
    def __init__(self, state_dir: str, instance_id: str):
        os.makedirs(state_dir, exist_ok=True)
        self.path = os.path.join(state_dir, f"{instance_id}.manifest.jsonl")
        self.errors_path = os.path.join(state_dir, f"{instance_id}.errors.jsonl")

    def load(self) -> list[BatchRecord]:
        if not os.path.exists(self.path):
            return []
        out = []
        with open(self.path) as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(BatchRecord(**json.loads(line)))
        return out

    def resume_point(self) -> tuple[int, dict]:
        """(highest committed batch id, its source state) from ONE load;
        (-1, {}) when nothing is committed. The resume token is that of
        the HIGHEST id (reference LoadState, internal/cli/state.go:28-37),
        not records[-1]: commit() of a replayed older batch rewrites that
        record at the END of the file, and taking insertion order would
        roll the resume token back — the next tick would then reuse an
        already-committed batch id, skip the freshly-read data as a
        duplicate, and still ack it (data loss)."""
        records = self.load()
        if not records:
            return -1, {}
        last = max(records, key=lambda r: r.batch_id)
        return last.batch_id, last.source_state

    def last_state(self) -> dict:
        return self.resume_point()[1]

    def last_batch_id(self) -> int:
        return self.resume_point()[0]

    def committed(self, batch_id: int) -> bool:
        return any(r.batch_id == batch_id for r in self.load())

    def commit(self, record: BatchRecord) -> None:
        """THE commit point (reference saveState, manager.go:218-235).
        Atomic via write-to-temp + rename of the whole file."""
        record.committed_at = time.time()
        records = [r for r in self.load() if r.batch_id != record.batch_id]
        records.append(record)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            for r in records:
                f.write(json.dumps(r.__dict__, separators=(",", ":")) + "\n")
        os.replace(tmp, self.path)

    def record_error(self, batch_id: int, message: str) -> None:
        """Append a batch failure (reference errorHandler path,
        manager.go:166-169: the batch is dropped, the error logged)."""
        with open(self.errors_path, "a") as f:
            f.write(
                json.dumps(
                    {"batch_id": batch_id, "error": message, "at": time.time()},
                    separators=(",", ":"),
                )
                + "\n"
            )

    def _errors(self) -> list[dict]:
        if not os.path.exists(self.errors_path):
            return []
        out = []
        with open(self.errors_path) as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        return out

    def status(self) -> Status:
        """Roll-up (status.go:7-27): last successful batch + error tally.
        A successful run RESETS the visible errors (reference
        successfulStatus clears Errors/HasErrors, status.go:29-44), so
        both ``errors`` and ``has_errors`` reflect only errors logged
        after the last commit."""
        records = self.load()
        errors = self._errors()
        last = records[-1] if records else None
        since = [
            e
            for e in errors
            if last is None or e["at"] > last.committed_at
        ]
        return Status(
            last_successful_run=last.committed_at if last else None,
            last_successful_result_count=(
                sum(last.per_sink_counts.values()) if last else 0
            ),
            errors=[e["error"] for e in since],
            errors_since_successful_run=len(since),
        )
