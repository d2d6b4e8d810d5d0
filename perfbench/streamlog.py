"""Outside-in view of a file-source streaming query, read from its
checkpoint directory.

- ``sources/0/<batchId>`` and ``sources/0/<batchId>.compact``: the
  file-source log. One JSON entry per input file, each carrying its
  ``batchId``; every 10th batch the log is compacted into one file
  that repeats all earlier entries.
- ``offsets/<batchId>``: written when a batch is planned.
- ``commits/<batchId>``: written when a batch's sink writes are done.
  Its mtime is when the batch's rows became visible.
"""

from __future__ import annotations

import json
import os


def _log_entries(directory: str):
    if not os.path.isdir(directory):
        return
    for name in os.listdir(directory):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(directory, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if line.strip():
                yield json.loads(line)


def file_batches(checkpoint: str) -> dict[str, int]:
    """Input file basename -> id of the batch that read it."""
    return {
        os.path.basename(e["path"]): int(e["batchId"])
        for e in _log_entries(os.path.join(checkpoint, "sources", "0"))
    }


def _mtimes(directory: str) -> dict[int, float]:
    out = {}
    if os.path.isdir(directory):
        for name in os.listdir(directory):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(directory, name)).st_mtime_ns / 1e9
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> wall time its commit-log entry was written."""
    return _mtimes(os.path.join(checkpoint, "commits"))


def plan_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> wall time its offsets entry (the WAL) was written."""
    return _mtimes(os.path.join(checkpoint, "offsets"))


def file_commit_times(checkpoint: str) -> dict[str, float]:
    """Input file basename -> commit time of its batch (committed files only)."""
    commits = commit_times(checkpoint)
    return {f: commits[b] for f, b in file_batches(checkpoint).items() if b in commits}


def backlog_series(writes: dict[str, float], checkpoint: str) -> list[tuple[float, int]]:
    """(t, files written but not yet planned into a batch) at each file
    write instant: how far the source lags behind the newest input."""
    planned = plan_times(checkpoint)
    batch_of = file_batches(checkpoint)
    picked = {f: planned.get(batch_of.get(f), float("inf")) for f in writes}
    return [
        (t, sum(1 for f, w in writes.items() if w <= t and picked[f] > t))
        for t in sorted(writes.values())
    ]
