"""Map the files of an open-loop file stream to the micro-batches that
consumed them, from the query's progress events and its source log.

A file source appends one entry per listing to its source log
(``<checkpoint>/sources/0/<n>``); one entry can hold several files.
A micro-batch covers the log entries in (startOffset, endOffset]. The
source log's own ``batchId`` is not the query's batch id, and a batch's
``numInputRows`` can read 0 even when its offset advanced over a whole
file, so the mapping goes through the offsets of *every* progress event.
A batch whose offset did not move is a no-data batch.
"""

from __future__ import annotations

import datetime as _dt
import json
import os


def log_offset(off) -> int:
    """File-source offset (None, JSON text or parsed dict) -> log entry number."""
    if off is None:
        return -1
    if isinstance(off, str):
        off = json.loads(off)
    return int(off["logOffset"])


def parse_ts(ts: str) -> float:
    """Progress timestamp ('2026-01-01T00:00:00.123Z') -> epoch seconds."""
    return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_window(p: dict) -> tuple[float, float]:
    """(start, end) epoch seconds of a micro-batch from its progress event."""
    start = parse_ts(p["timestamp"])
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def offsets(p: dict) -> tuple[int, int]:
    """(start, end) log entries of the batch's (single) file source."""
    src = p["sources"][0]
    return log_offset(src.get("startOffset")), log_offset(src.get("endOffset"))


def source_moved(src: dict) -> bool:
    return log_offset(src.get("endOffset")) > log_offset(src.get("startOffset"))


def has_data(p: dict) -> bool:
    """A batch has data when a source offset moved, whatever numInputRows says."""
    return any(source_moved(s) for s in p["sources"])


def read_source_log(checkpoint: str) -> dict[str, int]:
    """basename of every file in a file source's log -> its log entry number.

    Every 10th entry is written compacted (``<n>.compact``, holding all
    entries up to n) and older entry files are removed, so the entry
    number comes from each line's ``batchId``, not from the file name.
    """
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if not name.split(".")[0].isdigit() or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def map_files(file_entries: dict[str, int], progress: list[dict]) -> dict[str, dict]:
    """file -> the progress event of the batch that consumed it.

    Files whose log entry no batch covers are left out (not consumed).
    """
    spans = []
    for p in progress:
        start, end = offsets(p)
        if end > start:
            spans.append((start, end, p))
    out = {}
    for f, entry in file_entries.items():
        for start, end, p in spans:
            if start < entry <= end:
                out[f] = p
                break
    return out


def file_latencies(due: dict[str, float], file_entries: dict[str, int], progress: list[dict]) -> tuple[list[dict], list[str]]:
    """Per-file latency split, and the files no batch consumed.

    latency = end of the consuming batch - time the file was due;
    wait = start of that batch - due; process = batch end - batch start.
    """
    consumed = map_files(file_entries, progress)
    rows, missing = [], []
    for f, t_due in sorted(due.items(), key=lambda kv: kv[1]):
        p = consumed.get(f)
        if p is None:
            missing.append(f)
            continue
        start, end = batch_window(p)
        rows.append(
            {"file": f, "batch": p["batchId"], "wait": start - t_due,
             "process": end - start, "latency": end - t_due}
        )
    return rows, missing


def backlog_max(due: dict[str, float], file_entries: dict[str, int], progress: list[dict]) -> int:
    """Most files due but not yet consumed at the start of any batch."""
    consumed = map_files(file_entries, progress)
    worst = 0
    for p in progress:
        start, _ = batch_window(p)
        waiting = sum(
            1 for f, t in due.items()
            if t <= start and (f not in consumed or batch_window(consumed[f])[0] >= start)
        )
        worst = max(worst, waiting)
    return worst
