"""Event-to-commit latency attribution over ``StreamingQueryProgress`` events.

A record is identified by its broker coordinates ``(partition, offset)``
and carries the time it was *due* at the generator. A micro-batch
consumes, per partition, the offsets below its ``endOffset``; the first
batch (in ``batchId`` order) whose ``endOffset`` for the record's
partition exceeds the record's offset is the batch that committed it.
The batch's commit time is its progress ``timestamp`` (trigger start)
plus ``durationMs.triggerExecution``.

Progress events reach a listener asynchronously and can arrive out of
order, so attribution sorts them by ``batchId`` first. Pure Python, no
Spark: the unit tests drive it with synthetic progress sequences.
"""

from __future__ import annotations

import bisect
import json
import math
from datetime import datetime, timezone


def epoch_ms(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC with a ``Z`` suffix."""
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp() * 1000.0


def offsets(value) -> dict[int, int]:
    """A source offset as ``{partition: next offset}``; Python data
    sources report it as a JSON string, the JVM sources as an object."""
    if value is None:
        return {}
    if isinstance(value, str):
        value = json.loads(value)
    return {int(p): int(o) for p, o in value.items()}


def commit_ms(progress: dict) -> float:
    """Wall-clock epoch ms at which the batch's commit finished."""
    return epoch_ms(progress["timestamp"]) + \
        progress["durationMs"]["triggerExecution"]


def batch_index(progresses: list[dict], source: int = 0
                ) -> list[tuple[int, float, dict[int, int]]]:
    """``[(batchId, commit_ms, endOffset)]`` sorted by batchId, one entry
    per distinct batch (a re-reported batch keeps its first report)."""
    seen: dict[int, tuple[int, float, dict[int, int]]] = {}
    for p in progresses:
        srcs = p.get("sources") or []
        if len(srcs) <= source or p["batchId"] in seen:
            continue
        seen[p["batchId"]] = (p["batchId"], commit_ms(p),
                              offsets(srcs[source].get("endOffset")))
    return [seen[b] for b in sorted(seen)]


def attribute(records: list[tuple[int, int, float]],
              progresses: list[dict], source: int = 0
              ) -> list[tuple[float, int] | None]:
    """For each ``(partition, offset, due_ms)`` record, the
    ``(latency_ms, batchId)`` of the batch that committed it, or None if
    no reported batch covers it (never committed)."""
    index = batch_index(progresses, source)
    # end offsets are monotone in batchId per partition, so a binary
    # search over each partition's end offsets finds the first cover
    per_part: dict[int, tuple[list[int], list[int]]] = {}
    for pos, (_, _, ends) in enumerate(index):
        for part, end in ends.items():
            ends_l, pos_l = per_part.setdefault(part, ([], []))
            if not ends_l or end > ends_l[-1]:
                ends_l.append(end)
                pos_l.append(pos)
    out: list[tuple[float, int] | None] = []
    for part, offset, due in records:
        ends_l, pos_l = per_part.get(part, ([], []))
        i = bisect.bisect_right(ends_l, offset)
        if i == len(ends_l):
            out.append(None)
            continue
        batch_id, done, _ = index[pos_l[i]]
        out.append((done - due, batch_id))
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    return float(s[max(1, math.ceil(len(s) * q / 100)) - 1])
