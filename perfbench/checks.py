"""Output checks, one per workload.  Each takes plain Python values
(collected outputs plus the benchmark's ground truth) and returns a
``Check``; none of them calls into the engine, so a deliberately
corrupted output can be fed in directly."""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from dataclasses import dataclass, field

from gen import jaccard


@dataclass
class Check:
    ok: bool
    problems: list[str] = field(default_factory=list)
    # share of planted items found (dedup only)
    recall: float | None = None


def item_digest(topic: str, partition: int, value: str) -> int:
    """First 64 bits of md5 over ``topic NUL partition NUL value``; the
    Spark side computes the same with ``md5(concat_ws(...))``."""
    h = hashlib.md5(f"{topic}\x00{partition}\x00{value}".encode())
    return int(h.hexdigest()[:16], 16)


def multiset_digest(items) -> tuple[int, int]:
    """(count, order-independent sum of item digests mod 2**64)."""
    n = total = 0
    for topic, partition, value in items:
        n += 1
        total += item_digest(topic, partition, value)
    return n, total % (1 << 64)


def check_kafka(data: tuple[int, int], expected: tuple[int, int],
                watermarks: dict[tuple[str, int], list[int]],
                partitions: dict[str, int], checkpoint_ts: int | None,
                max_commit_ts: int) -> Check:
    """Drained data messages equal the batch pipeline output as a
    multiset (count and order-independent digest sum); every partition
    of every topic carries a watermark equal to the changefeed's
    checkpoint, which is the input's max commit_ts."""
    problems = []
    if data[0] != expected[0]:
        problems.append(f"{data[0]} data messages, expected {expected[0]}")
    if data[1] != expected[1]:
        problems.append("data message multiset digest differs from batch output")
    if checkpoint_ts != max_commit_ts:
        problems.append(f"checkpoint_ts {checkpoint_ts} != input max "
                        f"commit_ts {max_commit_ts}")
    for topic, n_parts in sorted(partitions.items()):
        for p in range(n_parts):
            marks = watermarks.get((topic, p), [])
            if not marks:
                problems.append(f"no watermark on {topic}/{p}")
            elif max(marks) != checkpoint_ts:
                problems.append(f"{topic}/{p} watermark {max(marks)} != "
                                f"checkpoint {checkpoint_ts}")
    if not partitions:
        problems.append("no topics on the broker")
    return Check(not problems, problems[:5])


def parse_drained(records) -> tuple[list[tuple], dict]:
    """Split drained (topic, partition, value) records into data
    messages and per-partition watermark timestamps."""
    data, marks = [], {}
    for topic, p, value in records:
        if '"TIDB_WATERMARK"' in value:
            ts = json.loads(value)["_tidb"]["watermarkTs"]
            marks.setdefault((topic, p), []).append(ts)
        else:
            data.append((topic, p, value))
    return data, marks


def check_mysql(readback: list[tuple], replay: list[tuple]) -> Check:
    """Downstream state read back over the wire equals the DuckDB replay
    of the same input, row for row (table_name, id, val, k)."""
    got, want = Counter(readback), Counter(replay)
    problems = []
    if got != want:
        problems.append(f"{sum((want - got).values())} replayed rows missing "
                        f"downstream, {sum((got - want).values())} unexpected")
    return Check(not problems, problems)


def check_dedup(pairs: list[tuple], texts: dict[int, str],
                planted: frozenset, exact_groups: list[tuple],
                n_distinct_texts: int, threshold: float) -> Check:
    """Every returned (a_id, b_id, jaccard) pair has a recomputed 3-gram
    Jaccard at or above the threshold that matches the reported value;
    exact dedup finds one group per distinct text covering every doc.
    Recall is the share of planted near-duplicate pairs returned."""
    problems = []
    seen = set()
    for a, b, j in pairs:
        if a >= b or (a, b) in seen:
            problems.append(f"pair ({a}, {b}) is not ordered and unique")
            continue
        seen.add((a, b))
        true_j = round(jaccard(texts[a], texts[b]), 6)
        if true_j < threshold or abs(true_j - j) > 1e-6:
            problems.append(f"pair ({a}, {b}): jaccard {j}, recomputed {true_j}")
    if len(exact_groups) != n_distinct_texts:
        problems.append(f"{len(exact_groups)} exact groups, "
                        f"expected {n_distinct_texts}")
    if sum(n for n, _ in exact_groups) != len(texts):
        problems.append("exact groups do not cover every document")
    recall = len(seen & planted) / len(planted) if planted else 1.0
    return Check(not problems, problems[:5], recall)
