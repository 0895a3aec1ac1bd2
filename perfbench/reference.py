"""Reference checkers, computed in pure Python outside Spark.

Each checker takes the ticks, the map from tick file to the
micro-batch that consumed it, and the sink's rows per batch, and
returns ``(attempted, wrong)``: the number of expected result rows and
how many of them are wrong, missing or extra.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter, defaultdict

from gen import EPOCH_S, LATE_GAP_S

WS = re.compile("[ \t\n\x0b\f\r]+")


def words(text: str) -> list[str]:
    return [w for w in WS.split(text) if w]


def _log_entries(log_dir: str):
    """(file name, lines after the version header) of a checkpoint log."""
    for entry in os.listdir(log_dir):
        if not entry.startswith("."):
            with open(os.path.join(log_dir, entry)) as f:
                yield entry, f.read().splitlines()[1:]


def consumed_batches(ckpt_dir: str) -> dict[str, int]:
    """Tick file name → the micro-batch that consumed it.

    The file source logs the files of each of its own offsets under
    ``sources/0/N``; every 10th log is ``N.compact`` and repeats all
    earlier entries, so keep the lowest offset seen per file. Source
    offsets are not batch ids (a batch without new files, such as a
    watermark-only batch, adds no offset), so ``offsets/B`` gives each
    batch's end offset and a file belongs to the first batch whose end
    reaches its offset.
    """
    offset_of: dict[str, int] = {}
    for _, lines in _log_entries(os.path.join(ckpt_dir, "sources", "0")):
        for line in lines:
            rec = json.loads(line)
            name = os.path.basename(rec["path"])
            offset_of[name] = min(rec["batchId"], offset_of.get(name, rec["batchId"]))
    ends = sorted(
        (json.loads(lines[1])["logOffset"], int(entry))
        for entry, lines in _log_entries(os.path.join(ckpt_dir, "offsets"))
    )
    first_batch: dict[int, int] = {}
    for end, batch in ends:
        first_batch.setdefault(end, batch)
    return {name: first_batch[off] for name, off in offset_of.items()}


def _by_batch(ticks, batch_of) -> dict[int, list]:
    grouped = defaultdict(list)
    for t in ticks:
        if t.name not in batch_of:
            raise RuntimeError(f"tick {t.name} was never consumed")
        grouped[batch_of[t.name]].append(t)
    return grouped


def _compare(expected: dict, got: dict) -> int:
    wrong = sum(1 for k, v in expected.items() if got.get(k) != v)
    return wrong + sum(1 for k in got if k not in expected)


# --- wordcount_running -------------------------------------------------------


def expected_wordcount(ticks, batch_of) -> dict[int, dict]:
    """Per batch: {word: cumulative count} for every word the batch saw."""
    total: Counter = Counter()
    out = {}
    grouped = _by_batch(ticks, batch_of)
    for b in sorted(grouped):
        seen: Counter = Counter()
        for t in grouped[b]:
            for line in t.lines:
                seen.update(words(line))
        total.update(seen)
        out[b] = {w: total[w] for w in seen}
    return out


def check_wordcount(ticks, batch_of, rows_by_batch) -> tuple[int, int]:
    expected = expected_wordcount(ticks, batch_of)
    attempted = wrong = 0
    for b in expected.keys() | rows_by_batch.keys():
        exp = expected.get(b, {})
        got = {k: c for k, c in rows_by_batch.get(b, [])}
        attempted += len(exp)
        wrong += _compare(exp, got) + len(rows_by_batch.get(b, [])) - len(got)
    return attempted, wrong


# --- hashtag_window ------------------------------------------------------------


def parse_tweet(line: str, tick_index: int):
    """(event_sec, tags, late) for a well-formed tweet, else None."""
    fields = line.split("|")
    if line.startswith("[") or len(fields) != 13:
        return None
    sec = int(fields[1])
    tags = [w for w in words(fields[4]) if w.startswith("#") and len(w) > 1]
    return sec, tags, sec <= EPOCH_S + tick_index - LATE_GAP_S


def windows(sec: int, window_s: int = 60, slide_s: int = 5) -> range:
    last = sec - sec % slide_s
    return range(last - window_s + slide_s, last + 1, slide_s)


def expected_hashtags(ticks, batch_of) -> dict[int, dict]:
    """Per batch: {(ws, tag): running count} for every window the batch
    updated. Late events (an hour behind their tick) are dropped by the
    watermark, so they count nowhere."""
    total: Counter = Counter()
    out = {}
    grouped = _by_batch(ticks, batch_of)
    for b in sorted(grouped):
        touched = set()
        for t in grouped[b]:
            for line in t.lines:
                parsed = parse_tweet(line, t.index)
                if parsed is None or parsed[2]:
                    continue
                sec, tags, _ = parsed
                for ws in windows(sec):
                    for tag in tags:
                        total[(ws, tag)] += 1
                        touched.add((ws, tag))
        out[b] = {k: total[k] for k in touched}
    return out


def check_hashtags(ticks, batch_of, rows_by_batch) -> tuple[int, int]:
    expected = expected_hashtags(ticks, batch_of)
    attempted = wrong = 0
    for b in expected.keys() | rows_by_batch.keys():
        exp = expected.get(b, {})
        rows = rows_by_batch.get(b, [])
        got = {(ws, tag): c for ws, tag, c in rows}
        attempted += len(exp)
        wrong += _compare(exp, got) + len(rows) - len(got)
    return attempted, wrong
