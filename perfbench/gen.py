"""Seeded open-loop load generator.

The generator is a component separate from the system under test: it
renders every tick's lines in the reference's wire formats from
``--seed`` before the clock starts, then writes one file per tick on a
fixed schedule and renames it atomically into the watched directory.
It never waits for the consumer, so a stall in Spark queues the ticks
behind it and their latency (counted from each tick's due time) grows.

Keys are Zipf-skewed everywhere. Event time is logical: tick ``i``
carries event second ``EPOCH_S + i``, so ticks are byte-identical for a
seed while event time still advances (faster than wall time, which lets
60 s windows close inside a short run).
"""

from __future__ import annotations

import itertools
import os
import random
import threading
import time
from collections import Counter
from dataclasses import dataclass

EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z, the event-time origin

# hashtag_window: watermark delay, out-of-order jitter, late placement.
# Jitter stays well inside the watermark (never dropped); late events sit
# an hour behind their tick, past any watermark once the first batch has
# committed (never counted). Both shares are fixed, so the reference is
# deterministic.
WATERMARK_S = 10
OOO_MAX_S = 4
LATE_GAP_S = 3600


@dataclass(frozen=True)
class Tick:
    index: int
    name: str
    payload: bytes
    events: int
    injected: Counter

    @property
    def lines(self) -> list[str]:
        return self.payload.decode().splitlines()


class Zipf:
    """Draws ranks 0..n-1 with P(k) ∝ 1/(k+1)^s."""

    def __init__(self, n: int, s: float):
        self.n = n
        self.cum = list(itertools.accumulate(1.0 / (k**s) for k in range(1, n + 1)))

    def draw(self, rng: random.Random, k: int) -> list[int]:
        return rng.choices(range(self.n), cum_weights=self.cum, k=k)


def _vocabulary(n: int, salt: int) -> list[str]:
    """A fixed pseudo-word vocabulary (independent of the run seed)."""
    rng = random.Random(salt)
    syll = ["ka", "to", "ri", "ne", "su", "mo", "la", "pe", "zu", "vi", "do", "ga", "shi", "ran", "tel"]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(1, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


# Key cardinalities follow the repo's fixture spec (FIXTURES.md): sentences
# draw from a ~1k-word vocabulary, tweets from a ~50-tag pool.
WORDS = _vocabulary(1000, 11)
TAGS = _vocabulary(50, 23)


class Workload:
    """Renders ticks for one streaming workload."""

    name = ""
    events_per_tick = 0

    def render_tick(self, rng: random.Random, index: int, allow_late: bool) -> tuple[list[str], Counter]:
        raise NotImplementedError


class SentenceFeed(Workload):
    """wordcount_running: plain sentences of 3-12 Zipf words (FIXTURES.md)."""

    name = "wordcount_running"
    events_per_tick = 2

    def __init__(self):
        # the fixture spec says "Zipf-ish"; s = 1.1 is an assumption
        self.zipf = Zipf(len(WORDS), 1.1)

    def render_tick(self, rng, index, allow_late):
        lines = []
        for _ in range(self.events_per_tick):
            ids = self.zipf.draw(rng, rng.randint(3, 12))
            lines.append(" ".join(WORDS[i] for i in ids))
        return lines, Counter()


class TweetFeed(Workload):
    """hashtag_window: 13-field pipe-separated tweets.

    Field 1 carries the event second, field 4 the text with 0-3 hashtags
    from the tag pool (FIXTURES.md). Malformed rows (wrong arity, or a
    leading '[') still carry hashtags, so a parser that accepted them
    would change the counts. Late tweets carry one hashtag unique to them.

    The shares below are assumptions, not measurements: no source fixes
    them. Each is large enough that every run has dozens of such rows (a
    parser or watermark defect shows in the check) and small enough that
    the well-formed, in-order path carries the cost.
    """

    name = "hashtag_window"
    events_per_tick = 4
    MALFORMED = 0.04
    OUT_OF_ORDER = 0.10
    LATE = 0.03

    def __init__(self):
        self.words = Zipf(len(WORDS), 1.1)
        # s = 1.2 (assumed) puts about half of all tag draws on the top 3,
        # the skewed keys the sliding aggregation is meant to face
        self.tags = Zipf(len(TAGS), 1.2)

    def render_tick(self, rng, index, allow_late):
        lines, injected = [], Counter()
        for j in range(self.events_per_tick):
            sec = EPOCH_S + index
            u = rng.random()
            kind = "ok"
            if u < self.MALFORMED:
                kind = "malformed"
            elif u < self.MALFORMED + self.OUT_OF_ORDER:
                kind = "out_of_order"
                sec -= rng.randint(1, OOO_MAX_S)
            elif allow_late and u < self.MALFORMED + self.OUT_OF_ORDER + self.LATE:
                kind = "late"
                sec -= LATE_GAP_S
            words = [WORDS[i] for i in self.words.draw(rng, rng.randint(3, 10))]
            if kind == "late":
                # one hashtag of its own: partial aggregation cannot merge it
                # with another late row, so the stateful operator drops
                # exactly one row per sliding window of the event
                words.append(f"#late{index}x{j}")
            else:
                words += ["#" + TAGS[i] for i in self.tags.draw(rng, rng.randint(0, 3))]
            if rng.random() < 0.1:
                words.append("#")  # a bare '#' is not a hashtag
            rng.shuffle(words)
            fields = [f"{index}{j:03d}", str(sec), f"u{rng.randint(0, 9999)}", "en", " ".join(words)]
            fields += [f"x{k}" for k in range(5, 13)]
            if kind == "malformed":
                if rng.random() < 0.5:
                    fields = fields[:12]
                else:
                    fields[0] = "[" + fields[0]
            injected[kind] += 1
            lines.append("|".join(fields))
        return lines, injected


FEEDS = {w.name: w for w in (SentenceFeed, TweetFeed)}


def render_ticks(workload: str, seed: int, count: int, late_from: int) -> list[Tick]:
    """Ticks 0..count-1; late events only from tick ``late_from`` on."""
    feed = FEEDS[workload]()
    rng = random.Random(f"{workload}:{seed}")
    ticks = []
    for i in range(count):
        lines, injected = feed.render_tick(rng, i, allow_late=i >= late_from)
        payload = ("\n".join(lines) + "\n").encode()
        ticks.append(Tick(i, f"tick-{i:06d}.txt", payload, len(lines), injected))
    return ticks


# --- the open-loop writer ----------------------------------------------------


class OpenLoopWriter:
    """Writes ticks on a fixed schedule from one thread.

    Tick ``k`` of a phase is due at ``clock0 + k * interval_s``; the
    writer sleeps until then, writes the file under ``stage_dir`` and
    renames it into ``watch_dir`` (same filesystem, so the file source
    never sees a partial file). ``due`` maps file name → due time and
    ``late_s`` records how late each rename completed.
    """

    def __init__(self, stage_dir: str, watch_dir: str, spans=None):
        self.stage_dir = stage_dir
        self.watch_dir = watch_dir
        self.spans = spans
        self.due: dict[str, float] = {}
        self.late_s: list[float] = []
        self._thread: threading.Thread | None = None
        self._error: BaseException | None = None

    def write_now(self, ticks: list[Tick]) -> float:
        """Release ticks at once (a backlog); returns the release time.
        The files are staged in a directory of their own, which one rename
        moves into the watched directory, so every listing of the file
        source sees either none of the backlog or all of it."""
        name = f"backlog-{ticks[0].index:06d}"
        staged = os.path.join(self.stage_dir, name)
        os.makedirs(staged)
        for tick in ticks:
            with open(os.path.join(staged, tick.name), "wb") as f:
                f.write(tick.payload)
        t = time.perf_counter()
        os.rename(staged, os.path.join(self.watch_dir, name))
        for tick in ticks:
            self.due[tick.name] = t
        return t

    def start(self, ticks: list[Tick], interval_s: float) -> None:
        clock0 = time.perf_counter() + 0.05
        self._thread = threading.Thread(target=self._run, args=(ticks, interval_s, clock0), daemon=True)
        self._thread.start()

    def join(self, timeout: float) -> None:
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise RuntimeError("load generator did not finish its schedule")
        if self._error is not None:
            raise self._error

    def _run(self, ticks, interval_s, clock0):
        try:
            for k, tick in enumerate(ticks):
                due = clock0 + k * interval_s
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self.due[tick.name] = due
                self._put(tick)
                done = time.perf_counter()
                self.late_s.append(done - due)
                if self.spans is not None:
                    self.spans.add("gen.tick", due, done, tick.name)
        except BaseException as e:  # reported by join()
            self._error = e

    def _put(self, tick: Tick) -> None:
        staged = os.path.join(self.stage_dir, tick.name)
        with open(staged, "wb") as f:
            f.write(tick.payload)
        os.rename(staged, os.path.join(self.watch_dir, tick.name))
