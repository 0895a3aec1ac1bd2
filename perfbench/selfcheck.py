"""Self-check of the load generator and the reference checkers (no Spark).

    python3 perfbench/selfcheck.py

1. The same seed renders byte-identical ticks (and another seed does not).
2. The injected shares (malformed, out-of-order, late) match the stated
   values, and each tick's counters agree with what an independent parse
   of its lines shows.
3. wordcount_running ticks are chronological.
4. Every checker passes the reference's own result and counts a
   deliberately corrupted sink result as an error.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import sys

import gen
import reference

TICKS = 600
LATE_FROM = 30


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def near(share: float, target: float, tol: float = 0.012) -> bool:
    return abs(share - target) <= tol


def check_determinism() -> None:
    for w in gen.FEEDS:
        a = gen.render_ticks(w, 7, 50, LATE_FROM)
        b = gen.render_ticks(w, 7, 50, LATE_FROM)
        c = gen.render_ticks(w, 8, 50, LATE_FROM)
        expect([t.payload for t in a] == [t.payload for t in b], f"{w}: same seed, byte-identical ticks")
        expect([t.payload for t in a] != [t.payload for t in c], f"{w}: another seed, other ticks")


def check_tweet_shares() -> None:
    ticks = gen.render_ticks("hashtag_window", 3, TICKS, LATE_FROM)
    seen = {"malformed": 0, "out_of_order": 0, "late": 0}
    total = late_eligible = 0
    max_lag = 0
    for t in ticks:
        for line in t.lines:
            total += 1
            late_eligible += t.index >= LATE_FROM
            parsed = reference.parse_tweet(line, t.index)
            if parsed is None:
                seen["malformed"] += 1
            elif parsed[2]:
                seen["late"] += 1
            elif parsed[0] < gen.EPOCH_S + t.index:
                max_lag = max(max_lag, gen.EPOCH_S + t.index - parsed[0])
                seen["out_of_order"] += 1
    for kind, n in seen.items():
        expect(n == counted(ticks, kind), f"hashtag_window: {kind} counters match the lines ({n})")
    expect(max_lag <= gen.OOO_MAX_S < gen.WATERMARK_S, f"hashtag_window: out-of-order lag ({max_lag} s) inside the watermark")
    expect(near(seen["malformed"] / total, gen.TweetFeed.MALFORMED), "hashtag_window: malformed share")
    expect(near(seen["out_of_order"] / total, gen.TweetFeed.OUT_OF_ORDER), "hashtag_window: out-of-order share")
    expect(near(seen["late"] / late_eligible, gen.TweetFeed.LATE), "hashtag_window: late share")
    expect(all(t.injected["late"] == 0 for t in ticks[:LATE_FROM]), "hashtag_window: no late events in warm-up")


def counted(ticks, kind: str) -> int:
    return sum(t.injected[kind] for t in ticks)


def check_order() -> None:
    ticks = gen.render_ticks("wordcount_running", 3, 100, LATE_FROM)
    names = [t.name for t in ticks]
    expect(names == sorted(names) and [t.index for t in ticks] == list(range(100)), "wordcount_running: tick files in schedule order")


def batches_of(ticks, per_batch: int = 3) -> dict[str, int]:
    return {t.name: i // per_batch for i, t in enumerate(ticks)}


def check_negative() -> None:
    """Checkers pass the reference's own rows and fail corrupted ones."""
    ticks = gen.render_ticks("wordcount_running", 5, 60, LATE_FROM)
    bo = batches_of(ticks)
    rows = {b: sorted(exp.items()) for b, exp in reference.expected_wordcount(ticks, bo).items()}
    expect(reference.check_wordcount(ticks, bo, rows)[1] == 0, "wordcount_running: reference rows pass")
    bad = {b: list(r) for b, r in rows.items()}
    k, c = bad[4][0]
    bad[4][0] = (k, c + 1)
    expect(reference.check_wordcount(ticks, bo, bad)[1] >= 1, "wordcount_running: a corrupted count is an error")
    bad = {b: list(r) for b, r in rows.items()}
    bad[7].pop()
    expect(reference.check_wordcount(ticks, bo, bad)[1] >= 1, "wordcount_running: a missing row is an error")

    ticks = gen.render_ticks("hashtag_window", 5, 90, LATE_FROM)
    bo = batches_of(ticks)
    rows = {b: [(ws, tag, c) for (ws, tag), c in exp.items()] for b, exp in reference.expected_hashtags(ticks, bo).items()}
    expect(reference.check_hashtags(ticks, bo, rows)[1] == 0, "hashtag_window: reference rows pass")
    bad = {b: list(r) for b, r in rows.items()}
    bad[20].append((gen.EPOCH_S - gen.LATE_GAP_S, "#late", 1))
    expect(reference.check_hashtags(ticks, bo, bad)[1] >= 1, "hashtag_window: an extra (late) window row is an error")


def main() -> int:
    check_determinism()
    check_tweet_shares()
    check_order()
    check_negative()
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
