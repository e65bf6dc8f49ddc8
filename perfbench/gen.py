"""Open-loop tweet generator for the ``tweet_trending`` workload.

Run as its own process, ``python3 perfbench/gen.py <plan.json>``, so a
slow system never slows the schedule. The process renders its tweet pool,
then reads the schedule's start time (epoch seconds) as one line on stdin.
Every 100 ms tick it writes one file of Kafka-shaped JSON tweets into the
spool directory: write to a side directory, then rename, so the file
source only ever lists whole files.

The tweet bodies are rendered once, before the schedule starts, from the
benchmark seed (``render_pool``); on schedule the generator only stamps the
creation epoch-ms into the pre-rendered lines. The parent process renders
the same pool from the same seed to compute the expected query results.

When the schedule ends the generator writes one JSON line per tick to the
plan's log path (see ``write_tick``).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

TICK_S = 0.1
LANGS = ("en", "es", "pt", "ja", "fr")
WORDS = tuple(f"w{i}" for i in range(400))


def render_pool(seed: int, size: int, vocab: int) -> tuple[list[str], list[list[int]]]:
    """Pre-render ``size`` tweet lines, missing only their timestamp.

    Each line is ``{"text":...,"lang":...,"timestamp":"`` so a tick closes
    it with ``<ms>"}``, the producer's append-the-timestamp-last shape.
    Hashtags ``#t<k>`` are Zipf(1.1)-distributed over ``vocab`` tags; every
    tweet carries one to three. Returns the line prefixes and, per tweet,
    its tag ids, one per occurrence, as the query's regex explode sees them.
    """
    rng = random.Random(seed)
    weights = [1.0 / (k + 1) ** 1.1 for k in range(vocab)]
    tag_draws = rng.choices(range(vocab), weights=weights, k=3 * size)
    lines, tags = [], []
    for i in range(size):
        n_tags = 1 + (rng.random() < 0.4) + (rng.random() < 0.15)
        mine = tag_draws[3 * i : 3 * i + n_tags]
        words = rng.choices(WORDS, k=rng.randint(3, 9))
        for t in mine:
            words.insert(rng.randrange(len(words) + 1), f"#t{t}")
        lines.append(
            f'{{"text":"{" ".join(words)}","lang":"{rng.choice(LANGS)}","timestamp":"'
        )
        tags.append(mine)
    return lines, tags


def ticks(schedule: list[list[float]]) -> list[tuple[float, int]]:
    """(due offset s, tweet count) per tick for a [[seconds, rate], ...] plan."""
    out, start = [], 0.0
    for seconds, rate in schedule:
        per_tick = int(round(rate * TICK_S))
        for k in range(int(round(seconds / TICK_S))):
            out.append((start + k * TICK_S, per_tick))
        start += seconds
    return out


def write_tick(
    spool: str, side: str, lines: list[str], start: int, n: int, name: str, due: float
) -> dict:
    """Stamp ``n`` pool lines from ``start`` (cyclic) and publish one file.

    Returns the tick's log row: file, due time, creation stamp (epoch ms),
    time the rename returned, tweet count and first pool index.
    """
    stamp_ms = int(time.time() * 1000)
    end = f'{stamp_ms}"}}\n'
    pool = len(lines)
    chunk = [lines[(start + j) % pool] for j in range(n)]
    tmp = os.path.join(side, name)
    with open(tmp, "w") as fh:
        fh.write(end.join(chunk) + end)
    os.rename(tmp, os.path.join(spool, name))
    return {
        "file": name,
        "due": due,
        "stamp_ms": stamp_ms,
        "written": time.time(),
        "n": n,
        "start": start,
    }


def main(plan_path: str) -> None:
    with open(plan_path) as fh:
        plan = json.load(fh)
    lines, _ = render_pool(plan["seed"], plan["pool"], plan["vocab"])
    os.makedirs(plan["side"], exist_ok=True)
    t0 = float(sys.stdin.readline())
    idx, log = plan["start"], []
    for k, (offset, n) in enumerate(ticks(plan["schedule"])):
        due = t0 + offset
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        log.append(
            write_tick(plan["spool"], plan["side"], lines, idx, n, f"tick_{k:06d}.json", due)
        )
        idx = (idx + n) % len(lines)
    with open(plan["log"], "w") as fh:
        for row in log:
            fh.write(json.dumps(row) + "\n")


if __name__ == "__main__":
    main(sys.argv[1])
