"""Seeded input records and the open-loop generator process.

Content is a pure function of ``(seed, phase)``: the same seed yields the
same lines and join records. The open-loop generator runs as its own
process and appends to the broker on a fixed schedule, whether or not the
query keeps up: record ``i`` is due at ``t0 + i / rate`` and carries its
due time (epoch ms) as the record timestamp. Records are produced in one
``FileBrokerProducer.flush`` per 100 ms tick, like a producer with a
linger.

    python3 perfbench/generator.py --root BROKER --kind lines --seed 1 \
        --rate 400 --seconds 10 --stats stats.json
"""

from __future__ import annotations

import argparse
import bisect
import itertools
import json
import os
import random
import string
import sys
import time

VOCAB_SIZE = 5000
WORDS_PER_LINE = 8
JOIN_KEYS = 2000
TICK_S = 0.1


def vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct lowercase words (letters only, so a ``\\W+``
    split keeps each one whole)."""
    letters = string.ascii_lowercase
    out = []
    for n in range(1, 4):
        for t in itertools.product(letters, repeat=n):
            out.append("w" + "".join(t))
            if len(out) == size:
                return out
    raise ValueError(size)


class LineSource:
    """Lines of ``WORDS_PER_LINE`` words drawn Zipf-like (weight 1/rank)."""

    def __init__(self, seed: int, phase: str):
        self.rng = random.Random(f"{seed}/{phase}/lines")
        self.words = vocabulary()
        self.cum = list(itertools.accumulate(
            1.0 / r for r in range(1, len(self.words) + 1)))

    def next(self) -> str:
        total = self.cum[-1]
        return " ".join(
            self.words[bisect.bisect_left(self.cum, self.rng.random() * total)]
            for _ in range(WORDS_PER_LINE))

    def send(self, producer, ts_ms: int) -> None:
        """Buffer the next line (keyless: partitions round-robin)."""
        producer.send("lines", self.next(), timestamp_ms=ts_ms)


class JoinSource:
    """``{k, v}`` JSON records alternating between ``left`` and ``right``;
    ``v`` is a run-unique id starting at ``first_id``."""

    def __init__(self, seed: int, phase: str, first_id: int):
        self.rng = random.Random(f"{seed}/{phase}/join")
        self.next_id = first_id

    def send(self, producer, ts_ms: int) -> None:
        """Buffer the next record, keyed (so partitioned) by ``k``."""
        i = self.next_id
        self.next_id += 1
        k = self.rng.randrange(JOIN_KEYS)
        producer.send("left" if i % 2 == 0 else "right",
                      json.dumps({"k": k, "v": i}), key=str(k),
                      timestamp_ms=ts_ms)


def produce_now(broker, source, n: int, spread_ms: int = 0) -> None:
    """Append ``n`` records in one flush, stamped with the current time,
    or evenly over the ``spread_ms`` before it."""
    producer = broker.producer()
    now = int(time.time() * 1000)
    for i in range(n):
        source.send(producer, now - spread_ms + (i + 1) * spread_ms // n)
    producer.flush()


def run_open_loop(broker, source, rate: float, seconds: float) -> dict:
    """Produce ``rate`` records/s for ``seconds`` on a fixed schedule.

    Returns the record count, each flush's ``[start_ms, end_ms]`` and the
    largest lag of a tick behind its scheduled wake-up."""
    producer = broker.producer()
    t0 = time.time()
    total = int(rate * seconds)
    sent, tick, late_max = 0, 0, 0.0
    flushes = []
    while sent < total:
        tick += 1
        wake = t0 + tick * TICK_S
        pause = wake - time.time()
        if pause > 0:
            time.sleep(pause)
        late_max = max(late_max, (time.time() - wake) * 1000.0)
        due_n = min(total, int((wake - t0) * rate))
        for i in range(sent, due_n):
            source.send(producer, int((t0 + i / rate) * 1000))
        sent = due_n
        f0 = time.time()
        producer.flush()
        flushes.append([f0 * 1000.0, time.time() * 1000.0])
    return {"records": sent, "t0_ms": t0 * 1000.0, "flushes": flushes,
            "late_ms_max": late_max}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", required=True, help="broker root directory")
    ap.add_argument("--kind", choices=("lines", "join"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="records/s")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--first-id", type=int, default=0,
                    help="first join record id")
    ap.add_argument("--stats", required=True, help="JSON stats output path")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from kafka_connect_streams_spark.sources.filebroker import FileBroker
    source = (LineSource(args.seed, "open") if args.kind == "lines"
              else JoinSource(args.seed, "open", args.first_id))
    stats = run_open_loop(FileBroker(args.root), source, args.rate,
                          args.seconds)
    tmp = args.stats + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, args.stats)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
