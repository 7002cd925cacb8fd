"""Seeded, single-threaded generator of the ingest workload's input.

Landing hour-files: gzip JSON lines in the Firehose ``year=/month=/day=/hour=``
layout, shaped like the reference producer's records (``event_id``, ISO
``event_timestamp``, ``event_type``, ``user_id``, nested ``data``), a pure
function of the seed. Ids come from one counter, so they are disjoint apart
from the planned redeliveries (byte-identical copies of an earlier line: same
``ts``, same payload) and the corrupt lines.

Nothing here imports Spark; the program receives only the files. The query
workload needs no generator: it reads the fixed fixture under ``data/``.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random
from dataclasses import dataclass, field

EVENT_TYPES = ("view", "click", "purchase", "signup")
PRODUCTS = ("p1", "p2", "p3", "p4")
PRICES = (19.99, 29.99, 39.99, 49.99)
N_USERS = 1000
EPOCH = dt.datetime(2024, 1, 1)

REDELIVERY_SHARE = 0.05  # of each step file's lines
CORRUPT_SHARE = 0.005
#: Of the redeliveries, this share comes from older hour-files, drawn from
#: HISTORIC_FILES of them picked at random, so every step touches the same
#: number of old dates; the rest come from the previous hour-file.
HISTORIC_REDELIVERY_SHARE = 0.1
HISTORIC_FILES = 2


@dataclass
class HourFile:
    """One landing file and what the pipeline must do with it."""

    rel_path: str  # under the landing root
    lines: list[str]
    fresh_ids: list[str]  # new ids: all of them must be inserted
    redelivered: int  # copies of already-landed lines: none may be inserted
    corrupt: int  # malformed lines: land in raw_data only


@dataclass
class IngestPlan:
    """The aged history and the hour-files the timed loop lands, in order."""

    history: list[HourFile]
    steps: list[HourFile]
    #: Every valid id landed: exactly the ids the events table must hold.
    event_ids: set[str] = field(default_factory=set)


def _hour_path(hour: dt.datetime, part: str) -> str:
    return (
        f"year={hour:%Y}/month={hour:%m}/day={hour:%d}/hour={hour:%H}/"
        f"{part}.json.gz"
    )


def _corrupt(line: str, rng: random.Random) -> str:
    # A record cut mid-way, as a torn upload leaves it: never valid JSON.
    return line[: rng.randrange(5, len(line) // 2)]


class _EventMaker:
    def __init__(self, seed: int, rng: random.Random):
        self.seed = seed
        self.rng = rng
        self.next_id = 0

    def line(self, hour: dt.datetime) -> tuple[str, str]:
        """(event_id, json line) for one new event inside ``hour``."""
        rng = self.rng
        eid = f"evt-{self.seed}-{self.next_id:010d}"
        self.next_id += 1
        ts = hour + dt.timedelta(microseconds=rng.randrange(3_600_000_000))
        etype = rng.choice(EVENT_TYPES)
        k = rng.randrange(len(PRODUCTS))
        rec = {
            "event_id": eid,
            "event_timestamp": ts.isoformat(timespec="microseconds"),
            "event_type": etype,
            "user_id": f"user_{rng.randrange(1, N_USERS + 1)}",
            "data": {"product_id": PRODUCTS[k], "price": PRICES[k]},
        }
        return eid, json.dumps(rec)


def ingest_plan(
    seed: int,
    history_days: int,
    history_files_per_day: int,
    history_events_per_file: int,
    steps: int,
    step_events: int,
) -> IngestPlan:
    """History of ``history_days`` days, then ``steps`` consecutive hours.

    Each step file holds ``step_events`` lines: 5% redeliveries (most from
    the previous hour-file, a few from two random older ones), 0.5% corrupt
    lines, and the rest fresh events timestamped inside that hour.
    """
    rng = random.Random(seed)
    maker = _EventMaker(seed, rng)
    plan = IngestPlan(history=[], steps=[])
    landed: list[list[str]] = []  # valid lines per file, for redeliveries

    hours_apart = 24 // history_files_per_day
    for d in range(history_days):
        for f in range(history_files_per_day):
            hour = EPOCH + dt.timedelta(days=d, hours=f * hours_apart)
            ids, lines = [], []
            for _ in range(history_events_per_file):
                eid, line = maker.line(hour)
                ids.append(eid)
                lines.append(line)
            landed.append(lines)
            plan.event_ids.update(ids)
            plan.history.append(
                HourFile(_hour_path(hour, "history"), lines, ids, 0, 0)
            )

    previous = plan.history[-1].lines
    n_redeliver = max(1, round(step_events * REDELIVERY_SHARE))
    n_historic = max(1, round(n_redeliver * HISTORIC_REDELIVERY_SHARE))
    n_corrupt = max(1, round(step_events * CORRUPT_SHARE))
    n_fresh = step_events - n_redeliver - n_corrupt
    first_step = EPOCH + dt.timedelta(days=history_days)
    for s in range(steps):
        hour = first_step + dt.timedelta(hours=s)
        ids, fresh = [], []
        for _ in range(n_fresh):
            eid, line = maker.line(hour)
            ids.append(eid)
            fresh.append(line)
        # The previous file is the last of ``landed``; the older ones are
        # disjoint from it, so every redelivered line is distinct in the file.
        older = [line for f in rng.sample(landed[:-1], HISTORIC_FILES) for line in f]
        n_prev = min(n_redeliver - n_historic, len(previous))
        again = rng.sample(previous, n_prev) + rng.sample(older, n_redeliver - n_prev)
        broken = [_corrupt(line, rng) for line in rng.sample(fresh, n_corrupt)]
        lines = fresh + again + broken
        rng.shuffle(lines)
        plan.steps.append(
            HourFile(_hour_path(hour, f"step-{s:04d}"), lines, ids, len(again), len(broken))
        )
        landed.append(fresh)
        plan.event_ids.update(ids)
        previous = fresh
    return plan


def write_hour_file(root: str, hf: HourFile) -> str:
    path = os.path.join(root, hf.rel_path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # mtime=0 keeps the bytes a function of the seed alone.
    with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
        f.write(("\n".join(hf.lines) + "\n").encode())
    return path
