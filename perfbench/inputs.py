"""Seeded workload inputs built from the package's synthetic corpus.

Every input is a function of the seed alone.  Entities are drawn from
``synth.entity_rows`` in index order and kept only when their duplicate count
and turn count fill a fixed quota, so the number of turns, documents and
planted pairs is the same for every seed while the text, tools, years and
topics vary with it.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import itertools
import json
import random
from collections import deque

from lab02_citation_matching_and_entity_resolution_spark.synth import SynthConfig, entity_rows


class EntityPool:
    """Hands out synthetic entities of a requested shape: (duplicate count,
    turns per conversation).  Every entity index is used at most once, so
    conversation ids never collide."""

    def __init__(self, cfg: SynthConfig):
        self.cfg = cfg
        self._next = 0
        self._spare: dict[tuple[int, int], deque] = {}

    def take(self, size: int, turns: int) -> tuple[list[tuple], list[tuple[str, str]]]:
        if not 1 <= size <= self.cfg.max_cluster:
            raise ValueError(f"size {size} outside 1..{self.cfg.max_cluster}")
        cfg = dataclasses.replace(self.cfg, min_turns=turns, max_turns=turns)
        spare = self._spare.setdefault((size, turns), deque())
        while not spare:
            rows, members = entity_rows(cfg, self._next)
            self._next += 1
            self._spare.setdefault((len(members), turns), deque()).append((rows, members))
        return spare.popleft()

    def draw(self, shape: list[tuple[int, int]]) -> tuple[list[tuple], list[tuple[str, str]]]:
        """Transcript rows and (conv_id, entity_id) membership, one entity
        per (duplicate count, turns) entry of ``shape``."""
        rows: list[tuple] = []
        members: list[tuple[str, str]] = []
        for size, turns in shape:
            r, m = self.take(size, turns)
            rows.extend(r)
            members.extend(m)
        return rows, members


def true_pairs(members: list[tuple[str, str]]) -> set[tuple[str, str]]:
    """Canonical (left < right) pairs of conversations of the same entity."""
    by_entity: dict[str, list[str]] = {}
    for conv, ent in members:
        by_entity.setdefault(ent, []).append(conv)
    return {
        (a, b)
        for convs in by_entity.values()
        for a, b in itertools.combinations(sorted(convs), 2)
    }


def turn_json(row: tuple) -> str:
    conv_id, turn_idx, role, text, tool, ts = row
    return json.dumps({
        "conv_id": conv_id, "turn_idx": turn_idx, "role": role, "text": text,
        "tool": tool, "ts": ts.strftime("%Y-%m-%dT%H:%M:%S"),
    })


class TurnFeed:
    """Generates the ingest workload's files: a preload, then steps that each
    add new conversations plus follow-up turns to conversations already
    landed.  Step ``i``'s content depends only on the seed and ``i``."""

    def __init__(self, cfg: SynthConfig, step_shape: list[tuple[int, int]], followups: int):
        self.cfg = cfg
        self.pool = EntityPool(cfg)
        self.step_shape = step_shape
        self.followups = followups
        self.last: dict[str, tuple[int, dt.datetime]] = {}  # conv -> (turn_idx, ts)

    def _land(self, rows: list[tuple]) -> list[tuple]:
        for conv_id, turn_idx, _, _, _, ts in rows:
            prev = self.last.get(conv_id)
            if prev is None or turn_idx > prev[0]:
                self.last[conv_id] = (turn_idx, ts)
        return rows

    def preload(self, shape: list[tuple[int, int]]) -> list[tuple]:
        return self._land(self.pool.draw(shape)[0])

    def step(self, i: int) -> tuple[list[tuple], int]:
        """(rows, conversations touched) for step ``i``."""
        rng = random.Random((self.cfg.seed << 16) ^ i)
        rows = self.pool.draw(self.step_shape)[0]
        new_convs = {r[0] for r in rows}
        old = rng.sample(sorted(self.last), min(self.followups, len(self.last)))
        for conv_id in old:
            turn_idx, ts = self.last[conv_id]
            for k in (1, 2):
                role = ("user", "assistant")[k - 1]
                rows.append((
                    conv_id, turn_idx + k, role,
                    f"{role} follow up {k} on {conv_id} step {i} ref fx{rng.getrandbits(32):08x}",
                    "", ts + dt.timedelta(minutes=k),
                ))
        return self._land(rows), len(new_convs) + len(old)
