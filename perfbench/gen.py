"""Seeded input synthesis. The program only ever sees what these
functions write; the same seed writes byte-identical files.

``ListenSource`` writes NDJSON listen drops shaped like the reference's
ListenBrainz export (FIXTURES.md A1): Zipf-skewed users, about 5 % of
``(user_name, listened_at)`` keys re-sent in later drops, one malformed
line per drop, timestamps out of order over 100 days.
"""

from __future__ import annotations

import json
import random
import uuid

EPOCH0 = 1735689600  # 2025-01-01T00:00:00Z
SPAN_S = 100 * 86400  # more than three calendar months
RESEND_SHARE = 0.05
N_USERS = 120
N_TRACKS = 600
N_ARTISTS = 80


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


class ListenSource:
    """An endless, seeded sequence of NDJSON drops.

    ``next_drop()`` returns ``(lines, records)``: the lines as written to
    the landing file (malformed line included) and the parsed valid
    records, in line order, for the benchmark's own bookkeeping."""

    def __init__(self, seed: int, rows_per_drop: int):
        self.rng = random.Random(seed)
        self.rows_per_drop = rows_per_drop
        self.users = [f"user_{i:03d}" for i in range(N_USERS)]
        # Zipf(1.1) over user rank: a few heavy listeners, a long tail
        self.user_weights = [1.0 / (r + 1) ** 1.1 for r in range(N_USERS)]
        artists = [(f"artist {i}", _uuid(self.rng)) for i in range(N_ARTISTS)]
        self.tracks = []
        for i in range(N_TRACKS):
            artist, artist_msid = artists[self.rng.randrange(N_ARTISTS)]
            self.tracks.append(
                (
                    f"track {i}",
                    artist,
                    f"release {i // 8}",
                    _uuid(self.rng),
                    _uuid(self.rng),
                    artist_msid,
                )
            )
        self.sent: list[dict] = []

    def _record(self) -> dict:
        rng = self.rng
        user = rng.choices(self.users, self.user_weights)[0]
        name, artist, release, rec_msid, rel_msid, art_msid = self.tracks[
            rng.randrange(len(self.tracks))
        ]
        # nulls in the mbid fields, as in the reference export
        mbid = _uuid(rng) if rng.random() < 0.5 else None
        return {
            "listened_at": EPOCH0 + rng.randrange(SPAN_S),
            "recording_msid": _uuid(rng),
            "user_name": user,
            "track_metadata": {
                "track_name": name,
                "artist_name": artist,
                "release_name": release,
                "additional_info": {
                    "recording_msid": rec_msid,
                    "release_msid": rel_msid,
                    "artist_msid": art_msid,
                    "recording_mbid": mbid,
                    "release_mbid": None,
                    "tags": [],
                },
            },
        }

    def next_drop(self) -> tuple[list[str], list[dict]]:
        rng = self.rng
        n = self.rows_per_drop
        n_resend = round(n * RESEND_SHARE) if self.sent else 0
        fresh = [self._record() for _ in range(n - n_resend)]
        records = fresh + [self.sent[rng.randrange(len(self.sent))] for _ in range(n_resend)]
        self.sent.extend(fresh)
        rng.shuffle(records)
        lines = [json.dumps(r, separators=(",", ":")) for r in records]
        # a record cut off before its first value: no field of it parses,
        # so every reader sees a row of nulls (a cut after complete fields
        # reads differently in Spark and DuckDB; see perfbench/README.md)
        lines.insert(rng.randrange(len(lines) + 1), '{"listened_at":')
        return lines, records


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
