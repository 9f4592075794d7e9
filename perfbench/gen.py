"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (numpy's PCG64 stream, CSV text built in Python).
Nothing here touches Spark. The registry rows read the sf0.1 test tables
copied under `perfbench/data/`, not generated ones.

- `music_reference`: users.csv and songs.csv at reference scale.
- `music_hour`: the three stream CSVs that land in one simulated hour.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np

USERS_ROWS = 50_000
SONGS_ROWS = 90_000
STREAM_FILE_ROWS = 11_346
STREAM_FILES_PER_HOUR = 3

GENRES = [
    "rock", "pop", "jazz", "classical", "hip-hop", "electronic", "country",
    "r&b", "folk", "blues", "accoustic", "metal", "reggae", "latin", "world",
]
OFF_GENRES = ["afrobeat", "anime", "k-pop", "ambient", "ska", "grunge", "emo", "gospel"]
COUNTRIES = ["Australia", "Canada", "Ireland", "New Zealand", "United Kingdom", "United States"]
FIRST = ["Ava", "Ben", "Chen", "Dana", "Eli", "Fay", "Gus", "Hana", "Ivan", "Jo", "Kai", "Lea"]
LAST = ["Ng", "Okafor", "Park", "Quinn", "Rossi", "Silva", "Tan", "Ueda", "Vos", "Wolfe"]
B62 = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"))


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([int(seed), sum(ord(c) * 131**i for i, c in enumerate(stream)) % 2**32])


def _track_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    chars = B62[rng.integers(0, 62, (n, 22))]
    return np.array(["".join(row) for row in chars])


def _csv(path: str, header: list[str], rows) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="\n") as f:
        f.write(",".join(header) + "\n")
        for row in rows:
            f.write(",".join("" if v is None else str(v) for v in row) + "\n")


def music_reference(out_dir: str, seed: int, users: int = USERS_ROWS, songs: int = SONGS_ROWS) -> dict:
    """users.csv and songs.csv, with the reference's edge rows: full-row
    duplicates and null keys (both dropped by extraction), mixed-case and
    off-whitelist genres, and over-long tracks (warnings only).
    Returns the key universes the stream generator samples from."""
    r = _rng(seed, "music_ref")
    first = np.array(FIRST)[r.integers(0, len(FIRST), users)]
    last = np.array(LAST)[r.integers(0, len(LAST), users)]
    age = r.integers(18, 70, users)
    country = np.array(COUNTRIES)[r.integers(0, len(COUNTRIES), users)]
    created = np.datetime64("2024-01-01") + r.integers(0, 366, users).astype("timedelta64[D]")
    urows = [
        [i + 1, f"{first[i]} {last[i]}", age[i], country[i], str(created[i])]
        for i in range(users)
    ]
    for j in r.integers(0, users, max(1, users // 500)):  # duplicate rows
        urows.append(list(urows[j]))
    for j in r.integers(0, users, max(1, users // 1000)):  # null keys
        urows.append([None] + urows[j][1:])
    _csv(os.path.join(out_dir, "users.csv"), ["user_id", "user_name", "user_age", "user_country", "created_at"], urows)

    tids = _track_ids(r, songs)
    n = len(tids)
    genre = np.array(GENRES)[r.integers(0, len(GENRES), n)]
    off = r.random(n) < 0.10
    genre[off] = np.array(OFF_GENRES)[r.integers(0, len(OFF_GENRES), off.sum())]
    upper = r.random(n) < 0.02
    genre = np.where(upper, np.char.capitalize(genre), genre)
    dur = r.integers(120_000, 360_001, n)
    dur[r.random(n) < 0.001] = 2_000_000
    srows = [
        [tids[i], f"Track {i}", f"Artist {int(r.integers(0, 5000))}", genre[i], dur[i]]
        for i in range(n)
    ]
    for j in r.integers(0, n, max(1, n // 500)):
        srows.append(list(srows[j]))
    for j in r.integers(0, n, max(1, n // 1000)):
        srows.append([None] + srows[j][1:])
    _csv(os.path.join(out_dir, "songs.csv"), ["track_id", "track_name", "artists", "track_genre", "duration_ms"], srows)
    return {"n_users": users, "track_ids": tids}


def music_hour(
    out_dir: str, seed: int, hour: int, universe: dict, day: str,
    files: int = STREAM_FILES_PER_HOUR, rows: int = STREAM_FILE_ROWS,
) -> list[str]:
    """The stream CSVs landing in simulated hour `hour`: listen events over
    the 24 hours of `day`, with in-file duplicate rows, rows repeated in the
    next file (cross-file overlap), null keys and orphan keys."""
    r = _rng(seed, f"music_hour_{hour}")
    tids = universe["track_ids"]
    n_users = universe["n_users"]
    base = datetime.fromisoformat(day)
    paths, prev = [], []
    for f in range(files):
        u = r.integers(1, n_users + 1, rows).astype(object)
        t = tids[r.integers(0, len(tids), rows)].astype(object)
        sec = r.integers(0, 86_400, rows)
        ts = [(base + timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S") for s in sec]
        kind = r.random(rows)
        out = []
        for i in range(rows):
            k = kind[i]
            if k < 0.005:
                out.append([n_users + 1 + int(r.integers(0, 1000)), t[i], ts[i]])  # orphan user
            elif k < 0.01:
                out.append([u[i], "ORPHAN" + t[i][6:], ts[i]])  # orphan track
            elif k < 0.013:
                out.append([None, t[i], ts[i]])  # null key
            elif k < 0.016:
                out.append([u[i], None, ts[i]])
            elif k < 0.03 and out:
                out.append(list(out[int(r.integers(0, len(out)))]))  # duplicate row
            elif k < 0.05 and prev:
                out.append(list(prev[int(r.integers(0, len(prev)))]))  # cross-file overlap
            else:
                out.append([u[i], t[i], ts[i]])
        path = os.path.join(out_dir, f"streams_h{hour:03d}_{f}.csv")
        _csv(path, ["user_id", "track_id", "listen_time"], out)
        paths.append(path)
        prev = out
    return paths
