"""Seeded CDR inputs for the benchmark workloads.

One replica mirrors the sf0.1 fixture behind ``plans/cdr.py``: 100k
events from 1,500 subscribers over 30 days of January 2024, of which
about a fifth are signups that seed the ``ms_ip`` assignment history.
The derivations are written out here, so the benchmark's inputs do not
move when the package's own fixture SQL changes:

- ``imsi`` is set on even event ids, ``msisdn`` on every tenth;
- every third event carries two IPs, the rest one, always wrapped as
  ``;ip;ip;`` like the reference generator's lists;
- ``unique_cdr_id`` groups four consecutive events per id (deliberate
  collisions, so the dedup stage has work).

Replicas shift ``unique_cdr_id`` by a seed-chosen multiple of
``REPLICA_STRIDE``; the seed also fixes subscribers, event types,
timestamps and line order. A live feed keeps the rows but stamps them
with its own clock (``feed_times``): one day after the fixture's month,
advancing with the feed. Timestamps are whole milliseconds and the CSV
wire form writes them as ``yyyy-MM-dd HH:mm:ss.SSS`` — the format
``csv_decode.decode_csv_value`` accepts; a microsecond form would be
dropped as malformed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROBE_CODES = [
    "DE", "cl", "ek", "ir", "kg", "kh", "mn", "nn",
    "ns", "rd", "sp", "sr", "st", "vr", "yd",
]
EVENTS_PER_REPLICA = 100_000
USERS = 1_500
DAYS = 30
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
REPLICA_STRIDE = 100_000_000  # > max base unique_cdr_id (~25M)
IMSI_BASE = 250_000_000_000
SIGNUP = 0  # event_type code that seeds an ms_ip assignment
LIVE_EPOCH_MS = BASE_MS + DAYS * 86_400_000 + 3_600_000  # 2024-01-31T01:00:00Z


class Replica:
    """One fixture replica: CDR columns as numpy arrays, plus each line's
    wire tail (every field after ``start_time`` up to ``unique_cdr_id``,
    which is the one field a replica shifts)."""

    def __init__(self, seed: int, n: int = EVENTS_PER_REPLICA) -> None:
        rng = np.random.default_rng([seed, 0])
        self.n = n
        event_id = np.arange(n, dtype=np.int64)
        self.start_ms = BASE_MS + np.sort(
            rng.integers(0, DAYS * 86_400_000, n, dtype=np.int64)
        )
        self.user = rng.integers(0, USERS, n, dtype=np.int64)
        event_type = rng.integers(0, 5, n)
        self.imsi = np.where(event_id % 2 == 0, IMSI_BASE + self.user, -1)
        self.msisdn = np.where(event_id % 10 == 0, 79_000_000_000 + self.user, -1)
        self.cdr_id = (event_id // 4) * 1000 + self.user % 7
        users = self.user.tolist()
        self.probe_names = [f"{PROBE_CODES[u % 15]}-probe-{u}" for u in users]
        self.ip_lists = [
            f";10.{u}.0.1;10.{u}.0.2;" if two else f";10.{u}.0.1;"
            for u, two in zip(users, (event_id % 3 == 0).tolist())
        ]
        self.tails = [
            f"{p},{_opt(i)},{_opt(m)},{ips},"
            for p, i, m, ips in zip(
                self.probe_names, self.imsi.tolist(), self.msisdn.tolist(), self.ip_lists
            )
        ]
        sig = event_type == SIGNUP
        self.sig_start_ms = self.start_ms[sig]
        self.sig_user = self.user[sig]
        self.sig_msisdn = 79_002_000_000 + self.sig_user * 1000 + event_id[sig] % 997


def _opt(v: int) -> str:
    return "" if v < 0 else str(v)


def _stamps(ms: np.ndarray) -> list[str]:
    """Epoch milliseconds as ``yyyy-MM-dd HH:mm:ss.SSS`` (UTC)."""
    iso = np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms").tolist()
    return [f"{t[:10]} {t[11:]}" for t in iso]


def replica_offsets(seed: int, replicas: int) -> np.ndarray:
    """Seed-chosen, distinct ``unique_cdr_id`` shifts, one per replica."""
    rng = np.random.default_rng([seed, 1])
    slots = rng.choice(8 * replicas, size=replicas, replace=False)
    return (slots.astype(np.int64) + 1) * REPLICA_STRIDE


def csv_lines(rep: Replica, offsets: np.ndarray, order: list[int],
              start_ms: np.ndarray | None = None) -> list[str]:
    """The reference's CSV wire lines (empty field = NULL). Rows are
    numbered block by block, ``rep.n`` per offset; ``order`` picks the
    rows and their line order. ``start_ms`` (one per line) replaces the
    fixture's event times."""
    k = len(offsets)
    if start_ms is None:
        start_ms = np.tile(rep.start_ms, k)[order]
    tails = rep.tails * k
    ids = np.concatenate([rep.cdr_id + o for o in offsets]).tolist()
    return [f"{t},{tails[j]}{ids[j]}" for t, j in zip(_stamps(start_ms), order)]


def typed_table(rep: Replica, offsets: np.ndarray, order: list[int],
                start_ms: np.ndarray | None = None) -> pa.Table:
    """The rows of ``csv_lines`` with the same arguments, typed and in
    the same order — the correctness reference reads this, not the wire."""
    k = len(offsets)
    if start_ms is None:
        start_ms = np.tile(rep.start_ms, k)[order]
    imsi = np.tile(rep.imsi, k)
    msisdn = np.tile(rep.msisdn, k)
    table = pa.table(
        {
            "measuring_probe_name": pa.array(rep.probe_names * k),
            "imsi": pa.array(imsi, mask=imsi < 0),
            "msisdn": pa.array(msisdn, mask=msisdn < 0),
            "ms_ip_address": pa.array(rep.ip_lists * k),
            "unique_cdr_id": pa.array(np.concatenate([rep.cdr_id + o for o in offsets])),
        }
    ).take(order)
    return table.add_column(
        0, "start_time", pa.array(start_ms, pa.timestamp("ms", tz="UTC"))
    )


def write_dims(rep: Replica, root: str) -> dict[str, str]:
    """Write the two dimensions as parquet; returns name -> directory."""
    users = np.unique(rep.user)
    users = users[users % 5 != 3]  # ~80% coverage: Path A misses exist
    imsi_msisdn = pa.table(
        {"imsi": IMSI_BASE + users, "msisdn": 79_001_000_000 + users}
    )
    sig_users = rep.sig_user.tolist()
    ms_ip = pa.table(
        {
            "start_time": pa.array(rep.sig_start_ms, pa.timestamp("ms", tz="UTC")),
            "imsi": IMSI_BASE + rep.sig_user,
            "msisdn": rep.sig_msisdn,
            "ms_ip_address": [f";10.{u}.0.1;10.{u}.0.2;" for u in sig_users],
            "probe": [PROBE_CODES[u % 15] for u in sig_users],
        }
    )
    paths = {}
    for name, table in (("imsi_msisdn", imsi_msisdn), ("ms_ip", ms_ip)):
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        paths[name] = d
    return paths


def permutation(n: int, seed: int) -> list[int]:
    """The seed's line order for ``n`` rows: shuffled."""
    return np.random.default_rng([seed, 2]).permutation(n).tolist()


def feed_times(n: int, rate: float, seed: int, jitter_ms: int = 1_000) -> np.ndarray:
    """Event times for a live feed of ``n`` lines at ``rate`` lines/s:
    line ``k`` happened ``k / rate`` s after ``LIVE_EPOCH_MS``, minus up
    to ``jitter_ms`` of seeded lateness. The feed runs after every
    ``ms_ip`` assignment, on one day, like a real-time CDR stream."""
    rng = np.random.default_rng([seed, 3])
    due = LIVE_EPOCH_MS + (np.arange(n) * 1000 / rate).astype(np.int64)
    return due - rng.integers(0, jitter_ms, n)


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
