"""Seeded CDC input generator with an expected-state model.

The base table is the F1 fixture (FIXTURES.md) at a fixed seed: row ``seq``
has key ``img-42-{seq:012d}`` and the payload ``make_row(42, seq)``. The
benchmark's ``--seed`` drives everything after that: which ops a batch holds,
which live keys its updates and deletes target, which payload each new
version carries, and which rows the read mix asks for.

Every event is applied to the model as it is generated, so the model always
holds the state the table must reach once the batch is merged: the live keys,
their version (encoded in the caption) and their raw payload size. Event
payloads reuse the base rows' encoded images (a pool), so a batch costs no
image encoding; the key, version and caption are the event's own.

F2 mix (FIXTURES.md): ~70 % I on new keys, ~20 % U of live keys, ~10 % D of
live keys, plus the adversarial cases: a key updated twice in one batch, a key
deleted then re-inserted in one batch, and a delete of a key that never
existed. Follow-up events (the second update, the re-insert) are placed at the
end of the batch with higher LSNs, so the file order is not the LSN order of
one key's events.
"""

from __future__ import annotations

import base64
import json
import zlib
from dataclasses import dataclass

import numpy as np

BASE_SEED = 42
# keys that are never inserted: the delete-of-missing events target these
MISSING_SEQ0 = 900_000_000_000

_ADJ = ["quiet", "amber", "braided", "hollow", "gilded", "mossy", "late", "northern"]
_NOUN = ["harbor", "orchard", "lantern", "ridge", "meadow", "vault", "causeway", "atlas"]

P_INSERT, P_UPDATE = 0.70, 0.20  # the rest are deletes
P_UPDATE_TWICE = 0.15
P_DELETE_REINSERT = 0.10
P_DELETE_MISSING = 0.05


def image_id(seq: int) -> str:
    return f"img-{BASE_SEED}-{seq:012d}"


def caption(seq: int, version: int) -> str:
    """Caption of an event row: encodes the key's seq and version."""
    h = zlib.crc32(f"{seq}:{version}".encode())
    return f"{_ADJ[h % 8]} {_NOUN[(h >> 3) % 8]} scene {seq:012d} v{version}"


def row_hash(key: str, cap: str) -> int:
    """Per-row term of the order-independent table hash; equals Spark's
    ``crc32(concat_ws('|', image_id, caption))``."""
    return zlib.crc32(f"{key}|{cap}".encode())


@dataclass
class Pool:
    """The base rows' payloads, indexed by base seq."""

    data: list  # encoded image bytes
    w: np.ndarray
    h: np.ndarray
    fmt: list
    phash: np.ndarray
    caption: list  # base captions (version 0)

    def raw_bytes(self, i: int, cap: str) -> int:
        # image_id (19 chars) + payload + w + h + fmt + caption + phash
        return 19 + len(self.data[i]) + 4 + 4 + len(self.fmt[i]) + len(cap) + 8

    @staticmethod
    def from_parquet(paths: list) -> "Pool":
        """The pool of the base rows stored in the parquet files *paths*."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.concat_tables([pq.read_table(p) for p in paths])
        ids = tbl.column("image_id").to_pylist()
        order = np.argsort([int(s.rsplit("-", 1)[1]) for s in ids])

        def take(col: str) -> list:
            vals = tbl.column(col).to_pylist()
            return [vals[i] for i in order]

        return Pool(
            data=take("bytes"),
            w=np.asarray(take("w"), dtype=np.int32),
            h=np.asarray(take("h"), dtype=np.int32),
            fmt=take("fmt"),
            phash=np.asarray(take("phash"), dtype=np.int64),
            caption=take("caption"),
        )


@dataclass
class Event:
    op: str
    lsn: int
    seq: int
    version: int = 0
    src: int = -1  # pool index of the payload; -1 for D


@dataclass
class Batch:
    events: list
    expected_matched: int  # distinct batch keys live before the batch
    raw_bytes: int  # raw payload bytes of the I/U events


class Model:
    """Live state of the table under the generated event stream."""

    def __init__(self, pool: Pool, n_base: int, seed: int, stream: int = 0):
        self.pool = pool
        self.rng = np.random.Generator(np.random.PCG64([seed, stream]))
        # live key -> (version, pool index); base rows are version 0 of themselves
        self.live: dict[int, tuple[int, int]] = {s: (0, s) for s in range(n_base)}
        self._keys = list(range(n_base))  # for O(1) uniform sampling
        self._pos = {s: s for s in range(n_base)}
        self._version: dict[int, int] = {}
        self.next_seq = n_base
        self.next_lsn = 1_000
        self._missing = 0
        self.hash = sum(row_hash(image_id(s), pool.caption[s]) for s in range(n_base))
        self.raw = sum(pool.raw_bytes(s, pool.caption[s]) for s in range(n_base))

    # ----------------------------------------------------------- live set
    def row_caption(self, seq: int) -> str:
        ver, src = self.live[seq]
        return self.pool.caption[seq] if ver == 0 else caption(seq, ver)

    def _set(self, seq: int, ver: int, src: int) -> None:
        if seq in self.live:
            self._unset(seq)
        self.live[seq] = (ver, src)
        self._pos[seq] = len(self._keys)
        self._keys.append(seq)
        cap = self.row_caption(seq)
        self.hash += row_hash(image_id(seq), cap)
        self.raw += self.pool.raw_bytes(src, cap)

    def _unset(self, seq: int) -> None:
        if seq not in self.live:
            return
        cap = self.row_caption(seq)
        self.hash -= row_hash(image_id(seq), cap)
        self.raw -= self.pool.raw_bytes(self.live[seq][1], cap)
        del self.live[seq]
        i = self._pos.pop(seq)
        last = self._keys.pop()
        if last != seq:
            self._keys[i] = last
            self._pos[last] = i

    def _pick_live(self) -> int:
        return self._keys[int(self.rng.integers(0, len(self._keys)))]

    def _bump(self, seq: int) -> int:
        v = self._version.get(seq, 0) + 1
        self._version[seq] = v
        return v

    # ----------------------------------------------------------- batches
    def next_batch(self, n_events: int) -> Batch:
        """Draw ~*n_events* events, apply them to the model, return them."""
        events: list[Event] = []
        later: list[tuple] = []  # follow-ups, emitted after the main events
        first_seen: dict[int, bool] = {}  # batch key -> live before the batch
        raw = 0

        def emit(op: str, seq: int, ver: int = 0, src: int = -1) -> None:
            nonlocal raw
            if seq not in first_seen:
                first_seen[seq] = seq in self.live
            events.append(Event(op, self.next_lsn, seq, ver, src))
            self.next_lsn += 1
            if op == "D":
                self._unset(seq)
            else:
                self._set(seq, ver, src)
                raw += self.pool.raw_bytes(src, self.row_caption(seq))

        n_pool = len(self.pool.data)
        for _ in range(n_events):
            r = self.rng.random()
            src = int(self.rng.integers(0, n_pool))
            if r < P_INSERT:
                seq = self.next_seq
                self.next_seq += 1
                emit("I", seq, self._bump(seq), src)
            elif r < P_INSERT + P_UPDATE:
                seq = self._pick_live()
                emit("U", seq, self._bump(seq), src)
                if self.rng.random() < P_UPDATE_TWICE:
                    later.append(("U", seq, int(self.rng.integers(0, n_pool))))
            else:
                seq = self._pick_live()
                emit("D", seq)
                if self.rng.random() < P_DELETE_REINSERT:
                    later.append(("I", seq, int(self.rng.integers(0, n_pool))))
                if self.rng.random() < P_DELETE_MISSING:
                    emit("D", MISSING_SEQ0 + self._missing)
                    self._missing += 1
        for op, seq, src in later:
            emit(op, seq, self._bump(seq), src)
        return Batch(events, sum(first_seen.values()), raw)

    # ----------------------------------------------------------- read mix
    def phash_window(self, frac: float) -> tuple[int, int, int]:
        """A seeded phash window holding ~*frac* of the live rows:
        (lo, hi, expected live rows in [lo, hi])."""
        ph = np.sort(self.pool.phash[[src for _, src in self.live.values()]])
        span = max(1, int(len(ph) * frac))
        i = int(self.rng.integers(0, len(ph) - span))
        lo, hi = int(ph[i]), int(ph[i + span])
        return lo, hi, int(np.searchsorted(ph, hi, "right") - np.searchsorted(ph, lo, "left"))

    def live_key(self) -> int:
        return self._keys[int(self.rng.integers(0, len(self._keys)))]


# --------------------------------------------------------------- writers
def _row(pool: Pool, ev: Event) -> dict:
    if ev.op == "D":
        return {"op": "D", "lsn": ev.lsn, "image_id": image_id(ev.seq), "bytes": None,
                "w": None, "h": None, "fmt": None, "caption": None, "phash": None}
    s = ev.src
    return {"op": ev.op, "lsn": ev.lsn, "image_id": image_id(ev.seq), "bytes": pool.data[s],
            "w": int(pool.w[s]), "h": int(pool.h[s]), "fmt": pool.fmt[s],
            "caption": caption(ev.seq, ev.version), "phash": int(pool.phash[s])}


def write_parquet(pool: Pool, batch: Batch, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("op", pa.string()), ("lsn", pa.int64()), ("image_id", pa.string()),
        ("bytes", pa.binary()), ("w", pa.int32()), ("h", pa.int32()),
        ("fmt", pa.string()), ("caption", pa.string()), ("phash", pa.int64()),
    ])
    rows = [_row(pool, ev) for ev in batch.events]
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def write_jsonl(pool: Pool, batch: Batch, path: str) -> int:
    """REST-style JSON lines, payload base64; returns the bytes written."""
    out = []
    for ev in batch.events:
        r = _row(pool, ev)
        if r["bytes"] is not None:
            r["bytes"] = base64.b64encode(r["bytes"]).decode()
        out.append(json.dumps(r))
    text = "\n".join(out) + "\n"
    with open(path, "w") as fh:
        fh.write(text)
    return len(text)
