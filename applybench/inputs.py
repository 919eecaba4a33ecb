"""Seeded CDC inputs for the apply benchmark, generated once and cached.

A ``World`` is a bounded key space of ``(repo, path)`` rows plus a live
state. It emits real binlog frames through the engine's own wire encoders
(``binlog_spark.wire.events``), with the operation mix of
``binlog_spark.genlog`` (about 50/40/10 insert/update/delete, half of the
updates minimal-image, one transaction in ten autocommit, up to
``ROWS_PER_EVENT_MAX`` rows per event, hot repos taking ``HOT_SHARE`` of
the picks). Unlike ``genlog.CdcWorldGenerator`` it can start from a live
base snapshot and keeps the key space fixed, so live rows level off from
the start instead of growing through the run.

The timed program only ever sees files: raw ``binlog.NNNNNN`` files,
parquet frame chunks cut at GTID boundaries, and a base snapshot parquet.
The oracle (final rows with content sha256, per-chunk change counts) is
written beside them.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import struct
from dataclasses import asdict, dataclass

from binlog_spark import genlog
from binlog_spark.wire import constants as C
from binlog_spark.wire import events as E

ORACLE_COLS = ["repo", "path", "commit", "lang", "content_sha256"]
HOT_SHARE = 0.6  # share of key picks that go to the hot repos
ROWS_PER_EVENT_MAX = 20


@dataclass(frozen=True)
class WorldSpec:
    """Shape of one generated input set (the cache key, with the seed)."""
    n_repos: int
    paths_per_repo: int
    hot_repos: int
    base_live_share: float  # share of the key space live before the tail
    n_txns: int  # transactions in the tail
    txns_per_chunk: int  # chunk cut, at GTID boundaries
    txns_per_file: int  # binlog file rotation
    layout: str = "chunks"  # "chunks": parquet chunks; "binlog": raw files


def cut_at_gtid(frames: list, txns_per_chunk: int) -> list:
    """Split ``(file, pos, etype, frame)`` rows into chunks of
    ``txns_per_chunk`` transactions. A cut is placed only right before a
    GTID event, so every transaction lies whole inside one chunk; frames
    between transactions (ROTATE, FORMAT_DESCRIPTION) stay with the
    transaction before them."""
    if txns_per_chunk < 1:
        raise ValueError("txns_per_chunk must be >= 1")
    chunks, cur, seen = [], [], 0
    for row in frames:
        if row[2] == C.E_GTID:
            if seen and seen % txns_per_chunk == 0:
                chunks.append(cur)
                cur = []
            seen += 1
        cur.append(row)
    if cur:
        chunks.append(cur)
    return chunks


class World:
    """Bounded-key-space CDC world: a base snapshot plus a tail stream."""

    def __init__(self, spec: WorldSpec, seed: int):
        self.spec = spec
        self.rng = random.Random(seed)
        self.fmt = E.BinlogFormat()
        self.table = genlog.table_spec()
        self.words = ["tok%06x" % self.rng.getrandbits(24)
                      for _ in range(4096)]
        self.keys = [(f"org{r % 7}/repo-{r:04d}", f"src/file_{p:05d}.py")
                     for r in range(spec.n_repos)
                     for p in range(spec.paths_per_repo)]
        self.state: dict = {}
        self.live: list = []
        self.live_pos: dict = {}

    # -- rows ---------------------------------------------------------------

    def _content(self) -> str:
        n = self.rng.randint(10, 600)
        return " ".join(self.rng.choices(self.words, k=max(2, n // 9)))

    def _row(self, key) -> dict:
        return {"repo": key[0], "path": key[1],
                "commit": "%040x" % self.rng.getrandbits(160),
                "lang": self.rng.choice(genlog.LANGS),
                "content": self._content()}

    def _pick_key(self):
        s = self.spec
        if self.rng.random() < HOT_SHARE:
            r = self.rng.randrange(s.hot_repos)
        else:
            r = self.rng.randrange(s.n_repos)
        return self.keys[r * s.paths_per_repo
                         + self.rng.randrange(s.paths_per_repo)]

    def _live_add(self, key):
        if key not in self.live_pos:
            self.live_pos[key] = len(self.live)
            self.live.append(key)

    def _live_remove(self, key):
        i = self.live_pos.pop(key)
        last = self.live.pop()
        if i < len(self.live):
            self.live[i] = last
            self.live_pos[last] = i

    def base_snapshot(self) -> list:
        """Live rows before the tail: a seeded share of the key space."""
        for key in self.keys:
            if self.rng.random() < self.spec.base_live_share:
                self.state[key] = self._row(key)
                self._live_add(key)
        return [dict(self.state[k]) for k in sorted(self.state)]

    # -- stream -------------------------------------------------------------

    def tail(self) -> tuple:
        """Generate the tail. Returns ``(frames, changes_per_txn)``:
        frames as ``(file, pos, etype, frame)`` in stream order and the
        committed change-row count of every transaction, in GTID order."""
        s, rng = self.spec, self.rng
        frames, per_txn = [], []
        file_idx, pos = 0, 4
        base_ts = 1700000000

        def emit(etype, payload, ts):
            nonlocal pos
            frame = bytearray(E.packetize(self.fmt, etype, 0, payload,
                                          timestamp=ts, server_id=1,
                                          log_position=pos))
            nxt = pos + len(frame)
            struct.pack_into("<I", frame, 13, nxt & 0xFFFFFFFF)
            frames.append((f"binlog.{file_idx:06d}", pos, etype,
                           E.apply_crc32(bytes(frame))))
            pos = nxt

        emit(C.E_FORMAT_DESCRIPTION, E.make_format_description(self.fmt),
             base_ts)
        for t in range(s.n_txns):
            ts = base_ts + t
            if t and t % s.txns_per_file == 0:
                emit(C.E_ROTATE,
                     E.make_rotate(4, f"binlog.{file_idx + 1:06d}"), 0)
                file_idx, pos = file_idx + 1, 4
                emit(C.E_FORMAT_DESCRIPTION,
                     E.make_format_description(self.fmt), ts)
            gtid = t + 1
            autocommit = rng.random() < 0.1
            emit(C.E_GTID, E.make_gtid(gtid), ts)
            if not autocommit:
                emit(C.E_QUERY, E.make_query(genlog.DB, "BEGIN"), ts)
            n_changes = 0
            for _ in range(1 if autocommit else rng.randint(1, 3)):
                etype, rows = self._event()
                if not rows:
                    continue
                emit(C.E_TABLE_MAP,
                     E.make_table_map(self.table, genlog.TABLE_ID), ts)
                emit(etype, E.make_rows_event(self.table, genlog.TABLE_ID,
                                              etype, rows), ts)
                n_changes += len(rows)
            if not autocommit:
                emit(C.E_XID, E.make_xid(gtid), ts)
            per_txn.append(n_changes)
        return frames, per_txn

    def _event(self) -> tuple:
        """One rows event ``(etype, [(before, after), ...])``, applied to
        the oracle state as it is generated."""
        rng = self.rng
        op = rng.choices("IUD", weights=[50, 40, 10])[0]
        n_rows = rng.randint(1, ROWS_PER_EVENT_MAX)
        rows = []
        if op == "I":
            for _ in range(n_rows):
                key = self._pick_key()
                row = self._row(key)
                rows.append((None, row))
                self.state[key] = dict(row)
                self._live_add(key)
            return C.E_WRITE_ROWS_V2, rows
        if not self.live:
            return None, []
        if op == "U":
            minimal = rng.random() < 0.5
            for _ in range(min(n_rows, len(self.live))):
                key = self.live[rng.randrange(len(self.live))]
                after = {"repo": key[0], "path": key[1],
                         "commit": "%040x" % rng.getrandbits(160),
                         "content": self._content()}
                if not minimal:
                    after["lang"] = rng.choice(genlog.LANGS)
                rows.append(({"repo": key[0], "path": key[1]}, after))
                self.state[key].update(after)
            return C.E_UPDATE_ROWS_V2, rows
        for _ in range(min(n_rows, len(self.live), 5)):
            key = self.live[rng.randrange(len(self.live))]
            rows.append(({"repo": key[0], "path": key[1]}, None))
            del self.state[key]
            self._live_remove(key)
        return C.E_DELETE_ROWS_V2, rows

    def oracle_rows(self) -> list:
        out = []
        for key in sorted(self.state):
            r = self.state[key]
            out.append({"repo": r["repo"], "path": r["path"],
                        "commit": r["commit"], "lang": r["lang"],
                        "content_sha256": hashlib.sha256(
                            r["content"].encode()).hexdigest()})
        return out


# -- on-disk input sets -------------------------------------------------------

def _write_table(rows: list, cols: list, path: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({c: pa.array([r[c] for r in rows], pa.string())
                             for c in cols}), path)


def _write_frames(rows: list, path: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "file": pa.array([r[0] for r in rows], pa.string()),
        "pos": pa.array([r[1] for r in rows], pa.int64()),
        "etype": pa.array([r[2] for r in rows], pa.int32()),
        "frame": pa.array([r[3] for r in rows], pa.binary()),
    }), path, row_group_size=4096)


def chunk_name(i: int) -> str:
    return f"c{i:06d}.parquet"


def build(spec: WorldSpec, seed: int, out_dir: str):
    """Generate one input set into ``out_dir``:

    * ``binlog/`` the tail as raw binlog files (``layout="binlog"``), or
    * ``chunks/`` the tail as parquet frame chunks cut at GTID boundaries,
    * ``base.parquet`` the base snapshot (absent when the base is empty),
    * ``oracle.parquet`` final rows with content sha256,
    * ``manifest.json`` spec, seed and change counts per chunk.
    """
    from binlog_spark.sources.binlog_file import write_binlog_files

    world = World(spec, seed)
    base = world.base_snapshot()
    frames, per_txn = world.tail()
    os.makedirs(out_dir)
    chunks = cut_at_gtid(frames, spec.txns_per_chunk)
    changes_per_chunk, txn = [], 0
    for rows in chunks:
        n_txns = sum(1 for r in rows if r[2] == C.E_GTID)
        changes_per_chunk.append(sum(per_txn[txn:txn + n_txns]))
        txn += n_txns
    if spec.layout == "binlog":
        write_binlog_files(_Frames(frames), os.path.join(out_dir, "binlog"))
    else:
        chunk_dir = os.path.join(out_dir, "chunks")
        os.makedirs(chunk_dir)
        for i, rows in enumerate(chunks):
            _write_frames(rows, os.path.join(chunk_dir, chunk_name(i)))
    if base:
        _write_table(base, genlog.table_spec().col_names,
                     os.path.join(out_dir, "base.parquet"))
    oracle = world.oracle_rows()
    _write_table(oracle, ORACLE_COLS, os.path.join(out_dir, "oracle.parquet"))
    manifest = {
        "spec": asdict(spec), "seed": seed,
        "base_rows": len(base), "final_rows": len(oracle),
        "n_txns": len(per_txn), "n_changes": sum(per_txn),
        "n_files": len({r[0] for r in frames}),
        "chunks": [chunk_name(i) for i in range(len(chunks))],
        "changes_per_chunk": changes_per_chunk,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


class _Frames:
    """Adapter: ``write_binlog_files`` reads a ``.frames`` attribute."""

    def __init__(self, frames):
        self.frames = frames


def cached(spec: WorldSpec, seed: int, cache_root: str,
           keep: int = 40) -> tuple:
    """``(dir, manifest)`` of the input set for ``(spec, seed)``, built on
    first use. A set is published by renaming a finished directory, so an
    interrupted build is never mistaken for a cached one. Beyond ``keep``
    sets the least recently used are removed."""
    key = hashlib.sha256(json.dumps([asdict(spec), seed],
                                    sort_keys=True).encode()).hexdigest()[:16]
    final = os.path.join(cache_root, f"s{seed}-{key}")
    man = os.path.join(final, "manifest.json")
    if not os.path.exists(man):
        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(cache_root, exist_ok=True)
        build(spec, seed, tmp)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    os.utime(final)
    sets = sorted((e for e in os.scandir(cache_root)
                   if e.is_dir() and ".tmp" not in e.name),
                  key=lambda e: e.stat().st_mtime, reverse=True)
    for old in sets[keep:]:
        shutil.rmtree(old.path, ignore_errors=True)
    with open(man) as f:
        return final, json.load(f)
