"""Seeded CDC change-log generator, cache and fingerprint for the benchmark.

The benchmark owns its input: the log is generated here with NumPy from the
workload seed, not by the engine's own ``sources/cdc_gen.py``, so an edit to
the engine's generator cannot change what the benchmark measures. The layout
and schema are the ones the engine's ingest loop reads: parquet partitioned by
``_epoch_part``, columns ``op, lsn, commit_ts, epoch, doc_id, tokens, n_tok,
source``.

Planted properties, all deterministic in ``seed``:

* hot keys      -- ``hot_fraction`` of events hit the first ``n_hot`` keys;
* duplicates    -- ``dup_fraction`` of events are delivered twice (same LSN);
* deletes       -- ``delete_fraction`` of events are ``D``;
* arrival order -- rows inside an epoch are shuffled, so arrival order is not
  LSN order.

Each log is written once per (parameters, seed) under the cache directory and
fingerprinted by row count plus an order-independent 64-bit row-hash sum. A
cached log whose fingerprint no longer matches the one recorded at generation
time raises :class:`FingerprintMismatch`.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
CACHE_KEEP = 16  # most recently used logs kept in the cache directory
_EPOCH_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC; 10 ms per LSN
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


class FingerprintMismatch(RuntimeError):
    """A cached input log no longer matches the fingerprint recorded when it
    was generated."""


@dataclass(frozen=True)
class LogSpec:
    n_epochs: int
    events_per_epoch: int
    n_keys: int
    n_hot: int = 0
    hot_fraction: float = 0.0
    dup_fraction: float = 0.02
    delete_fraction: float = 0.05
    max_tokens: int = 64
    vocab_size: int = 50_000
    n_sources: int = 20

    def key(self, seed: int) -> str:
        doc = json.dumps({"v": GENERATOR_VERSION, "seed": seed, **asdict(self)}, sort_keys=True)
        return hashlib.sha256(doc.encode()).hexdigest()[:16]


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser, vectorised over uint64 (wraps mod 2**64)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return x ^ (x >> np.uint64(31))


def _epoch_table(spec: LogSpec, seed: int, epoch: int) -> pa.Table:
    rng = np.random.default_rng([seed, epoch])
    n = spec.events_per_epoch
    lsn = np.arange(epoch * n, (epoch + 1) * n, dtype=np.int64)
    hot = rng.random(n) < spec.hot_fraction if spec.n_hot else np.zeros(n, dtype=bool)
    key = np.where(
        hot,
        rng.integers(0, max(spec.n_hot, 1), n),
        rng.integers(spec.n_hot, spec.n_keys, n),
    )
    u = rng.random(n)
    op_code = np.where(u < spec.delete_fraction, 0, np.where(u < spec.delete_fraction + 0.3, 1, 2))
    n_tok = rng.integers(1, spec.max_tokens + 1, n).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    values = rng.integers(0, spec.vocab_size, int(offsets[-1])).astype(np.int32)
    # at-least-once transport: re-deliver a subset verbatim (same LSN)
    dup = np.flatnonzero(rng.random(n) < spec.dup_fraction)
    rows = np.concatenate([np.arange(n), dup])
    rng.shuffle(rows)  # arrival order != LSN order

    sel_tok = n_tok[rows]
    sel_off = np.zeros(len(rows) + 1, dtype=np.int32)
    np.cumsum(sel_tok, out=sel_off[1:])
    starts = offsets[rows]
    # gather each selected row's token slice: position i of the output maps
    # to starts[row] + (i - sel_off[row])
    row_of = np.repeat(np.arange(len(rows)), sel_tok)
    sel_vals = values[starts[row_of] + (np.arange(int(sel_off[-1])) - sel_off[row_of])]

    sel_key = key[rows]
    sel_lsn = lsn[rows]
    src_id = _mix(sel_key.astype(np.uint64) ^ np.uint64(seed)) % np.uint64(spec.n_sources)
    return pa.table(
        {
            "op": _decode(op_code[rows], ["D", "I", "U"]),
            "lsn": pa.array(sel_lsn),
            "commit_ts": pa.array(_EPOCH_T0_US + sel_lsn * 10_000, type=pa.timestamp("us", tz="UTC")),
            "epoch": pa.array(np.full(len(rows), epoch, dtype=np.int64)),
            "doc_id": _doc_ids(sel_key),
            "tokens": pa.ListArray.from_arrays(pa.array(sel_off), pa.array(sel_vals)),
            "n_tok": pa.array(sel_tok),
            "source": _decode(src_id.astype(np.int32), [f"src{i}" for i in range(spec.n_sources)]),
        }
    )


def _decode(codes: np.ndarray, labels: list[str]) -> pa.Array:
    return pa.DictionaryArray.from_arrays(pa.array(codes.astype(np.int32)), pa.array(labels)).dictionary_decode()


def _doc_ids(keys: np.ndarray) -> pa.Array:
    """``doc-%08d`` strings built straight into an Arrow buffer."""
    n = len(keys)
    buf = np.empty((n, 12), dtype=np.uint8)
    buf[:, :4] = np.frombuffer(b"doc-", dtype=np.uint8)
    k = keys.astype(np.int64)
    for i in range(11, 3, -1):
        buf[:, i] = ord("0") + k % 10
        k //= 10
    offsets = np.arange(0, 12 * (n + 1), 12, dtype=np.int32)
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(buf))


def fingerprint_table(t: pa.Table) -> int:
    """Order-independent 64-bit hash of a CDC log table: the sum, mod 2**64,
    of one hash per row over every column."""
    toks = t.column("tokens").combine_chunks()
    offsets = toks.offsets.to_numpy()
    lengths = np.diff(offsets)
    pos = np.arange(offsets[-1] - offsets[0]) - np.repeat(offsets[:-1] - offsets[0], lengths)
    flat = toks.values.to_numpy()[offsets[0] : offsets[-1]].astype(np.uint64)
    # every row has at least one token, so reduceat's segments are non-empty
    tok_h = np.add.reduceat(_mix(flat ^ (pos.astype(np.uint64) << np.uint64(32))), offsets[:-1] - offsets[0])
    key = _string_hash(t.column("doc_id"))
    src = _string_hash(t.column("source"))
    op = _string_hash(t.column("op"))
    h = _mix(t.column("lsn").to_numpy().astype(np.uint64))
    for part in (
        key,
        op,
        t.column("n_tok").to_numpy().astype(np.uint64),
        tok_h,
        src,
        t.column("commit_ts").cast(pa.int64()).to_numpy().astype(np.uint64),
        t.column("epoch").to_numpy().astype(np.uint64),
    ):
        h = _mix(h ^ part)
    return int(np.sum(h, dtype=np.uint64))


def _string_hash(col: pa.ChunkedArray) -> np.ndarray:
    """Per-row hash of a string column: hash each distinct value once."""
    enc = col.combine_chunks().dictionary_encode()
    per_value = np.array(
        [int.from_bytes(hashlib.blake2b(v.encode(), digest_size=8).digest(), "little") for v in enc.dictionary.to_pylist()],
        dtype=np.uint64,
    )
    return per_value[enc.indices.to_numpy()]


def _fingerprint_dir(log_dir: str, n_epochs: int) -> dict:
    rows, h = 0, 0
    for e in range(n_epochs):
        t = pq.read_table(os.path.join(log_dir, f"_epoch_part={e}"))
        rows += t.num_rows
        h = (h + fingerprint_table(t)) % (1 << 64)
    return {"rows": rows, "hash": f"{h:016x}"}


# A fixed tiny log and its fingerprint: any change to the generator, or to
# NumPy's generator streams, changes it and fails every run until the
# generator version and this constant are updated together.
_CANARY = (LogSpec(n_epochs=1, events_per_epoch=1000, n_keys=100, n_hot=3, hot_fraction=0.2), 1023, "0011f656261092c7")


def ensure_log(cache_dir: str, spec: LogSpec, seed: int) -> tuple[str, dict, float]:
    """Return ``(log_dir, fingerprint, seconds spent generating)``; generate
    the log on first use, verify its fingerprint on every later use."""
    canary_spec, canary_rows, canary_hash = _CANARY
    t = _epoch_table(canary_spec, 0, 0)
    if (t.num_rows, f"{fingerprint_table(t):016x}") != (canary_rows, canary_hash):
        raise FingerprintMismatch(f"generator output changed for version {GENERATOR_VERSION}")
    base = os.path.join(cache_dir, f"cdc-{spec.key(seed)}")
    log_dir = os.path.join(base, "log")
    meta_file = os.path.join(base, "fingerprint.json")
    if os.path.exists(meta_file):
        with open(meta_file) as fh:
            recorded = json.load(fh)
        current = _fingerprint_dir(log_dir, spec.n_epochs)
        if current != recorded["fingerprint"]:
            raise FingerprintMismatch(
                f"cached CDC log {log_dir} changed: recorded {recorded['fingerprint']}, now {current}"
            )
        os.utime(meta_file)
        return log_dir, current, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(base, ignore_errors=True)
    rows, h = 0, 0
    for e in range(spec.n_epochs):
        t = _epoch_table(spec, seed, e)
        part = os.path.join(log_dir, f"_epoch_part={e}")
        os.makedirs(part)
        pq.write_table(t, os.path.join(part, "part-0.parquet"), compression="snappy")
        rows += t.num_rows
        h = (h + fingerprint_table(t)) % (1 << 64)
    fp = {"rows": rows, "hash": f"{h:016x}"}
    with open(meta_file, "w") as fh:
        json.dump({"spec": asdict(spec), "seed": seed, "fingerprint": fp}, fh)
    _prune(cache_dir)
    return log_dir, fp, time.perf_counter() - t0


def _prune(cache_dir: str) -> None:
    """Delete all but the CACHE_KEEP most recently used logs."""
    entries = []
    for name in os.listdir(cache_dir):
        meta = os.path.join(cache_dir, name, "fingerprint.json")
        entries.append((os.path.getmtime(meta) if os.path.exists(meta) else 0.0, name))
    for _, name in sorted(entries, reverse=True)[CACHE_KEEP:]:
        shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)
