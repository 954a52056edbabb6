"""Objects the benchmark hands to the program that run inside Spark's Python
workers: the file-backed Kinesis transport and, for the traced run only,
wrappers around the transports that record what each call did.

Workers import this module by name, so it must stay importable from the
``PYTHONPATH`` the benchmark sets before the JVM starts.  Worker-side records
go to one JSON-lines file per worker process and are merged after the run.
"""

from __future__ import annotations

import glob
import json
import os
import struct
import time
import uuid

_LEN = struct.Struct(">I")


class FileTransport:
    """Picklable, network-free Kinesis stand-in: each put becomes one file of
    length-prefixed records, published by rename so a reader never sees half
    a put.  ``tag`` is set in the benchmark process before each sink call
    and travels with the pickled copy to the executors."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.tag = 0

    def __call__(self, records: list, batch_id: int) -> None:
        name = f"{self.tag:06d}-{batch_id:05d}-{os.getpid()}-{uuid.uuid4().hex}.put"
        path = os.path.join(self.out_dir, name)
        with open(path + ".tmp", "wb") as f:
            for r in records:
                b = bytes(r)
                f.write(_LEN.pack(len(b)))
                f.write(b)
        os.replace(path + ".tmp", path)


def read_puts(out_dir: str) -> list[tuple[int, list[bytes]]]:
    """Every committed put under ``out_dir`` as ``(tag, records)``."""
    puts = []
    for path in sorted(glob.glob(os.path.join(out_dir, "*.put"))):
        tag = int(os.path.basename(path).split("-", 1)[0])
        with open(path, "rb") as f:
            buf = f.read()
        recs, pos = [], 0
        while pos < len(buf):
            (n,) = _LEN.unpack_from(buf, pos)
            recs.append(buf[pos + 4 : pos + 4 + n])
            pos += 4 + n
        puts.append((tag, recs))
    return puts


def _emit(stats_dir: str, rec: dict) -> None:
    with open(os.path.join(stats_dir, f"w-{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


def read_stats(stats_dir: str) -> list[dict]:
    out = []
    for path in glob.glob(os.path.join(stats_dir, "w-*.jsonl")):
        with open(path) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


class TracedTransport:
    """Times each put inside the worker and records its size and outcome."""

    def __init__(self, inner: FileTransport, stats_dir: str):
        self.inner = inner
        self.stats_dir = stats_dir
        self.tag = 0

    def __call__(self, records: list, batch_id: int) -> None:
        self.inner.tag = self.tag
        t0 = time.perf_counter()
        ok = False
        try:
            self.inner(records, batch_id)
            ok = True
        finally:
            _emit(self.stats_dir, {
                "kind": "put", "tag": self.tag, "n": len(records),
                "bytes": sum(len(r) for r in records),
                "s": time.perf_counter() - t0, "ok": ok,
            })


class TracedCensus:
    """Census transport wrapper.  Attempt 2 is the one whose input carries
    the re-parsed ``house_number`` column."""

    def __init__(self, inner, stats_dir: str):
        self.inner = inner
        self.stats_dir = stats_dir

    def __call__(self, batch):
        t0 = time.perf_counter()
        out = self.inner(batch)
        _emit(self.stats_dir, {
            "kind": "census2" if "house_number" in batch.columns else "census1",
            "n": len(batch), "matched": int(out.notna().sum()),
            "s": time.perf_counter() - t0,
            "keys": [str(k) for k in batch["patron_id"]],
        })
        return out


class TracedGeosupport:
    """Per-row Geosupport wrapper (the engine calls it once per address)."""

    def __init__(self, inner, stats_dir: str):
        self.inner = inner
        self.stats_dir = stats_dir

    def __call__(self, house, street, zip_code):
        t0 = time.perf_counter()
        out = self.inner(house, street, zip_code)
        _emit(self.stats_dir, {
            "kind": "geosupport", "n": 1,
            "matched": int(out is not None), "s": time.perf_counter() - t0,
            "keys": [f"{house}|{street}|{zip_code}"],
        })
        return out
