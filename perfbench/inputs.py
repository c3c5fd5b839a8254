"""Seed-driven benchmark inputs and the fixed search query mix.

Every input is a pure function of the seed: the Fluent Bit chunk files are
byte-identical for one seed, and the transcript table comes from
``datagen.transcripts``, which hashes (row id, seed).  The program under
test only ever receives the generated files.  The Fluent Bit generator is
pure Python (no Spark), so it is checked by ``perfbench/selftest.py``.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

from fluent_bit_clp_spark.datagen import BASE_EPOCH_S
from fluent_bit_clp_spark.sources.msgpack import encode_record

BASE_MS = BASE_EPOCH_S * 1000  # both corpora start at datagen's epoch
HOUR_MS = 3_600_000
LAYOUTS = ("v1_fixext", "v1_uint_s", "v2_uint_ms", "v2_meta")
N_CHUNK_FILES = 16
# Two planted malformed records per chunk file: a v2 metadata array that is
# too short (no text, no timestamp) and a timestamp ext of an unknown type
# (text kept, timestamp null).  Both count as encode failures.
MALFORMED_PER_FILE = 2

_STATICS = (
    "connection established successfully",
    "cache warmed and ready to serve traffic",
    "scheduler tick completed with no pending work",
    "configuration reloaded from disk",
    "heartbeat acknowledged by peer",
)
_REASONS = (
    "connection reset by peer",
    "upstream timeout exceeded",
    "disk quota reached",
    "certificate rotation in progress",
)
_LEVELS = ("debug", "info", "INFO", "warn", "error", "ERROR")


@dataclass(frozen=True)
class Query:
    """One entry of the search mix: a wildcard string, or a
    ``{name: wildcard}`` dashboard that takes the one-scan multi path."""

    name: str
    query: str | dict
    ignore_case: bool = False
    timed: bool = False  # apply the input's time_range


QUERY_MIX = (
    Query("fragment", "Retrying container-a* *"),
    Query("template", "Task * started by user * at attempt *"),
    Query("static", "connection established successfully"),
    Query("ignore_case", "uploaded CHUNK * OF *", ignore_case=True),
    Query("time_range", "GET /api/v2/users/* took * ms", timed=True),
    Query(
        "dashboard",
        {
            "tasks": "Task * started by user * at attempt *",
            "uploads": "Uploaded chunk * of *",
            "errors": "level=error *",
            "conns": "conn * closed after * bytes in * s",
            "files": "file_path=/srv/data/*",
        },
    ),
)


@dataclass
class FluentBitInput:
    path: str
    files: list[str]
    records: int
    malformed: int
    input_bytes: int
    time_range: tuple[int, int]
    # (text, ts_ms as the program reads it) per record, for expected counts
    raw: list[tuple[str | None, int | None]] = field(repr=False)


class _Vocab:
    """Small per-seed variable vocabulary: every distinct token fits the
    encoder's caches, unlike the transcript corpus's per-row hex ids."""

    def __init__(self, rng: random.Random):
        self.users = [f"{rng.getrandbits(32):08x}" for _ in range(8)]
        # one container always starts with 'a' so the fragment query hits
        self.containers = [f"a{rng.getrandbits(44):011x}"] + [
            f"{rng.getrandbits(48):012x}" for _ in range(5)
        ]
        self.floats = [f"{rng.randrange(100000) / 1000:.3f}" for _ in range(16)]


def _message(rng: random.Random, v: _Vocab) -> str:
    """Log line shaped like one of ``datagen.transcripts``' templates, so
    the same query mix runs on both corpora."""
    t = rng.randrange(16)
    i, j = rng.randrange(64), rng.randrange(64)
    if t == 0:
        return f"Task {i} started by user {rng.choice(v.users)} at attempt {j % 8}"
    if t == 1:
        return f"Uploaded chunk {i} of {j + 64} ({rng.choice(v.floats)}%) to /var/log/app-{i % 16}.log"
    if t == 2:
        return f"level={rng.choice(_LEVELS)} latency_ms={rng.choice(v.floats)} status={(200, 404, 500, 503)[j % 4]}"
    if t == 3:
        return f"Retrying container-{rng.choice(v.containers)} after {j}s: {rng.choice(_REASONS)}"
    if t == 4:
        return json.dumps(
            {"level": rng.choice(_LEVELS), "message": f"Log message {i} from container", "service": "app"},
            sort_keys=True,
        )
    if t == 5:
        return f"GET /api/v2/users/{i}?page={j % 8} took {rng.choice(v.floats)} ms"
    if t == 6:
        return f"conn {rng.choice(v.users)} closed after {i * 37} bytes in {rng.choice(v.floats)} s"
    if t == 7:
        return f"file_path=/srv/data/{rng.choice(v.users)}/{j:05d}.parquet rows={i}"
    return rng.choice(_STATICS)


def _file_sizes(n_records: int) -> list[int]:
    """Zipf-skewed chunk-file sizes: the first few files are the hot
    conversations (``conv_id`` is the chunk file)."""
    w = [1.0 / (k + 1) for k in range(N_CHUNK_FILES)]
    sizes = [int(n_records * x / sum(w)) for x in w]
    sizes[0] += n_records - sum(sizes)
    return sizes


def _program_ts(ts_ms: int, layout: str) -> int:
    # read with ts_mode="v2": a v1 uint stamp (seconds) reads as millis
    return ts_ms // 1000 if layout == "v1_uint_s" else ts_ms


def _short_meta(ts_ms: int, record: dict) -> bytes:
    """``[[ts], record]``: a v2 metadata array with one element."""
    full = encode_record(ts_ms, record, "v2_meta")
    # 0x92 0x92 <fixext8: 10 bytes> 0x80 <record>  ->  0x92 0x91 <ext> <record>
    return b"\x92\x91" + full[2:12] + full[13:]


def _bad_ext(ts_ms: int, record: dict) -> bytes:
    """``[ext(type 5), record]``: a timestamp of an unknown ext type."""
    full = encode_record(ts_ms, record, "v1_fixext")
    # 0x92 0xd7 <type 0x00> <8 bytes> <record>
    return full[:2] + b"\x05" + full[3:]


def write_fluentbit_chunks(path: str, seed: int, n_records: int) -> FluentBitInput:
    """Write ``N_CHUNK_FILES`` Fluent Bit msgpack chunk files under
    ``path`` (mixed wire layouts, planted malformed records)."""
    rng = random.Random(seed)
    vocab = _Vocab(rng)
    os.makedirs(path, exist_ok=True)
    files, raw, total_bytes = [], [], 0
    for f_idx, size in enumerate(_file_sizes(n_records)):
        bad = rng.sample(range(size), MALFORMED_PER_FILE)
        parts = []
        for r in range(size):
            ts = BASE_MS + f_idx * HOUR_MS + r * 250
            text = _message(rng, vocab)
            rec = {"log": text, "stream": "stderr" if r % 7 == 0 else "stdout"}
            if r == bad[0]:
                parts.append(_short_meta(ts, rec))
                raw.append((None, None))
            elif r == bad[1]:
                parts.append(_bad_ext(ts, rec))
                raw.append((text, None))
            else:
                layout = LAYOUTS[rng.randrange(len(LAYOUTS))]
                parts.append(encode_record(ts, rec, layout))
                raw.append((text, _program_ts(ts, layout)))
        blob = b"".join(parts)
        name = os.path.join(path, f"chunk-{f_idx:02d}.msgpack")
        with open(name, "wb") as f:
            f.write(blob)
        files.append(name)
        total_bytes += len(blob)
    # files 2..5: past the hottest conversations, inside the ms-stamped range
    window = (BASE_MS + 2 * HOUR_MS, BASE_MS + 6 * HOUR_MS - 1)
    return FluentBitInput(
        path=path,
        files=files,
        records=n_records,
        malformed=MALFORMED_PER_FILE * N_CHUNK_FILES,
        input_bytes=total_bytes,
        time_range=window,
        raw=raw,
    )


def transcript_time_range(n_turns: int) -> tuple[int, int]:
    """A window over roughly the first quarter of ``datagen.transcripts``'
    conversations (each conversation starts one day after the previous)."""
    n_convs = max(4, n_turns // 20)
    return BASE_MS, BASE_MS + (n_convs // 4) * 86_400_000
