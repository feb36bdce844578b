"""The sink's far side: a picklable put transport that lands every put on
disk, and the output check run on what it landed.

The transport stands in for Kinesis ``PutRecords``: the engine's executor
mode ships it to Python workers, each call writes one file holding that
put's records, and the file name carries the put's batch id, size and
duration.  After a drain the Spark driver process reads the files back and
checks them, and the engine's per-mode report, against the generator's
expectation.
"""

from __future__ import annotations

import os
import time
import uuid
from collections import Counter
from dataclasses import dataclass

from engine.ops.avro_codec import decode_record
from engine.ops.sinks import KINESIS_MAX_BATCH
from engine.schemas import SINK_AVRO_SCHEMA
from perfbench.data import MEMO_GEOID_PREFIX


class FilePutTransport:
    """``(records, batch_id) -> None``; one file per put."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def __call__(self, records: list, batch_id: int) -> None:
        t0 = time.perf_counter()
        payload = b"".join(len(r).to_bytes(4, "big") + bytes(r) for r in records)
        tmp = os.path.join(self.out_dir, f"{uuid.uuid4().hex}.tmp")
        with open(tmp, "wb") as f:
            f.write(payload)
        took_ns = int((time.perf_counter() - t0) * 1e9)
        os.replace(tmp, f"{tmp[:-4]}-{batch_id}-{len(records)}-{took_ns}.put")


@dataclass
class Puts:
    records: list[bytes]
    sizes: list[int]
    put_s: float

    @property
    def bytes(self) -> int:
        return sum(len(r) for r in self.records)


def read_puts(out_dir: str) -> Puts:
    records, sizes, put_s = [], [], 0.0
    for name in sorted(os.listdir(out_dir)):
        if not name.endswith(".put"):
            continue
        _, _, n, took_ns = name[:-4].split("-")
        with open(os.path.join(out_dir, name), "rb") as f:
            buf = f.read()
        pos = 0
        while pos < len(buf):
            size = int.from_bytes(buf[pos : pos + 4], "big")
            records.append(buf[pos + 4 : pos + 4 + size])
            pos += 4 + size
        sizes.append(int(n))
        put_s += int(took_ns) / 1e9
    return Puts(records, sizes, put_s)


def decode_all(records: list[bytes]) -> tuple[list[dict], list[str]]:
    """Decode every record against ``SINK_AVRO_SCHEMA``."""
    decoded, failures = [], []
    for r in records:
        try:
            decoded.append(decode_record(r, SINK_AVRO_SCHEMA))
        except (IndexError, ValueError, UnicodeDecodeError) as e:
            failures.append(f"undecodable record: {type(e).__name__}: {e}")
    return decoded, failures


def check_records(
    decoded: list[dict],
    put_sizes: list[int],
    expected: dict[str, str],
    reported: dict[str, int],
    memo: set[str],
) -> tuple[list[str], dict]:
    """Check a drain's decoded output.  ``expected`` maps each patron's
    sha256(salt‖id) to the mode that must emit it; ``reported`` is the
    engine's own per-mode emitted count; ``memo`` holds the UPDATED patrons
    whose geoid must come from the warehouse memo.  Returns (failures,
    measured)."""
    failures: list[str] = []
    counts = Counter(d["patron_id"] for d in decoded)
    missing = [k for k in expected if counts[k] == 0]
    dup = [k for k, n in counts.items() if n > 1]
    extra = [k for k in counts if k not in expected]
    for what, ids in (("missing", missing), ("duplicated", dup), ("unexpected", extra)):
        if ids:
            failures.append(f"{len(ids)} {what} patron(s), e.g. {ids[0][:16]}")

    want = Counter(expected.values())
    got = Counter(expected[d["patron_id"]] for d in decoded if d["patron_id"] in expected)
    for mode in want:
        if reported.get(mode) != want[mode]:
            failures.append(f"{mode}: engine reported {reported.get(mode)} rows, generator expects {want[mode]}")
    wrong_deleted = sum(
        (d["deletion_date_et"] is not None) != (expected.get(d["patron_id"]) == "deleted")
        for d in decoded
    )
    if wrong_deleted:
        failures.append(f"{wrong_deleted} record(s) with a deletion date in the wrong mode")
    if put_sizes and max(put_sizes) > KINESIS_MAX_BATCH:
        failures.append(f"a put carried {max(put_sizes)} records (limit {KINESIS_MAX_BATCH})")

    updated = [d for d in decoded if expected.get(d["patron_id"]) == "updated"]
    memo_hits = {d["patron_id"] for d in updated if (d["geoid"] or "").startswith(MEMO_GEOID_PREFIX)}
    if memo_hits != memo:
        failures.append(
            f"memo: {len(memo - memo_hits)} expected hit(s) missed, {len(memo_hits - memo)} unexpected"
        )
    return failures, {
        "per_mode": dict(got),
        "memo_hit_share": len(memo_hits) / len(updated) if updated else 0.0,
    }


def self_test(decoded, put_sizes, expected, reported, memo) -> list[str]:
    """The check must fail when one record is dropped or duplicated; returns
    a failure for each mutation it did not catch."""
    if not decoded:
        return ["self-test: no records to mutate"]
    out = []
    for what, mutated in (("dropped", decoded[1:]), ("duplicated", decoded + decoded[:1])):
        failures, _ = check_records(mutated, put_sizes, expected, reported, memo)
        if not failures:
            out.append(f"self-test: a {what} record passed the output check")
    return out
