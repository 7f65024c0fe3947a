"""Seeded CSV/CSV.gz source generator for the ingest workload.

The program under test only ever sees the files written here; the
``Expected`` record is what the benchmark checks each ``DayResult`` and
each read-back of the lake against.

Each day's files carry:

- two header variants (schema drift): ``A`` is
  ``id,store_id,amount,category,date_time_column1,notes`` and ``B`` adds a
  ``channel`` column and brace-wraps two names (``{id}``, ``{store_id}``),
  which ``clean_column_names`` strips;
- a ``notes`` column that is empty in every row, so the all-null drop
  removes it;
- planted exact duplicates: copies of rows of the same file (a copy in
  another file differs in ``source_file`` and is not an exact duplicate);
- one file in four gzipped.

Distinct rows per day are ``files * rows_per_file`` because ``id`` is
unique within a day.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os
import random
from dataclasses import dataclass, field

HEADER_A = "id,store_id,amount,category,date_time_column1,notes"
HEADER_B = "{id},{store_id},amount,category,date_time_column1,channel,notes"
CHANNELS = ("web", "store", "app", "phone")

# Columns a loaded day has after cleanse: data columns that hold a value,
# the provenance column, the epoch-derived timestamp and the metadata
# columns process_day adds. ``notes`` is all-null and dropped; ``channel``
# is there only when the day has a variant-B file.
LOADED_COLUMNS = sorted(
    [
        "id",
        "store_id",
        "amount",
        "category",
        "date_time_column1",
        "channel",
        "source_file",
        "date_time_column1_datetime",
        "processed_date",
        "source_date",
        "files_merged_count",
    ]
)


@dataclass
class DayExpected:
    day: str
    files: int
    files_gz: int
    rows_written: int
    duplicates_planted: int
    distinct_rows: int
    input_bytes: int
    columns: list[str] = field(default_factory=list)


@dataclass
class Expected:
    days: dict[str, DayExpected]
    input_bytes: int

    @property
    def rows_written(self) -> int:
        return sum(d.rows_written for d in self.days.values())


def _write(path: str, text: str) -> int:
    data = text.encode()
    if path.endswith(".gz"):
        # mtime=0 keeps the bytes a function of the seed alone
        with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as fh:
            fh.write(data)
    else:
        with open(path, "wb") as fh:
            fh.write(data)
    return os.path.getsize(path)


def _file_lines(rng: random.Random, variant: str, first_id: int, n: int, day_epoch: int) -> list[str]:
    lines = []
    for i in range(n):
        row = [
            str(first_id + i),
            str(rng.randrange(1000)),
            f"{rng.randrange(1, 1_000_000) / 100:.2f}",
            f"cat_{rng.randrange(17)}",
            str(day_epoch + rng.randrange(86_400)),
        ]
        if variant == "B":
            row.append(rng.choice(CHANNELS))
        row.append("")  # notes: always empty
        lines.append(",".join(row))
    return lines


def generate(
    root: str,
    seed: int,
    days: list[str],
    files_per_day: int,
    rows_per_file: int,
    dup_fraction: float,
    decoy_days: list[str] = (),
    decoy_files_per_day: int = 0,
) -> Expected:
    """Write the source files for ``days`` (plus small decoy files dated
    ``decoy_days``, which pruning must skip) into ``root``."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    out: dict[str, DayExpected] = {}
    total_bytes = 0
    for day in list(days) + list(decoy_days):
        is_decoy = day not in days
        n_files = decoy_files_per_day if is_decoy else files_per_day
        day_epoch = int(dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc).timestamp())
        exp = DayExpected(day, 0, 0, 0, 0, 0, 0)
        # vary which files drift and which are gzipped from seed to seed
        offset = rng.randrange(12)
        has_channel = False
        for f in range(n_files):
            k = f + offset
            variant = "B" if k % 3 == 1 else "A"
            gz = k % 4 == 0
            lines = _file_lines(rng, variant, f * rows_per_file, rows_per_file, day_epoch)
            n_dup = round(rows_per_file * dup_fraction)
            for _ in range(n_dup):
                lines.insert(rng.randrange(len(lines) + 1), rng.choice(lines[:rows_per_file]))
            header = HEADER_B if variant == "B" else HEADER_A
            name = f"data_{day}_part{f:03d}.csv" + (".gz" if gz else "")
            size = _write(os.path.join(root, name), header + "\n" + "\n".join(lines) + "\n")
            if is_decoy:
                continue
            exp.files += 1
            exp.files_gz += gz
            has_channel = has_channel or variant == "B"
            exp.rows_written += len(lines)
            exp.duplicates_planted += n_dup
            exp.distinct_rows += rows_per_file
            exp.input_bytes += size
        if not is_decoy:
            exp.columns = [c for c in LOADED_COLUMNS if c != "channel" or has_channel]
            out[day] = exp
            total_bytes += exp.input_bytes
    return Expected(out, total_bytes)
