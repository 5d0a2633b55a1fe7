"""The trips generator's expected values, recounted from the files it
wrote with the rules of ``ingest.pipeline.clean_trips``."""

from __future__ import annotations

import csv
import gzip
import hashlib
import io
import sys
import zipfile
import zlib
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from trips_gen import generate_year  # noqa: E402


def _rows(year):
    for path in year.zip_paths:
        with zipfile.ZipFile(path) as z:
            for name in z.namelist():
                yield from csv.DictReader(io.StringIO(z.read(name).decode()))
    for path in year.csv_paths:
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rt") as f:
            yield from csv.DictReader(f)


def test_expected_values_match_a_recount(tmp_path):
    year = generate_year(tmp_path, seed=5, rows_per_month=300)
    first: dict[str, dict] = {}
    n_rows = 0
    for row in _rows(year):
        n_rows += 1
        prev = first.setdefault(row["ride_id"], row)
        assert prev == row  # a repeated ride is an exact copy
    valid = crc = seconds = 0
    months = set()
    for ride, row in first.items():
        if not row["started_at"] or not row["ended_at"]:
            continue
        start = datetime.fromisoformat(row["started_at"])
        dur = (datetime.fromisoformat(row["ended_at"]) - start).total_seconds()
        if dur < 0:
            continue
        valid += 1
        crc += zlib.crc32(ride.encode())
        seconds += int(dur)
        months.add(start.strftime("%Y-%m"))
    assert n_rows == year.rows_in_files > len(first) > valid
    assert (valid, len(months), crc, seconds) == (
        year.expected_rows,
        year.expected_months,
        year.expected_ride_crc_sum,
        year.expected_duration_s_sum,
    )
    assert len(year.zip_paths) == 4 and len(year.csv_paths) == 8


def test_same_seed_same_bytes(tmp_path):
    def digests(d):
        return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}

    a = generate_year(tmp_path / "a", seed=9, rows_per_month=100)
    b = generate_year(tmp_path / "b", seed=9, rows_per_month=100)
    c = generate_year(tmp_path / "c", seed=10, rows_per_month=100)
    assert digests(tmp_path / "a") == digests(tmp_path / "b")
    assert digests(tmp_path / "a") != digests(tmp_path / "c")
    assert a.expected_rows == b.expected_rows
