"""Seeded generator for the ``trips_ingest`` workload: one Citibike year.

Twelve monthly files in the public Citibike CSV layout
(``ingest.sources.TRIPS_SCHEMA``), in three container formats so every
source path of ``ingest.pipeline.run_trips_pipeline`` runs:

- months 1, 4, 7, 10: ``.zip`` archives (extracted on the driver);
- months 2, 5, 8, 11: ``.csv.gz`` (decompressed by Spark's CSV codec);
- months 3, 6, 9, 12: plain ``.csv``.

The rows give ``clean_trips`` real work: some rides appear twice
(exact copies, so which copy survives the dedup never changes the
result), some have an empty ``started_at`` or ``ended_at``, and some
end before they start. The generator returns what a correct pipeline
must write: the unique valid row count, twelve months, and two integer
column checksums.
"""

from __future__ import annotations

import gzip
import zipfile
import zlib
from dataclasses import dataclass
from pathlib import Path

import numpy as np

YEAR = 2023
HEADER = (
    "ride_id,rideable_type,started_at,ended_at,start_station_name,"
    "start_station_id,end_station_name,end_station_id,start_lat,start_lng,"
    "end_lat,end_lng,member_casual"
)
#: share of unique rides copied once more into the file
DUP_SHARE = 0.04
#: share of unique rides with an empty start or end timestamp
NULL_SHARE = 0.02
#: share of unique rides whose end precedes their start
NEGATIVE_SHARE = 0.02
N_STATIONS = 400


@dataclass(frozen=True)
class TripsYear:
    """Inputs of one generated year and the pipeline's expected output."""

    csv_paths: list[str]
    zip_paths: list[str]
    input_bytes: int
    rows_in_files: int
    expected_rows: int
    expected_months: int
    expected_ride_crc_sum: int
    expected_duration_s_sum: int


def _fmt_ts(seconds: np.ndarray) -> list[str]:
    text = np.datetime_as_string(seconds.astype("datetime64[s]"), unit="s")
    return [t.replace("T", " ") for t in text.tolist()]


def _month_rows(rng: np.random.Generator, month: int, n: int, id_base: int):
    """(csv lines, expected rows, crc sum, duration sum) of one month."""
    start = np.datetime64(f"{YEAR}-{month:02d}-01T00:00:00", "s").astype(np.int64)
    nxt = (
        np.datetime64(f"{YEAR + 1}-01-01T00:00:00", "s")
        if month == 12
        else np.datetime64(f"{YEAR}-{month + 1:02d}-01T00:00:00", "s")
    ).astype(np.int64)
    # rides start at least 3 h before the month ends, so a ride's month
    # is always the month of its file
    started = rng.integers(start, nxt - 3 * 3600, size=n)
    duration = np.clip(rng.lognormal(6.6, 0.7, size=n).astype(np.int64), 60, 3 * 3600 - 1)
    kind = rng.random(n)
    negative = kind < NEGATIVE_SHARE
    null_ts = (kind >= NEGATIVE_SHARE) & (kind < NEGATIVE_SHARE + NULL_SHARE)
    duration = np.where(negative, -duration, duration)
    ended = started + duration

    # an odd multiplier is a bijection mod 2**64, so ride ids are unique
    ids = (np.arange(id_base, id_base + n, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ np.uint64(
        0x5BD1E9955BD1E995
    )
    ride_ids = [f"{v:016X}" for v in ids.tolist()]
    s_start = _fmt_ts(started)
    s_end = _fmt_ts(ended)
    null_side = rng.random(n) < 0.5
    rideable = rng.choice(np.array(["classic_bike", "electric_bike"]), size=n).tolist()
    member = rng.choice(np.array(["member", "casual"]), size=n, p=[0.8, 0.2]).tolist()
    st_a = rng.integers(0, N_STATIONS, size=n).tolist()
    st_b = rng.integers(0, N_STATIONS, size=n).tolist()
    lat_a = np.round(40.65 + rng.random(n) * 0.2, 6).tolist()
    lng_a = np.round(-74.05 + rng.random(n) * 0.2, 6).tolist()
    lat_b = np.round(40.65 + rng.random(n) * 0.2, 6).tolist()
    lng_b = np.round(-74.05 + rng.random(n) * 0.2, 6).tolist()

    lines = []
    for i in range(n):
        a, b = s_start[i], s_end[i]
        if null_ts[i]:
            if null_side[i]:
                a = ""
            else:
                b = ""
        lines.append(
            f"{ride_ids[i]},{rideable[i]},{a},{b},Station {st_a[i]},S{st_a[i]:04d},"
            f"Station {st_b[i]},S{st_b[i]:04d},{lat_a[i]},{lng_a[i]},"
            f"{lat_b[i]},{lng_b[i]},{member[i]}"
        )
    dup = np.flatnonzero(rng.random(n) < DUP_SHARE)
    lines.extend(lines[i] for i in dup.tolist())
    order = rng.permutation(len(lines))
    lines = [lines[i] for i in order.tolist()]

    valid = ~negative & ~null_ts
    crc = sum(zlib.crc32(ride_ids[i].encode()) for i in np.flatnonzero(valid).tolist())
    return lines, int(valid.sum()), crc, int(duration[valid].sum())


def generate_year(out_dir: str | Path, seed: int, rows_per_month: int) -> TripsYear:
    """Write twelve monthly files under `out_dir`; same seed, same bytes."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    csv_paths: list[str] = []
    zip_paths: list[str] = []
    input_bytes = rows_in_files = expected = crc_sum = dur_sum = 0
    for month in range(1, 13):
        n = int(rows_per_month * (0.85 + 0.3 * rng.random()))
        lines, n_valid, crc, dur = _month_rows(rng, month, n, id_base=month * 10_000_000)
        data = ("\n".join([HEADER, *lines]) + "\n").encode()
        input_bytes += len(data)
        rows_in_files += len(lines)
        expected += n_valid
        crc_sum += crc
        dur_sum += dur
        stem = f"{YEAR}{month:02d}-citibike-tripdata"
        if month % 3 == 1:
            path = out / f"{stem}.zip"
            member = zipfile.ZipInfo(f"{stem}.csv", date_time=(YEAR, month, 1, 0, 0, 0))
            with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_DEFLATED) as z:
                z.writestr(member, data)
            zip_paths.append(str(path))
        elif month % 3 == 2:
            path = out / f"{stem}.csv.gz"
            with open(path, "wb") as raw, gzip.GzipFile(
                fileobj=raw, mode="wb", compresslevel=6, mtime=0
            ) as f:
                f.write(data)
            csv_paths.append(str(path))
        else:
            path = out / f"{stem}.csv"
            path.write_bytes(data)
            csv_paths.append(str(path))
    return TripsYear(
        csv_paths=csv_paths,
        zip_paths=zip_paths,
        input_bytes=input_bytes,
        rows_in_files=rows_in_files,
        expected_rows=expected,
        expected_months=12,
        expected_ride_crc_sum=crc_sum,
        expected_duration_s_sum=dur_sum,
    )
