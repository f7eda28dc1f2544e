"""Measure the zone-manifest size/cost boundary (round-14 verdict item 3).

The round-13 zone-skipping docstring ESTIMATED the 100 TB boundary
("~800k right-sized files ≈ tens of MB of JSON manifest, one GET");
this tool replaces the estimate with measurements. For manifests of
N file entries × 3 stat columns it records:

- serialized JSON payload size (what every commit PUTs and what the
  S3 conditional-PUT 412 self-claim byte-compares),
- json.dumps / json.loads wall time (the per-commit serialize and the
  per-read parse the driver pays),
- the byte-compare cost itself (the 412 self-claim is `payload ==
  fetched_bytes`),
- local ``try_commit`` wall (write + fsync + link — the upper bound of
  the local claim; S3 adds one PUT round-trip of `size` bytes),
- ``_zone_select`` planning time for a 3-conjunct predicate that
  keeps about 1% of the files (the pure driver-side Python loop every
  pruned read runs).

Run: ``python tools/zone_boundary.py [N ...]`` (default 10k 30k 100k).
Prints one aligned row per N; paste the table into DESIGN.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_tlc_trip_data_pipelines_spark import io as eio  # noqa: E402


def synth_meta(n_files: int, n_jobs: int = 1) -> dict:
    """A manifest shaped like a real OPTIMIZEd table at scale: n_files
    entries split over n_jobs jobs, 3 stat columns each (two numeric
    z-order dims + one timestamp), bounds laid out so
    :func:`select_conjuncts` keeps ~1% of files: file k spans
    x ∈ [10k, 10k+9] and the day (k mod 28) + 1."""
    per = n_files // n_jobs
    zones: dict = {}
    job_ids = []
    for j in range(n_jobs):
        job = f"optimize.o{j}"
        job_ids.append(job)
        zmap = {}
        for i in range(per):
            k = j * per + i
            zmap[f"part-{k:06d}-0000.snappy.parquet"] = {
                "rows": 1_000_000,
                "x": [k * 10, k * 10 + 9],
                "y": [(k * 37) % 100_000, (k * 37) % 100_000 + 120],
                "ts": [
                    f"2024-01-{(k % 28) + 1:02d} 00:00:00",
                    f"2024-01-{(k % 28) + 1:02d} 23:59:59",
                    "ts",
                ],
            }
        zones[job] = zmap
    return {
        "version": 1,
        "job_col": "__job_id",
        "job_ids": job_ids,
        "ever": job_ids,
        "writer": "bench",
        "zones": zones,
    }


def select_conjuncts(n_files: int) -> list:
    """A 10% x window (files 0.4·N … 0.5·N) and the first 3 of 28 days:
    about 10% × 3/28 ≈ 1.1% of the files survive."""
    return [
        ("x", ">=", n_files * 4),
        ("x", "<", n_files * 5),
        ("ts", "<", datetime(2024, 1, 4)),
    ]


def bench_n(n_files: int) -> dict:
    meta = synth_meta(n_files)

    t0 = time.perf_counter()
    payload = json.dumps(meta).encode()
    t_dumps = time.perf_counter() - t0

    t0 = time.perf_counter()
    json.loads(payload)
    t_loads = time.perf_counter() - t0

    other = bytearray(payload)
    other[-2] ^= 1  # worst-case compare: differs only at the tail
    t0 = time.perf_counter()
    _ = payload == bytes(other)
    t_cmp = time.perf_counter() - t0

    with tempfile.TemporaryDirectory() as d:
        mio = eio._manifest_io(d)
        t0 = time.perf_counter()
        assert mio.try_commit(0, meta)
        t_commit = time.perf_counter() - t0

    conj = eio._normalize_prune(select_conjuncts(n_files))
    t0 = time.perf_counter()
    paths, kept, total = eio._zone_select("/tbl", meta, conj)
    t_select = time.perf_counter() - t0
    assert total == n_files and paths is not None
    assert 0 < kept < total, f"predicate kept {kept} of {total} files"

    return {
        "n_files": n_files,
        "payload_mb": len(payload) / 1e6,
        "dumps_ms": t_dumps * 1e3,
        "loads_ms": t_loads * 1e3,
        "bytecmp_ms": t_cmp * 1e3,
        "local_commit_ms": t_commit * 1e3,
        "zone_select_ms": t_select * 1e3,
        "files_kept": kept,
    }


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [10_000, 30_000, 100_000]
    hdr = (
        f"{'n_files':>9} {'payload_MB':>10} {'dumps_ms':>9} {'loads_ms':>9} "
        f"{'bytecmp_ms':>10} {'commit_ms':>9} {'select_ms':>9} {'kept':>6}"
    )
    print(hdr)
    for n in ns:
        r = bench_n(n)
        print(
            f"{r['n_files']:>9} {r['payload_mb']:>10.2f} {r['dumps_ms']:>9.1f} "
            f"{r['loads_ms']:>9.1f} {r['bytecmp_ms']:>10.3f} "
            f"{r['local_commit_ms']:>9.1f} {r['zone_select_ms']:>9.1f} "
            f"{r['files_kept']:>6}"
        )


if __name__ == "__main__":
    main()
