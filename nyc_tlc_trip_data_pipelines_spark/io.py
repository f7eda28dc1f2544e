"""Sources and sinks (reference R1/R2/R3/R7/R8/R11/R21/R22).

The reference's source layer lists an S3 bucket with boto3 pagination
(``pasta1_etl/src/utils.py:16-66``), prunes files by a filename-encoded
month range (``pasta1_etl/src/main.py:156-163``), reads parquet
(``main.py:166``), and appends into Delta tables — unpartitioned bronze
(``main.py:191-194``) and year/month-partitioned gold (``main.py:235-239``);
analytics results land as headered CSV (``pasta2_analytics/src/main.py:26,51``).

Here the same capabilities are re-expressed storage-agnostically over
plain Parquet (delta-spark is absent in this environment — SURVEY.md §7.3
"Delta gap"): append + partitioned layout semantics are preserved, ACID
log semantics are out of scope. The plain read/write surface
(read_*/write_*/append_table) works identically for
local paths and ``s3a://`` URIs (Spark's Hadoop FS layer handles both);
the VERSIONED family (append_versioned, delete_where, merge_versioned,
optimize_versioned, read_version, table_changes, vacuum_versioned)
keeps its driver-side metadata — JSON manifests, zone-stat sidecars,
vacuum deletes, run logs — in ONE path on every scheme: the
:mod:`objectstore` store for the table path (write-fsync-link claim
on a local path or ``file:`` URI, S3 conditional-PUT claim and
batched deletes on ``s3://``/``s3a://``); unknown schemes
(``hdfs://``) fail loudly in ``objectstore.get_store``.

100 TB notes:
- Partitioned writes give dynamic partition pruning on read — a query
  filtered to one month reads one directory, not the lake.
- ``write_bucketed`` pre-shuffles once at write time; repeated joins or
  aggregations on the bucket key then run with NO exchange.
- ``maxRecordsPerFile`` guards against giant output files; AQE coalesce
  handles the small-file side.
"""

from __future__ import annotations

import atexit
import json
import os
import re
import shutil
import tempfile
import time
from collections.abc import Sequence
from datetime import datetime, timezone

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession

from nyc_tlc_trip_data_pipelines_spark import objectstore


def scratch_dir(prefix: str) -> str:
    """A fresh local temp directory that is removed at interpreter exit
    — for files a returned DataFrame still reads lazily, which therefore
    cannot be deleted when the call returns."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


# --- sources ---------------------------------------------------------------

_MONTH_RE = re.compile(r"(\d{4})-(\d{2})")


def discover_files(root: str, suffix: str = ".parquet") -> list[str]:
    """Source discovery (R1): enumerate + sort data files under a root.

    The reference pages an S3 listing and keeps ``*.parquet``
    (``pasta1_etl/src/utils.py:16-43,46-66``); here the listing goes
    through the :mod:`objectstore` scheme layer, which preserves the S3
    semantics (recursive keys, string prefix, lexicographic order,
    pagination) over a local tree, a ``file:`` URI or a bucket. On a
    real cluster, prefer a catalog/manifest over raw listing (S3 LIST
    at 100 TB is itself a bottleneck).
    """
    keys = [k for k in objectstore.list_objects(root) if k.endswith(suffix)]
    # R1 returns one flat sorted list of full paths: nested sink dirs
    # are not sources, so keep only top-level keys.
    return sorted(os.path.join(root, k) for k in keys if "/" not in k)


def prune_files_by_month(files: Sequence[str], start: str | None, end: str | None) -> list[str]:
    """Coarse partition pruning by filename-encoded month (R2,
    ``pasta1_etl/src/main.py:156-163``): keep files whose ``YYYY-MM``
    (parsed from the name) lies in [start, end]. String comparison is
    correct for zero-padded ISO months.
    """
    kept = []
    for f in files:
        m = _MONTH_RE.search(os.path.basename(f))
        if not m:
            continue
        ym = f"{m.group(1)}-{m.group(2)}"
        if (start is None or ym >= start) and (end is None or ym <= end):
            kept.append(f)
    return kept


def read_parquet(spark: SparkSession, path: str | Sequence[str]) -> DataFrame:
    """Columnar parquet scan (R3/R8): vectorized reader, filter/column
    pushdown handled by Catalyst."""
    paths = [path] if isinstance(path, str) else list(path)
    return spark.read.parquet(*paths)


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source. Always pass a schema in production — schema
    inference is a full extra pass over the data."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet_merged(spark: SparkSession, path: str | Sequence[str]) -> DataFrame:
    """Parquet scan with schema evolution (``mergeSchema``): batches
    written before a column existed surface it as NULL, the standard
    additive-evolution contract a long-lived append table needs.

    100 TB note: schema merging reads EVERY file footer at planning
    time; on wide tables cache the merged schema (or keep it in a
    catalog) and pass it to ``spark.read.schema(...)`` instead of
    re-merging per query — the default (``mergeSchema=false``) takes
    one footer on faith, which silently DROPS late columns."""
    paths = [path] if isinstance(path, str) else list(path)
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source: columnar, vectorized, predicate-pushdown like parquet."""
    return spark.read.orc(path)


# --- sinks -----------------------------------------------------------------


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink. Doubles round-trip exactly (shortest-repr)."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink."""
    df.write.mode(mode).orc(path)


def append_table(df: DataFrame, path: str, max_records_per_file: int | None = None) -> None:
    """Append sink (R7, ``pasta1_etl/src/main.py:191-194``) over parquet."""
    w = df.write.mode("append")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


class _ManifestIO:
    """Manifest storage for a versioned table: JSON files under
    ``<path>/_manifests/v{n}.json``, kept through the
    :mod:`objectstore` store for the path's scheme. The atomic
    exclusive claim is the store's ``put_text_if_absent`` — the
    write-fsync-link claim on a local path, a conditional
    ``If-None-Match: *`` PUT on S3 — so two concurrent committers
    racing for ``v{N}.json`` resolve the same way on every backend:
    one wins, the loser re-reads and claims N+1. Unknown schemes fail
    loudly inside :func:`objectstore.get_store`."""

    def __init__(self, path: str):
        self.path = path
        self.store = objectstore.get_store(path)

    def list_versions(self) -> list[tuple[int, list[str]]]:
        out = []
        for page in self.store.iter_pages("_manifests/v"):
            for key in page:
                name = key.rsplit("/", 1)[-1]
                if name.startswith("v") and name.endswith(".json"):
                    m = json.loads(self.store.get_text(key))
                    out.append((int(m["version"]), list(m["job_ids"])))
        return sorted(out)

    def list_version_numbers(self) -> list[int]:
        """Version numbers from the LIST response alone — one paginated
        LIST per 1000 versions, ZERO GETs (a local listing walks only
        ``_manifests``). S3 listings are strongly consistent
        (read-after-write since 2020), so the max is the true tip. The
        commit hot path needs just this."""
        out = []
        for page in self.store.iter_pages("_manifests/v"):
            for key in page:
                name = key.rsplit("/", 1)[-1]
                if name.startswith("v") and name.endswith(".json") and name[1:-5].isdecimal():
                    out.append(int(name[1:-5]))
        return sorted(out)

    def read_meta(self, n: int) -> dict:
        return json.loads(self.store.get_text(f"_manifests/v{n}.json"))

    def try_commit(self, n: int, payload: dict) -> bool:
        return self.store.put_text_if_absent(
            f"_manifests/v{n}.json", json.dumps(payload)
        )


def _manifest_io(path: str) -> _ManifestIO:
    return _ManifestIO(path)


_REWRITE_SUFFIX_RE = re.compile(r"(\.[dm]\d+)+$")


def _validate_user_job_id(job_id: str) -> None:
    """Shared append/merge job_id validation: filesystem-safe, and
    outside the ``optimize.o`` namespace (round-11 ADVICE:
    :func:`optimize_versioned`'s idempotence check trusts that prefix —
    a user append named ``optimize.o7`` would make a later OPTIMIZE
    incorrectly no-op as "already compacted"). The ``.d``/``.m``
    rewrite suffixes are already unreachable for users because the
    cross-manifest retry dedup consults :func:`_base_job_id`."""
    if not re.fullmatch(r"[A-Za-z0-9._-]+", job_id):
        raise ValueError(f"job_id must be filesystem-safe: {job_id!r}")
    if job_id.startswith("optimize.o"):
        raise ValueError(
            f"job_id {job_id!r} is in the reserved 'optimize.o' namespace "
            "(used by optimize_versioned's rewritten jobs)"
        )


def _base_job_id(job: str) -> str:
    """Strip delete/merge rewrite suffixes (``<job>.d3.m7`` → ``<job>``)."""
    return _REWRITE_SUFFIX_RE.sub("", job)


def _with_bases(raw: set[str]) -> set[str]:
    """Raw job names plus their rewrite-stripped bases — the membership
    set retry dedup consults."""
    return raw | {_base_job_id(j) for j in raw}


def _tip_state(mio) -> tuple[int | None, list[str], set[str], dict]:
    """(tip version or None, tip job list, RAW ever-union of every
    job_id ever committed, tip manifest dict) — the commit hot path's
    entire read. The meta dict rides along so commit paths can carry
    the cumulative ``zones`` file-stats forward without a second GET;
    it is ``{}`` on an empty table.

    Each manifest carries a cumulative ``ever`` field (every job_id
    committed under any name up to that version), so this is ONE
    name-only LIST plus ONE manifest GET regardless of chain length —
    on S3 O(1) GETs per append, the scaling role of Delta's
    checkpoints — and retry dedup survives :func:`vacuum_versioned`,
    which deletes the old manifests. A tip without ``ever`` raises
    ``ValueError``: its dedup history cannot be trusted."""
    nums = mio.list_version_numbers()
    if not nums:
        return None, [], set(), {}
    tip = max(nums)
    meta = mio.read_meta(tip)
    if "ever" not in meta:
        raise ValueError(
            f"{mio.path}: tip manifest v{tip} has no 'ever' field; "
            "retry dedup cannot be resolved"
        )
    return tip, list(meta["job_ids"]), set(meta["ever"]), meta


def _zone_json(v):
    """Canonical JSON-safe encoding for zone-map bounds: numbers and
    strings as-is, date/timestamp as ISO strings (lexicographic order
    == chronological order at fixed format, so pruning compares
    strings). Returns ``NotImplemented`` for types without an
    order-preserving JSON form (Decimal, binary, nested) — the caller
    then records NO stats for that column, which disables pruning on
    it but never threatens correctness.

    Round-14 ADVICE hardening: NaN and tz-AWARE datetimes also return
    ``NotImplemented``. A NaN bound poisons interval logic (Spark's
    ``F.max`` returns NaN when any row is NaN, and ``nan > x`` is
    False in Python while Spark sorts NaN ABOVE every double — a
    zone built on it would over-prune files whose NaN rows DO match
    ``col > x``); parquet/Delta omit min/max for NaN for the same
    reason. A tz-aware bound's isoformat carries an offset suffix
    that breaks the fixed-format lexicographic ordering against the
    naive session-time bounds Spark's ``collect`` produces."""
    from datetime import date as _date
    from datetime import datetime as _datetime

    if isinstance(v, float) and v != v:  # NaN (also catches float('nan'))
        return NotImplemented
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, _datetime):
        if v.tzinfo is not None:
            return NotImplemented
        return v.isoformat(sep=" ")
    if isinstance(v, _date):
        return v.isoformat()
    return NotImplemented


def _collect_zone_stats(spark: SparkSession, job_dir: str, cols: Sequence[str]) -> dict:
    """Per-file min/max/rows for ``cols`` over one job's partition
    directory — the stats a manifest commit embeds (Delta keeps the
    same per-file stats in its log's ``add`` actions). ONE distributed
    scan groups by ``input_file_name``; the driver collects one row per
    FILE (bounded metadata, never table rows). Returns
    ``{file_basename: {"rows": n, col: [lo, hi], ...}}``; columns whose
    bounds don't JSON-encode order-preservingly are silently omitted
    (no stats → no pruning on them).

    Size boundary at 100 TB, stated honestly: zones live in the JSON
    manifest, so the tip manifest grows O(files × stat-columns). An
    OPTIMIZEd table is right-sized (~128 MB files), so 100 TB ≈ 800k
    files ≈ tens of MB of manifest — one GET, the same order as a
    Delta parquet checkpoint, but JSON-parsed on the driver. Past
    that, the next step is Delta's actual move (columnar checkpoint
    files readable by Spark itself); this engine keeps the JSON form
    because its manifests are the commit protocol and must stay
    byte-comparable under the conditional-PUT claim."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(job_dir)
    present = [c for c in cols if c in df.columns]
    dtypes = dict(df.dtypes)
    # Temporal KIND tag (round 14): date/timestamp bounds get a third
    # element ("date" / "ts") so _zone_may_match can coerce a
    # date-vs-timestamp prune mismatch to Spark's own promotion rule
    # (date -> midnight timestamp) instead of comparing a 10-char date
    # string against a 19-char timestamp string lexicographically —
    # which silently disproved zones that DO contain matching rows
    # (round-14 ADVICE). The tag comes from the writer's Spark dtype,
    # so a genuine STRING column holding date-shaped text is never
    # misread as temporal.
    kinds = {
        c: (
            "date"
            if dtypes.get(c) == "date"
            else "ts"
            if dtypes.get(c, "").startswith("timestamp")
            else None
        )
        for c in present
    }
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in present:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    rows = (
        df.withColumn("__file", F.input_file_name())
        .groupBy("__file")
        .agg(*aggs)
        .collect()
    )
    out: dict = {}
    for r in rows:
        fname = r["__file"].rsplit("/", 1)[-1]
        entry: dict = {"rows": int(r["__rows"])}
        for c in present:
            lo, hi = _zone_json(r[f"__min_{c}"]), _zone_json(r[f"__max_{c}"])
            if lo is NotImplemented or hi is NotImplemented:
                # includes the NaN case: a double column whose min or
                # max is NaN records NO bounds for this file — the file
                # is then always read, and the row filter handles NaN's
                # Spark ordering (NaN > every double) correctly.
                continue
            entry[c] = [lo, hi] if kinds[c] is None else [lo, hi, kinds[c]]
        out[fname] = entry
    return out


def _carry_zones(tip_meta: dict, job_ids: Sequence[str], new_zones: dict | None) -> dict:
    """The next manifest's ``zones``: the tip's per-job file stats
    restricted to jobs that survive into ``job_ids`` (delete/merge
    rewrites mint NEW job names, so their stale stats drop out by
    construction), plus this commit's freshly-computed stats. Zones are
    carried forward like ``ever`` so the tip manifest alone answers
    pruning — no chain walk."""
    zones = {
        j: z
        for j, z in (tip_meta.get("zones") or {}).items()
        if j in set(job_ids)
    }
    if new_zones:
        zones.update(new_zones)
    return zones


# Per-job zone maps larger than this go to a content-addressed SIDECAR
# file instead of inline manifest JSON (round-14 verdict item 3). The
# measured inline boundary (tools/zone_boundary.py): ~16 MB manifest /
# ~1.1 s parse+plan at 100k file entries, ~128 MB / ~9 s at the 800k
# files of a right-sized 100 TB table — and EVERY commit re-uploads the
# whole manifest, because the conditional-PUT claim byte-compares it.
# Sidecars restore O(small) commits: the manifest carries only
# ``{"sidecar": "zstats/<job>.<sha12>.json", "files": N}`` per big job,
# each sidecar is written ONCE per job (job names are unique per
# rewrite), and the content-addressed name makes concurrent same-job
# retries collision-free — a loser's sidecar is an orphan, never an
# overwrite. Reads resolve markers lazily, one small GET per
# zone-carrying job (an OPTIMIZEd table has few). A missing sidecar
# (vacuumed orphan, racing retry) degrades that job to an unpruned
# whole-directory read — never an error.
ZONE_SIDECAR_MIN_FILES = 512


def _zone_sidecar_put(path: str, relkey: str, text: str) -> None:
    """Write a sidecar under ``<path>/_manifests/<relkey>``. The store's
    put publishes whole objects (a local put renames a per-writer tmp
    file), and content-addressed names make overwrites byte-identical."""
    objectstore.get_store(path).put_text(f"_manifests/{relkey}", text)


def _zone_sidecar_get(path: str, relkey: str) -> str | None:
    """Read a sidecar; None when absent (callers degrade to unpruned)."""
    try:
        return objectstore.get_store(path).get_text(f"_manifests/{relkey}")
    except Exception:
        return None


def _pack_zones(path: str, job: str, zmap: dict) -> dict:
    """Inline a small per-job zone map; spill a big one to a sidecar
    and return its manifest marker. The marker carries the stat-column
    NAMES (round-14 review) so the rewrite-inheritance paths
    (delete/merge/optimize stat_cols) answer from the marker alone —
    never a multi-MB sidecar GET just to learn two column names."""
    if len(zmap) < ZONE_SIDECAR_MIN_FILES:
        return zmap
    import hashlib

    text = json.dumps(zmap, sort_keys=True)
    h = hashlib.sha256(text.encode()).hexdigest()[:12]
    relkey = f"zstats/{job}.{h}.json"
    _zone_sidecar_put(path, relkey, text)
    return {
        "sidecar": relkey,
        "files": len(zmap),
        "cols": sorted({c for f in zmap.values() for c in f if c != "rows"}),
    }


def _zone_stat_cols(z) -> set[str]:
    """Stat-column names of a manifest ``zones`` value. A sidecar marker
    answers from the ``cols`` list :func:`_pack_zones` embeds, without
    touching the sidecar; an inline map scans its entries."""
    if isinstance(z, dict) and isinstance(z.get("sidecar"), str):
        return set(z["cols"])
    zmap = z if isinstance(z, dict) else {}
    return {c for f in zmap.values() for c in f if c != "rows"}


def _resolve_zmap(path: str, z) -> dict | None:
    """A manifest ``zones`` value → the actual per-file map: inline
    dicts pass through; sidecar markers load their file; a missing
    sidecar (or no entry) resolves to None = job unzoned."""
    if not isinstance(z, dict):
        return None
    if isinstance(z.get("sidecar"), str):
        text = _zone_sidecar_get(path, z["sidecar"])
        if text is None:
            return None
        try:
            return json.loads(text)
        except ValueError:
            return None
    return z


def append_versioned(
    df: DataFrame,
    path: str,
    job_id: str,
    job_col: str = "__job_id",
    zone_stats: Sequence[str] | None = None,
) -> int:
    """Time-travel-lite idempotent append: each ``job_id`` is written to
    its own partition directory and committed in a version-stamped
    manifest — the plain-parquet analog of the reference's Delta
    transaction log (``pasta1_etl/src/main.py:191-194``), as far as a
    log-less format allows.

    Each successful append writes ``<path>/_manifests/v{N}.json`` listing
    every ``job_id`` visible at version N (Spark's reader ignores
    underscore-prefixed paths, so manifests never pollute the scan).
    Semantics mirrored from the Delta log:

    - **atomic commit**: the manifest is claimed with the store's
      exclusive create — locally written (and fsync'd) to a temp file,
      then LINKED to its final name, so `os.link` fails with EEXIST if
      version N is already claimed, and a reader can never
      observe a partial manifest because the final name only ever
      points at completed bytes. Two concurrent writers cannot both
      claim version N; the loser re-reads and claims N+1 (optimistic
      concurrency, Delta-style). A writer that dies mid-write leaves
      only a `.tmp.*` file, which every reader ignores.
    - **idempotent retry**: re-appending a ``job_id`` that has EVER been
      committed — in the latest manifest, in any older manifest, or
      under a delete/merge rewrite name (``<job>.dN``/``<job>.mN``) —
      is a no-op returning the current version, like Delta's
      ``txnAppId`` dedup. In particular, retrying a job whose partition
      was later rewritten by :func:`delete_where` / :func:`merge_versioned`
      — or whose manifests were since reclaimed by
      :func:`vacuum_versioned` — does NOT resurrect the deleted rows:
      every manifest carries a cumulative ``ever`` field (all job ids
      committed under any name up to that version), so the
      dedup reads ONE manifest instead of the whole chain (O(1) GETs
      on S3 — the scaling role of Delta's checkpoints) and remembers
      vacuumed history forever.
    - **time travel**: :func:`read_version` resolves version N to its
      job set and reads exactly those partition directories (partition
      pruning makes the filter a directory selection, not a row scan).

    The data write goes DIRECTLY to the job's own partition directory
    ``<path>/{job_col}={job_id}`` — each job gets a private committer
    staging area, so concurrent appends of DIFFERENT job_ids are safe
    end-to-end (a dynamic partition overwrite of the table root would
    stage every concurrent job under the shared ``<path>/_temporary``,
    and the first commit would delete the second's staging). A crashed
    write leaves a partial partition directory, but versioned readers
    never see it: only manifest-committed job_ids are selected.
    Requires a filesystem-safe ``job_id`` (alphanumerics, ``-``, ``_``,
    ``.``).

    Returns the committed (or reused) version number. What this does
    NOT give vs real Delta: file-level conflict detection between
    concurrent writers to the SAME job_id, and VACUUM-safe readers —
    documented gap, not an analog failure.

    **Object-store boundary (S3)**: every manifest operation goes
    through :func:`_manifest_io`, one class over
    :func:`objectstore.get_store`. On a local path the atomic exclusive
    claim is ``os.link`` (O_EXCL-style); on ``s3://``/``s3a://`` it is
    :class:`objectstore.S3Store`'s conditional write (``If-None-Match:
    *``, GA since 2024) — two writers racing for ``v{N}.json`` resolve
    identically on both backends: one wins, the loser re-reads and
    claims N+1. Manifest content and reader semantics are
    byte-identical across backends; only the claim primitive differs.
    The data write itself goes through Spark's Hadoop FS layer either
    way, which takes ``file:`` URIs as they are. See DESIGN.md
    "Versioned-commit S3 boundary".
    """
    _validate_user_job_id(job_id)
    mio = _manifest_io(path)
    # Retry dedup BEFORE the data write: a job_id committed in ANY
    # manifest (possibly since rewritten by delete/merge, possibly
    # since VACUUMed away — the tip's cumulative ``ever`` field
    # remembers both) must not write bytes — re-overwriting a
    # directory that older manifests still reference, or re-appending
    # rows a DELETE removed, both corrupt time travel.
    tip, _jobs, raw, _meta = _tip_state(mio)
    if job_id in _with_bases(raw):
        return tip
    job_dir = os.path.join(path, f"{job_col}={job_id}")
    df.write.mode("overwrite").parquet(job_dir)
    new_zones = (
        {
            job_id: _pack_zones(
                path, job_id, _collect_zone_stats(df.sparkSession, job_dir, zone_stats)
            )
        }
        if zone_stats
        else None
    )
    import uuid

    while True:
        tip, jobs, raw, tip_meta = _tip_state(mio)
        if job_id in _with_bases(raw):
            # a concurrent retry of the same job_id won the race
            return tip
        n = tip + 1 if tip is not None else 0
        # the ``writer`` nonce keeps distinct writers from byte-colliding
        # in the S3 412 self-claim compare (see _commit_manifest); the
        # loser's False here just loops, re-reads, and hits the
        # ever-union dedup above — idempotency is unaffected.
        payload = {
            "version": n,
            "job_col": job_col,
            "job_ids": jobs + [job_id],
            "ever": sorted(raw | {job_id}),
            "writer": uuid.uuid4().hex,
        }
        zones = _carry_zones(tip_meta, payload["job_ids"], new_zones)
        if zones:
            payload["zones"] = zones
        if not mio.try_commit(n, payload):
            continue  # lost the race — re-read and claim the next version
        return n


def _affected_jobs(jobs: DataFrame, path: str) -> set[str]:
    """Distinct ``__job`` values of a rewrite probe. An empty id means a
    matched file does not sit directly in its ``job_col=`` directory (a
    nested partition layout); treating it as "no job affected" would
    silently skip the rewrite, so it fails loudly instead."""
    affected = {r[0] for r in jobs.distinct().collect()}
    if "" in affected:
        raise ValueError(
            f"{path}: a matched file is not directly under its job "
            "directory (nested partitions?); refusing to skip its rewrite"
        )
    return affected


def delete_where(spark: SparkSession, path: str, condition: Column) -> int:
    """Copy-on-write row-level DELETE over a versioned-append table —
    the Delta ``DELETE FROM`` analog, time-travel preserved: every
    committed job whose partition contains matching rows is REWRITTEN
    (filtered) into a fresh ``<job>.d<n>`` partition directory; the new
    manifest swaps old job ids for the rewritten ones, and untouched
    jobs keep their directories byte-identical. Old versions still
    resolve to the ORIGINAL directories, so ``read_version(path, v)``
    sees pre-delete data — exactly Delta's COW file-swap, at job
    granularity instead of file granularity.

    Returns the new version number (or the current one if nothing
    matched — a no-op delete mints no version, like Delta).

    Data reads/rewrites go through Spark's Hadoop FS layer and the
    manifest read/commit through :func:`_manifest_io`, so COW DELETE
    works the same on local and ``s3://``/``s3a://`` tables (old
    directories are left in place for time travel, so no object
    deletion is needed — reclaiming them is :func:`vacuum_versioned`'s
    job).
    """
    mio = _manifest_io(path)
    cur_v, jobs, _raw, _meta = _tip_state(mio)
    if cur_v is None:
        raise ValueError(f"no versions committed under {path}")
    job_col = _meta["job_col"]
    tip_zones = _meta.get("zones") or {}
    # Affected-job discovery in ONE pass (r14 optimization): the
    # per-job ``read + filter + limit(1).count()`` probe cost one
    # schema-inference job plus one probe action PER committed job; a
    # single partition-aware scan over every current directory finds
    # all touched jobs in one action (same bytes read — each file is
    # still scanned at most once — but job-count no longer grows with
    # the table's job count).
    from pyspark.sql import functions as F

    probe = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(path, f"{job_col}={j}") for j in jobs]
    )
    # Anchor the job extraction to the LEAF directory (r15, advisor
    # fix): matching the first `{job_col}=` anywhere in the URI breaks
    # when a parent path segment happens to look like one (e.g.
    # /data/__job_id=archive/tbl), and job_col must be regex-escaped.
    job_rx = re.escape(job_col) + "=([^/]+)/[^/]*$"
    affected = _affected_jobs(
        probe.filter(condition).select(
            F.regexp_extract(F.input_file_name(), job_rx, 1).alias("__job")
        ),
        path,
    )
    new_jobs: list[str] = []
    new_zones: dict = {}
    changed = False
    for job in jobs:
        part = os.path.join(path, f"{job_col}={job}")
        if job not in affected:
            new_jobs.append(job)  # untouched — directory reused as-is
            continue
        dfj = spark.read.parquet(part)
        changed = True
        new_job = f"{job}.d{cur_v + 1}"
        new_dir = os.path.join(path, f"{job_col}={new_job}")
        dfj.filter(~condition).write.mode("overwrite").parquet(new_dir)
        new_jobs.append(new_job)
        # A rewritten job inherits its base job's zone-stat column set
        # (round 13): without the recompute, a DELETE dropped the
        # rewritten job's zones — losing read-path data skipping on
        # exactly the jobs big enough to have been OPTIMIZEd. One
        # extra file-stats scan of the directory just written.
        zcols = sorted(_zone_stat_cols(tip_zones.get(job)))
        if zcols:
            new_zones[new_job] = _pack_zones(
                path, new_job, _collect_zone_stats(spark, new_dir, zcols)
            )
    if not changed:
        return cur_v
    return _commit_manifest(
        path, job_col, new_jobs, base_version=cur_v, new_zones=new_zones or None
    )


class ConcurrentCommitError(RuntimeError):
    """Another writer committed a version between this operation's read
    of the manifest and its commit attempt — the COW rewrite was planned
    against a stale base and must be retried from the top."""


def _commit_manifest(
    path: str,
    job_col: str,
    job_ids: list[str],
    base_version: int | None = None,
    new_zones: dict | None = None,
) -> int:
    """Atomically commit the next manifest version (write-fsync-link
    optimistic claim shared by append/delete/merge).

    When ``base_version`` is given (delete/merge: the rewrite was
    computed FROM that version), the commit claims exactly
    ``base_version + 1`` and raises :class:`ConcurrentCommitError` if
    that slot is already taken — blindly claiming the next free slot
    would publish a job list that silently drops the concurrent
    writer's changes (lost update). Append passes ``None``: its job
    list is re-derived inside the claim loop, so retrying the next
    slot is safe.

    The exclusive claim goes through :func:`_manifest_io` (local
    ``os.link``; S3 conditional PUT), so delete/merge commit with the
    same semantics on every backend.

    The payload embeds a per-writer ``writer`` nonce. The S3 claim's
    412 self-claim detection compares bytes, and delete/optimize
    manifests are otherwise fully deterministic
    (rewrite names derive from base job names + version; json key
    order is stable) — two concurrent ``delete_where`` calls with
    DIFFERENT conditions from the same base could byte-collide, both
    "win" the claim, and silently ship whichever data rewrite landed
    last. The nonce makes distinct writers never byte-equal, so the
    loser gets ``False`` and correctly raises
    :class:`ConcurrentCommitError`. The byte-compare path still
    self-claims the case it exists for: botocore's transport-level
    re-send of a lost response replays the SAME payload bytes, nonce
    included.
    """
    import uuid

    mio = _manifest_io(path)
    while True:
        tip, _jobs, raw, _meta = _tip_state(mio)
        latest = tip if tip is not None else -1
        if base_version is not None and latest != base_version:
            raise ConcurrentCommitError(
                f"{path}: version advanced {base_version} -> {latest} during "
                "copy-on-write rewrite; re-run the operation against the new base"
            )
        n = latest + 1
        payload = {
            "version": n,
            "job_col": job_col,
            "job_ids": job_ids,
            "ever": sorted(raw | set(job_ids)),
            "writer": uuid.uuid4().hex,
        }
        zones = _carry_zones(_meta, job_ids, new_zones)
        if zones:
            payload["zones"] = zones
        if mio.try_commit(n, payload):
            return n
        if base_version is not None:
            raise ConcurrentCommitError(
                f"{path}: version {n} was claimed by a concurrent writer "
                "during copy-on-write commit; re-run against the new base"
            )


def merge_versioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    job_id: str,
) -> int:
    """MERGE (upsert) into a versioned-append table in ONE commit — the
    Delta ``MERGE INTO`` analog: rows matching ``keys`` in the updates
    set are replaced, new keys are inserted, and history stays
    readable. Copy-on-write at job granularity: every committed job
    whose partition contains a matched key is rewritten (anti-join)
    into ``<job>.m<n>``; the updates land as their own ``job_id``
    partition; a SINGLE manifest swaps old jobs for rewritten ones and
    adds the new job — readers never observe the intermediate state,
    and ``read_version`` of any older version still resolves to the
    original directories.

    ``job_id`` must be FRESH: an id already in the latest manifest is
    treated as a crash-after-commit retry of this same merge and
    returns the current version without touching data (the
    latest-manifest retry dedup :func:`append_versioned` has); an id
    that appears in any OLDER manifest (or as the base of a rewritten
    ``<job>.dN``/``.mN`` name) raises ``ValueError`` — overwriting its
    partition directory would corrupt the older versions that still
    reference it.
    """
    _validate_user_job_id(job_id)
    mio = _manifest_io(path)
    cur_v, jobs, raw, _meta = _tip_state(mio)
    if cur_v is None:
        raise ValueError(f"no versions committed under {path}")
    if job_id in jobs:
        return cur_v  # idempotent retry: this merge already committed
    if job_id in _with_bases(raw):
        raise ValueError(
            f"job_id {job_id!r} was already committed to {path} in an earlier "
            "version; reusing it would overwrite a partition directory that "
            "older manifests still reference — pick a fresh job_id"
        )
    job_col = _meta["job_col"]
    tip_zones = _meta.get("zones") or {}
    from pyspark.sql import functions as F

    keyset = updates.select(*keys).distinct()
    # One-pass affected-job discovery (r14 optimization — same move and
    # rationale as delete_where's): a single partition-aware scan
    # replaces the per-job semi-join probe, so matched-job discovery is
    # one action regardless of how many jobs the tip holds.
    probe = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(path, f"{job_col}={j}") for j in jobs]
    )
    # `input_file_name()` is only legal over a plan with ONE file
    # source, so the job id must be extracted from the single-source
    # probe BEFORE the semi-join (r15 fix — the r14 ordering selected
    # it after the join and threw MULTI_SOURCES_UNSUPPORTED_FOR_
    # EXPRESSION whenever `updates` itself came from a file source).
    # Regex anchored to the leaf directory + escaped, as delete_where's.
    job_rx = re.escape(job_col) + "=([^/]+)/[^/]*$"
    affected = _affected_jobs(
        probe.select(
            *keys, F.regexp_extract(F.input_file_name(), job_rx, 1).alias("__job")
        )
        .join(F.broadcast(keyset), list(keys), "left_semi")
        .select("__job"),
        path,
    )
    new_jobs: list[str] = []
    new_zones: dict = {}
    for job in jobs:
        part = os.path.join(path, f"{job_col}={job}")
        if job not in affected:
            new_jobs.append(job)  # no matched keys — reuse as-is
            continue
        dfj = spark.read.parquet(part)
        new_job = f"{job}.m{cur_v + 1}"
        new_dir = os.path.join(path, f"{job_col}={new_job}")
        dfj.join(F.broadcast(keyset), list(keys), "left_anti").write.mode(
            "overwrite"
        ).parquet(new_dir)
        new_jobs.append(new_job)
        # rewritten jobs inherit their base's zone-stat columns — same
        # rationale as delete_where (round 13): MERGE must not erode
        # the table's data-skipping coverage
        zcols = sorted(_zone_stat_cols(tip_zones.get(job)))
        if zcols:
            new_zones[new_job] = _pack_zones(
                path, new_job, _collect_zone_stats(spark, new_dir, zcols)
            )
    updates.write.mode("overwrite").parquet(os.path.join(path, f"{job_col}={job_id}"))
    return _commit_manifest(
        path,
        job_col,
        new_jobs + [job_id],
        base_version=cur_v,
        new_zones=new_zones or None,
    )


def list_versions(path: str) -> list[tuple[int, list[str]]]:
    """All committed versions of a versioned-append table, ascending:
    one manifest listing plus one read per version, through the object
    store for the path's scheme."""
    return _manifest_io(path).list_versions()


_PRUNE_OPS = ("=", "==", "<", "<=", ">", ">=", "in")


def _zone_may_match(bounds: list, op: str, val, orig=None) -> bool:
    """Can a file whose column spans ``[lo, hi]`` contain a row
    satisfying ``col <op> val``? False means the zone DISPROVES the
    predicate and the file is skipped without opening its footer.
    ``lo``/``hi`` of None means every row is NULL in that column — no
    comparison predicate can select it (SQL three-valued logic), so
    such files always prune. For ``in``, ``val`` is the normalized
    value list (``orig`` the original one): the file survives if ANY
    member can fall in its span — the point-set lookup zone maps serve
    best on clustered keys. A bounds/value type mismatch keeps the
    file (pruning must only ever under-prune); the row-level filter
    then surfaces the real error Spark-side.

    Temporal cross-type coercion (round-14 ADVICE): when the bounds
    carry a kind tag ("date"/"ts", written by r14+ commits) and the
    ORIGINAL prune value is the other temporal type, the comparison is
    aligned to Spark's own promotion rule — a DATE is the MIDNIGHT
    timestamp — instead of comparing a 10-char date string against a
    19-char timestamp string lexicographically (which disproves zones
    that contain matching rows, i.e. over-prunes). Pre-r14 untagged
    temporal bounds of mismatched width keep the file (under-prune,
    always sound)."""
    from datetime import date as _date
    from datetime import datetime as _datetime

    lo, hi = bounds[0], bounds[1]
    if lo is None or hi is None:
        return False
    if op == "in":
        ov = orig if orig is not None else val
        return any(
            _zone_may_match(bounds, "=", v, o) for v, o in zip(val, ov)
        )
    kind = bounds[2] if len(bounds) > 2 else None
    if isinstance(orig, _datetime):
        if kind == "date":
            # timestamp prune value vs DATE column: Spark promotes the
            # date rows to midnight timestamps — so do the bounds.
            lo, hi = lo + " 00:00:00", hi + " 00:00:00"
        elif kind is None and isinstance(lo, str) and len(lo) == 10:
            return True  # untagged (pre-r14) date-width bounds: keep
    elif isinstance(orig, _date):
        if kind == "ts":
            # date prune value vs TIMESTAMP column: the date literal is
            # promoted to its midnight timestamp.
            val = val + " 00:00:00"
        elif kind is None and isinstance(lo, str) and len(lo) > 10:
            return True  # untagged (pre-r14) timestamp-width bounds: keep
    try:
        if op in ("=", "=="):
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        return hi >= val  # ">="
    except TypeError:
        return True


def _zone_select(path: str, meta: dict, conj: list) -> tuple[list[str] | None, int, int]:
    """Resolve a version's scan set under conjunctive predicates using
    the manifest's per-file zones: (paths or None when the manifest has
    no zones at all, zone-covered files kept, zone-covered files
    total). ``conj`` is :func:`_normalize_prune` output — 4-tuples of
    (col, op, normalized value, original value); the original rides
    along so temporal cross-type coercion keys off real Python types,
    never string sniffing. Jobs without zone entries contribute their
    whole directory (correct, just unpruned)."""
    zones = meta.get("zones") or {}
    if not zones:
        return None, 0, 0
    job_col = meta["job_col"]
    selected: list[str] = []
    kept = total = 0
    for job in meta["job_ids"]:
        job_dir = os.path.join(path, f"{job_col}={job}")
        zmap = _resolve_zmap(path, zones.get(job))
        if zmap is None:
            selected.append(job_dir)
            continue
        for fname in sorted(zmap):
            entry = zmap[fname]
            total += 1
            ok = all(
                c not in entry or _zone_may_match(entry[c], op, nv, ov)
                for c, op, nv, ov in conj
            )
            if ok:
                kept += 1
                selected.append(os.path.join(job_dir, fname))
    return selected, kept, total


def _normalize_prune(prune) -> list:
    """Validate the prune spec — conjuncts of ``(col, op, value)`` with
    op in ``=,==,<,<=,>,>=,in`` (``in`` takes a non-empty list of
    scalars) — and pre-normalize each value into the zone-bound
    comparison domain (:func:`_zone_json`). NaN and tz-aware datetime
    values are rejected LOUDLY (round-14 ADVICE): NaN's interval
    arithmetic is unsound (Python ``nan > x`` is False while Spark
    sorts NaN above every double — silently over-prunes), and a
    tz-aware isoformat doesn't order against the naive session-time
    zone bounds; ``_zone_json`` returns NotImplemented for both, and
    the specific messages here say why."""
    from datetime import datetime as _datetime

    def _check(c, x):
        if isinstance(x, float) and x != x:
            raise ValueError(
                f"NaN prune value for {c!r}: zone intervals cannot "
                "reason about NaN (Spark sorts NaN above all doubles) "
                "— filter NaN with an explicit isnan() row predicate"
            )
        if isinstance(x, _datetime) and x.tzinfo is not None:
            raise ValueError(
                f"tz-aware datetime prune value for {c!r}: zone bounds "
                "are naive session-time strings — pass a naive datetime"
            )

    conj = []
    for item in prune or ():
        c, op, v = item
        if op not in _PRUNE_OPS:
            raise ValueError(f"unsupported prune op {op!r} (have {_PRUNE_OPS})")
        if op == "in":
            vals = list(v)
            if not vals:
                raise ValueError(f"'in' prune for {c!r} needs a non-empty list")
            for x in vals:
                _check(c, x)
            nvs = [_zone_json(x) for x in vals]
            if any(x is NotImplemented or x is None for x in nvs):
                raise ValueError(
                    f"'in' prune values for {c!r} have unsupported types: {v!r}"
                )
            conj.append((c, op, nvs, vals))
            continue
        _check(c, v)
        nv = _zone_json(v)
        if nv is NotImplemented or nv is None:
            raise ValueError(f"prune value for {c!r} has unsupported type: {v!r}")
        conj.append((c, op, nv, v))
    return conj


def read_version(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: Sequence[tuple] | None = None,
) -> DataFrame:
    """Read a versioned-append table AS OF ``version`` (default: latest).
    The manifest's job set becomes an IN-filter on the partition column —
    pure directory pruning, so reading v1 of a 1000-version table scans
    only v1's files.

    Reads with ``mergeSchema`` so versioned appends COMPOSE with
    additive schema evolution: a column added by a later append
    surfaces as NULL in earlier jobs' rows instead of being silently
    dropped by the default footer-on-faith schema (the exact trap
    :func:`read_parquet_merged`'s docstring warns about). At 100 TB
    scale cache the merged schema in a catalog rather than re-merging
    footers per read. Resolves via a name-only manifest LIST plus ONE
    manifest GET.

    ``prune``: conjunctive simple predicates
    ``[(col, op, value), ...]`` with op in ``=,==,<,<=,>,>=,in``
    (``in`` takes a non-empty scalar list — the point-set lookup a
    clustered key serves best). Each is
    ALWAYS applied as a row-level filter (so the result is exactly the
    unpruned read plus those filters — the oracle invariant), and when
    the manifest carries per-file ``zones`` stats (written by
    ``optimize_versioned(cluster_by=...)`` / ``zone_stats=...``), files
    whose min/max interval disproves a predicate are dropped from the
    SCAN SET before Spark ever opens them — manifest-level data
    skipping, the Delta-log stats-pruning analog that makes a Z-ORDERed
    layout pay off at read time. On a 100 TB table a point/range query
    on the clustered dimensions then lists and footers a few files
    instead of every part file in the version."""
    from pyspark.sql import functions as F

    mio = _manifest_io(path)
    nums = mio.list_version_numbers()
    if not nums:
        raise ValueError(f"no versions committed under {path}")
    n = max(nums) if version is None else version
    if n not in set(nums):
        raise ValueError(f"version {n} not found under {path} (have {nums})")
    meta = mio.read_meta(n)
    job_col = meta["job_col"]
    conj = _normalize_prune(prune)
    df = None
    if conj:
        paths, _kept, _total = _zone_select(path, meta, conj)
        if paths is not None:
            if paths:
                try:
                    df = (
                        spark.read.option("mergeSchema", "true")
                        .option("basePath", path)
                        .parquet(*paths)
                    )
                except AnalysisException:
                    # The manifest's zone file names can go stale — a
                    # concurrent retry of the same job_id may overwrite
                    # its directory (fresh part-file names) between the
                    # committer's stats scan and its commit.
                    # A missing file must degrade to the UNPRUNED read
                    # (correct, just slower), never fail the query.
                    df = None
            else:
                # every zone-covered file disproved the predicate and no
                # unzoned job remains — empty result, full-table schema
                df = (
                    spark.read.option("mergeSchema", "true")
                    .parquet(path)
                    .filter(F.lit(False))
                )
    if df is None:
        df = spark.read.option("mergeSchema", "true").parquet(path)
    out = df.filter(df[job_col].isin(list(meta["job_ids"]))).drop(job_col)
    for c, op, _nv, v in conj:
        col = out[c]
        if op == "in":
            out = out.filter(col.isin(list(v)))
        elif op in ("=", "=="):
            out = out.filter(col == F.lit(v))
        elif op == "<":
            out = out.filter(col < F.lit(v))
        elif op == "<=":
            out = out.filter(col <= F.lit(v))
        elif op == ">":
            out = out.filter(col > F.lit(v))
        else:
            out = out.filter(col >= F.lit(v))
    return out


def zone_prune_stats(
    path: str, version: int | None = None, prune: Sequence[tuple] | None = None
) -> dict:
    """Planning-time diagnostics for :func:`read_version`'s zone
    pruning — how many zone-covered files the manifest stats keep vs
    hold, without touching any data. Returns ``{"files_total",
    "files_kept", "has_zones"}``; reads ONE manifest."""
    mio = _manifest_io(path)
    nums = mio.list_version_numbers()
    if not nums:
        raise ValueError(f"no versions committed under {path}")
    n = max(nums) if version is None else version
    if n not in set(nums):
        raise ValueError(f"version {n} not found under {path} (have {nums})")
    meta = mio.read_meta(n)
    conj = _normalize_prune(prune)
    paths, kept, total = _zone_select(path, meta, conj)
    return {
        "files_total": total,
        "files_kept": kept,
        "has_zones": paths is not None,
    }


def table_changes(
    spark: SparkSession, path: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """Change Data Feed analog over a versioned-append table: the
    row-level difference between two versions as a changelog —
    ``_change_type`` is ``insert`` for rows present in ``v_to`` but not
    ``v_from``, ``delete`` for the reverse (multiset semantics via
    ``exceptAll``, so duplicate rows diff correctly). This is what
    Delta's ``table_changes`` yields WITHOUT row tracking: an update
    surfaces as delete+insert of the changed row.

    Downstream consumers replay the feed with :func:`operators.sorts.
    cdc_apply` or stream it on — the inverse direction of
    ``streaming.cdc_changelog_sink`` (changelog → table), closing the
    CDC loop. Cost: two version scans + two hash-aggregate diffs
    (exceptAll shuffles on the full row); at 100 TB diff adjacent
    versions (each resolves to its own partition directories via
    pruning), not distant ones.
    """
    before = read_version(spark, path, v_from)
    after = read_version(spark, path, v_to)
    from pyspark.sql import functions as F

    ins = after.exceptAll(before).withColumn("_change_type", F.lit("insert"))
    dels = before.exceptAll(after).withColumn("_change_type", F.lit("delete"))
    return ins.unionByName(dels)


def vacuum_versioned(path: str, retain_last: int = 1) -> tuple[int, int]:
    """Delta ``VACUUM`` analog for versioned-append tables: drop the
    manifests older than the last ``retain_last`` versions, then delete
    every partition directory no retained manifest references. Storage
    stops growing with history; the time-travel window shrinks to the
    retained versions — ``read_version`` of a vacuumed version raises,
    exactly like Delta after its retention period.

    Returns ``(n_versions_dropped, n_dirs_deleted)``. Like Delta,
    vacuum is unsafe against IN-FLIGHT readers of vacuumed versions (a
    reader that resolved its manifest before the vacuum may find its
    directories gone) — schedule beyond the longest reader runtime.
    The latest version is always retained (``retain_last`` floors at 1).

    One path on every scheme: the dropped manifests and unreferenced
    partition "directories" are removed with batched ``delete_keys``
    calls over the object store's key listing (a bucket has no
    directories — a partition dir is the set of keys under its
    prefix; ``DeleteObjects`` on S3, file deletes plus empty-directory
    pruning locally). The second count is the number of distinct
    partition prefixes removed.

    It also sweeps orphaned zone-stat SIDECARS — zstats files no
    retained manifest references (vacuumed jobs, losing retries'
    never-referenced uploads), with a 60 s mtime grace for in-flight
    writers between sidecar PUT and commit. A tip manifest without
    ``ever`` raises ``ValueError`` before anything is deleted: dropping
    the old manifests would lose the retry-dedup history.
    """
    retain_last = max(1, retain_last)
    mio = _manifest_io(path)
    tip, _jobs, _raw, tip_meta = _tip_state(mio)
    if tip is None:
        raise ValueError(f"no versions committed under {path}")
    job_col = tip_meta["job_col"]
    # Only the retained manifests are read (the tip's already is): the
    # dropped ones are deleted by name, from the listing alone.
    nums = mio.list_version_numbers()
    dropped = nums[:-retain_last]
    retained = [tip_meta] + [mio.read_meta(v) for v in nums[-retain_last:] if v != tip]
    retained_jobs = {j for m in retained for j in m["job_ids"]}
    prefix = f"{job_col}="
    # Sweep orphaned zone-stat sidecars (`_manifests/zstats/<job>.<sha12>.json`, _pack_zones).
    # Vacuumed jobs — and the never-referenced sidecars of losing
    # same-job retries — leave orphans that would otherwise accumulate
    # forever (one per rewrite). Referenced = named by ANY retained
    # manifest's marker; the content-addressed name means a marker
    # carried forward across manifests stays the same string, so the
    # retained union is exact. A 60 s mtime grace spares an in-flight
    # writer between its sidecar PUT and its commit; a sidecar swept
    # anyway because its writer stalled past the window degrades that
    # job to an unpruned read — correct, just unskipped — per the
    # documented missing-sidecar contract (_resolve_zmap).
    referenced: set[str] = set()
    for m in retained:
        for z in (m.get("zones") or {}).values():
            if isinstance(z, dict) and isinstance(z.get("sidecar"), str):
                referenced.add(z["sidecar"])
    store = mio.store
    store.delete_keys([f"_manifests/v{v}.json" for v in dropped])
    doomed: list[str] = []
    doomed_dirs: set[str] = set()
    for page in store.iter_pages(prefix):
        for key in page:
            seg = key.split("/", 1)[0]
            if seg.startswith(prefix) and seg[len(prefix):] not in retained_jobs:
                doomed.append(key)
                doomed_dirs.add(seg)
    store.delete_keys(doomed)
    orphans: list[str] = []
    now = time.time()
    for page in store.iter_pages("_manifests/zstats/"):
        for key in page:
            if key[len("_manifests/"):] in referenced:
                continue
            try:
                # one HEAD per already-unreferenced candidate (rare),
                # never per listed key
                if now - store.mtime(key) >= 60:
                    orphans.append(key)
            except FileNotFoundError:
                continue
    if orphans:
        store.delete_keys(orphans)
    return len(dropped), len(doomed_dirs)


def _zorder_value(df: DataFrame, cols: Sequence[str], bits: int = 6):
    """Z-order (Morton) clustering key over ``cols`` — the expression
    behind ``optimize_versioned(cluster_by=...)``, the analog of Delta
    Lake's ``OPTIMIZE ... ZORDER BY`` (public OSS feature; same
    quantile-bucket-then-bit-interleave construction its
    ``range_partition_id`` path uses).

    Sibling of :func:`operators.layout.zorder_key`, which interleaves
    the RAW low bits of two already-bucketed non-negative integers
    (and has a portable SQL twin for its oracle). This variant is the
    production-rewrite key: N columns, quantile bucketing for skew
    resistance, type validation, NULL handling.

    Scale-safe by construction: per-column bucket boundaries come from
    ``approxQuantile`` (Greenwald-Khanna sketch — ONE distributed pass
    sketches every cluster column together; the driver holds only
    ``2^bits`` floats per column), bucketing is a
    broadcast-literal array filter (whole-stage codegen, no join), and
    the bit interleave is pure integer expressions. No window, no
    serial stage, no Python UDF. Quantile buckets (not min/max range
    splits) make the curve skew-resistant: each bucket holds ~1/2^bits
    of the ROWS regardless of the value distribution.

    Columns must be numeric/date/timestamp (cast to double for the
    sketch); NULLs sort into bucket 0. Returns a Column producing a
    ``bits * len(cols)``-bit integer.
    """
    from pyspark.sql import functions as F

    if not (1 <= bits * len(cols) <= 60):
        raise ValueError("bits * len(cols) must fit a 60-bit z-value")
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    nums = []
    dtypes = dict(df.dtypes)
    for c in cols:
        dt = dtypes.get(c)
        if dt is None:
            raise ValueError(f"cluster_by column {c!r} not in DataFrame")
        if dt in ("string", "binary") or dt.startswith(("array", "map", "struct")):
            raise ValueError(
                f"cluster_by column {c!r} has type {dt}; z-order clustering "
                "needs a numeric/date/timestamp column (hash to a numeric "
                "surrogate first)"
            )
        # Quantile bucketing only needs a MONOTONE numeric image of the
        # column, so temporal types map through their epoch counters
        # (DATE has no direct DOUBLE cast in Spark — unix_date instead;
        # TIMESTAMP_NTZ casts via TIMESTAMP, a monotone shift).
        if dt == "date":
            nums.append(F.unix_date(F.col(c)).cast("double"))
        elif dt == "timestamp_ntz":
            nums.append(F.col(c).cast("timestamp").cast("double"))
        else:
            nums.append(F.col(c).cast("double"))
    # ONE sketch job for every column (approxQuantile takes a column
    # list and ignores NULLs itself) — k cluster columns cost one pass
    # over the data, not k.
    probe = df.select(*[n.alias(f"__zq{i}") for i, n in enumerate(nums)])
    bls = probe.stat.approxQuantile(
        [f"__zq{i}" for i in range(len(nums))], qs, 1.0 / (4 * n_buckets)
    )
    buckets = []
    for num, bl in zip(nums, bls):
        if not bl:
            # approxQuantile returns no boundaries for an all-NULL
            # column — a zero-arg F.array() would be NullType and fail
            # the lambda's analysis. Every row of
            # this dimension belongs in bucket 0; emit the constant.
            buckets.append(F.lit(0).cast("long"))
            continue
        # Boundary array as ONE SQL-parsed literal (r14 optimization:
        # 2^bits-1 F.lit py4j round-trips per column dominated the
        # OPTIMIZE call's plan-construction time; repr round-trips
        # doubles exactly). approxQuantile reports actual data values,
        # which CAN be ±inf (planted-infinity columns are tested) — SQL
        # has no inf double literal, so those fall back to per-element
        # F.lit.
        import math as _math

        if all(_math.isfinite(float(b)) for b in bl):
            arr = F.expr(
                "array(" + ",".join(repr(float(b)) + "D" for b in bl) + ")"
            )
        else:
            arr = F.array(*[F.lit(float(b)) for b in bl])
        # NULL rows: ``boundary < NULL`` is NULL, F.filter drops the
        # element, size()=0 → bucket 0 — no -inf sentinel needed (the
        # sentinel conflated genuine -inf values with NULL; now -inf
        # lands in bucket 0 because nothing compares below it, and
        # NULL lands there by three-valued logic, each on its own
        # terms).
        buckets.append(
            F.size(F.filter(arr, lambda x: x < num)).cast("long")  # noqa: B023
        )
    # Interleave via per-column Morton spread tables (r14 optimization):
    # bit i of column j lands at position i*ncols + j, so
    # z = OR_j (spread(b_j) << j) with spread(b) = Σ_i ((b>>i)&1)·2^(i·ncols)
    # — the identical value the old bits×ncols shift/AND/OR expression
    # chain produced, but the 2^bits-entry spread table is precomputed
    # in Python and the per-row work is ONE array lookup per column
    # (codegen element_at) instead of `bits` shift/mask/or triples.
    ncols = len(buckets)
    spread = [
        sum(((b >> i) & 1) << (i * ncols) for i in range(bits))
        for b in range(1 << bits)
    ]
    spread_arr = F.expr(
        "array(" + ",".join(f"{s}L" for s in spread) + ")"
    )
    z = F.lit(0).cast("long")
    for j, b in enumerate(buckets):
        z = z.bitwiseOR(
            F.shiftleft(F.element_at(spread_arr, b.cast("int") + 1), j)
        )
    return z


def optimize_versioned(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    cluster_by: Sequence[str] | None = None,
    zone_stats: Sequence[str] | None = None,
) -> int:
    """Delta ``OPTIMIZE`` analog for versioned-append tables: rewrite
    the LATEST version's rows as one right-sized job partition and
    commit a single manifest that swaps every current job for it. The
    swap is ATOMIC (readers resolve manifests, so they see the old file
    set or the new one, never a mix), works on object storage (no
    renames — only a data write plus the conditional-PUT manifest
    claim), and PRESERVES time travel (old versions still resolve to
    the original directories; :func:`vacuum_versioned` reclaims them
    later).

    The rewritten job is named ``optimize.o{N}`` for the minted
    version N — outside the ``.d``/``.m`` rewrite namespace, so
    cross-manifest retry dedup and :func:`_base_job_id` stay exact. A
    table whose latest version is already a single optimize job is
    returned as-is (idempotent re-run / crash-after-commit retry). A
    concurrent append/delete/merge between the read and the commit
    raises :class:`ConcurrentCommitError` — the rewrite was computed
    from a stale base (same contract as delete/merge).

    Output file count is ``ceil(bytes / target_mb)`` from Catalyst's
    scan statistics of the version being rewritten (file bytes of the
    pruned directories) — ~128 MB per scan task, one HDFS block / S3
    range request each. Returns the new version number.

    ``cluster_by``: the ``OPTIMIZE ... ZORDER BY`` analog (``None`` or
    an empty list rewrites unclustered). Rows are range-repartitioned
    and sorted on a 6-bit-per-column :func:`_zorder_value` Morton key
    over the given columns before the rewrite, so every output file
    covers a tight min/max rectangle in ALL the clustered dimensions
    at once — parquet row-group stats (and any zone-map layer above
    them) then prune multi-predicate scans that a single-column sort
    could only prune on its leading column. At 100 TB this is the
    difference between "skip 99% of files on (pickup_time, zone)
    predicates" and "full scan unless the filter hits the sort
    prefix". One distributed sketch pass covers every clustered
    column; the clustering shuffle replaces (not adds to) the plain
    ``repartition``. A deterministic hash of the cluster columns
    tie-breaks the range partitioner so constant/low-card z-values
    still spread across ``n_out`` writers (never one giant task).
    Re-running on an already-optimized table stays a no-op regardless
    of ``cluster_by`` — vacuum + re-append to re-cluster with a
    different key.

    The rewrite also records per-file min/max ``zones`` for
    ``zone_stats`` (default: the cluster columns) in the manifest it
    commits — the Delta-log stats analog that
    ``read_version(prune=...)`` consumes to SKIP files whose zone
    disproves a predicate. With neither given, the rewrite inherits the
    union of stat columns found in the folded jobs' tip zones, so
    compaction never erodes data-skipping coverage the appends already
    paid for.
    """
    import math

    from pyspark.sql import functions as F

    mio = _manifest_io(path)
    cur_v, jobs, _raw, _meta = _tip_state(mio)
    if cur_v is None:
        raise ValueError(f"no versions committed under {path}")
    if len(jobs) == 1 and jobs[0].startswith("optimize.o"):
        return cur_v  # already compacted; re-run is a no-op
    job_col = _meta["job_col"]
    df = read_version(spark, path, cur_v)
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n_out = max(1, math.ceil(size / (target_mb * 1024 * 1024)))
    new_job = f"optimize.o{cur_v + 1}"
    if cluster_by:
        zcol = "__zorder"
        tie = F.xxhash64(*[F.col(c) for c in cluster_by])
        out = (
            df.withColumn(zcol, _zorder_value(df, cluster_by))
            .repartitionByRange(n_out, F.col(zcol), tie)
            .sortWithinPartitions(zcol)
            .drop(zcol)
        )
    else:
        out = df.repartition(n_out)
    job_dir = os.path.join(path, f"{job_col}={new_job}")
    out.write.mode("overwrite").parquet(job_dir)
    stat_cols = list(zone_stats or cluster_by or ())
    if not stat_cols:
        tip_zones = _meta.get("zones") or {}
        inherited: set[str] = set()
        for j in jobs:
            inherited |= _zone_stat_cols(tip_zones.get(j))
        stat_cols = sorted(inherited)
    new_zones = (
        {new_job: _pack_zones(path, new_job, _collect_zone_stats(spark, job_dir, stat_cols))}
        if stat_cols
        else None
    )
    return _commit_manifest(
        path, job_col, [new_job], base_version=cur_v, new_zones=new_zones
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    mode: str = "append",
) -> None:
    """Partitioned sink (R11, ``pasta1_etl/src/main.py:235-239``): one
    directory per partition tuple → dynamic partition pruning on read."""
    df.write.partitionBy(*partition_by).mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: Sequence[str],
    num_buckets: int,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffled on ``bucket_by`` so downstream
    equi-joins/aggs on that key need no exchange. The 100 TB co-location
    strategy (SURVEY.md §4.3)."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table_name):
        # a previous session's managed-table directory with no catalog
        # entry makes saveAsTable fail with LOCATION_ALREADY_EXISTS —
        # clear the orphaned location (local warehouses only)
        import shutil

        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        if wh and objectstore.is_local_path(wh):
            shutil.rmtree(
                os.path.join(objectstore.to_local_os_path(wh), table_name.lower()),
                ignore_errors=True,
            )
    w = df.write.bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.mode(mode).format("parquet").saveAsTable(table_name)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV sink (R21, ``pasta2_analytics/src/main.py:26,51``)."""
    df.write.format("csv").option("header", str(header).lower()).mode(mode).save(path)


def write_run_manifest(path: str, processed: Sequence[str], failed: Sequence[str]) -> str:
    """Run-log sink (R22): the reference writes processed/failed file
    lists as dated text blobs to S3 (``pasta1_etl/src/main.py:253-267``,
    ``utils.py:69-84``). Every scheme goes through
    :func:`objectstore.save_text`, so a local path, a ``file:`` URI and
    an ``s3://`` URL each get ``run_<stamp>.json`` under the named
    location. Returns the path written."""
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    body = json.dumps(
        {"processed": list(processed), "failed": list(failed)}, indent=2
    )
    return objectstore.save_text(path, f"run_{stamp}.json", body)


# --- DDL (R13/R14) ----------------------------------------------------------


def create_table_ddl(
    spark: SparkSession,
    name: str,
    columns: Sequence[tuple[str, str]],
    location: str | None = None,
    partition_by: Sequence[str] = (),
) -> None:
    """Typed, optionally-partitioned table creation (R13 —
    ``DeltaTable.create().addColumn()...`` at ``pasta1_etl/src/main.py:109-132``
    re-expressed as ``CREATE TABLE ... USING parquet``; external-location
    variant mirrors the Hive DDLs R14, ``pasta1_etl/sql/*.sql``)."""
    cols = ", ".join(f"`{c}` {t}" for c, t in columns)
    parts = f" PARTITIONED BY ({', '.join(partition_by)})" if partition_by else ""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet{parts}{loc}")
