"""Custom Python DataSource (PySpark 4 DataSource API): an object-store
LISTING source.

The reference's ingest begins with an S3 listing pass
(``pasta1_etl/src/utils.py:16-66``) done driver-side with boto3. This
module re-expresses that listing as a first-class Spark SOURCE via the
Python DataSource API (SPARK-44076, pyspark >= 4): listings become a
DataFrame — filterable, joinable against manifests/zone maps, and
PARTITIONED so a 100-million-object bucket lists in parallel across
executors instead of serially on the driver (S3 LIST itself shards by
key prefix; each input partition walks one prefix shard).

Registration is per-session (:func:`register` also enables
``spark.sql.python.filterPushdown.enabled`` — required whenever a
Python reader implements ``pushFilters``, and runtime-mutable so a
vanilla external session works):

    from nyc_tlc_trip_data_pipelines_spark import datasource
    datasource.register(spark)
    spark.read.format("objectstore_listing").option("root", path).load()

Rows: (key string, n_bytes bigint, shard int). Local directories stand
in for buckets (same seam as :mod:`objectstore`); a real S3 deployment
swaps the ``os.walk`` in ``read`` for a boto3 ``list_objects_v2`` page
loop over ``StartAfter``-sharded prefixes — the partitioning and
DataFrame surface stay identical.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from nyc_tlc_trip_data_pipelines_spark.objectstore import to_local_os_path


def _local_root(root: str | None) -> str | None:
    """Normalize a ``root`` option for the os-level walk/makedirs these
    local-tree stand-ins run (round-10 ADVICE class): an explicit
    ``file:`` URI must become a plain OS path, or the walk silently
    yields nothing / the sink writes under cwd — the exact half-working
    failure the versioned-IO family fixed in round 11. Driver-side (in
    ``__init__``), so executors pickle the already-normalized path."""
    return to_local_os_path(root) if root else root


class _ShardPartition(InputPartition):
    def __init__(self, shard: int, n_shards: int):
        self.shard = shard
        self.n_shards = n_shards


class ObjectStoreListingReader(DataSourceReader):
    def __init__(self, options):
        self.root = _local_root(options.get("root"))
        if not self.root:
            raise ValueError("objectstore_listing requires .option('root', <path>)")
        self.n_shards = int(options.get("shards", "4"))
        self.key_prefix: str | None = None

    def pushFilters(self, filters):
        """Source-level pushdown: a ``key LIKE 'prefix%'`` predicate
        becomes the LIST call's prefix argument (S3 LIST is prefix-
        indexed, so this turns a full-bucket enumeration into a ranged
        one — the pushdown that matters for listings). Everything else
        is returned for Spark to evaluate post-scan."""
        from pyspark.sql.datasource import StringStartsWith

        for f in filters:
            if (
                isinstance(f, StringStartsWith)
                and f.attribute == ("key",)
                and self.key_prefix is None
            ):
                self.key_prefix = f.value
            else:
                yield f

    def partitions(self):
        return [_ShardPartition(i, self.n_shards) for i in range(self.n_shards)]

    def read(self, partition: _ShardPartition):
        # Each partition walks the same tree but emits only the keys
        # hashed to its shard — the local stand-in for one LIST prefix
        # shard. Deterministic: shard = crc of the relative key.
        import zlib

        for dirpath, _dirs, files in os.walk(self.root):
            for f in sorted(files):
                full = os.path.join(dirpath, f)
                key = os.path.relpath(full, self.root)
                if self.key_prefix is not None and not key.startswith(self.key_prefix):
                    continue
                shard = zlib.crc32(key.encode()) % partition.n_shards
                if shard == partition.shard:
                    yield (key, os.path.getsize(full), shard)


class ObjectStoreListingSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "objectstore_listing"

    def schema(self) -> str:
        return "key string, n_bytes bigint, shard int"

    def reader(self, schema):
        return ObjectStoreListingReader(self.options)


def register(spark) -> None:
    """Register the listing source and enable Python-source filter
    pushdown (off by default; a reader that implements ``pushFilters``
    refuses to initialize without it). This module pickles BY VALUE:
    the STREAMING planner spawns a separate "initialize source" Python
    worker, so the DataSource classes must unpickle without importing
    the package (the module source rides inside the pickle; this file
    deliberately has no package-level imports from the rest of the
    repo)."""
    import sys as _sys

    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(_sys.modules[__name__])
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ObjectStoreListingSource)
    spark.dataSource.register(ObjectStoreJsonlSink)
    spark.dataSource.register(ObjectStoreListingStreamSource)


# ---------------------------------------------------------------------------
# Custom Python DataSource WRITER: a JSONL object-store sink with a
# temp-file + manifest commit protocol.
#
# The reference's egress is a driver-side boto3 upload
# (``pasta1_etl/src/utils.py:68-84``); this is the executor-parallel
# re-expression: each partition streams its rows to a private temp
# object, the DRIVER finalizes by renaming the temps and writing ONE
# ``_MANIFEST.json`` naming the committed shards — readers that resolve
# through the manifest never see half-written output (the same
# claim-then-publish shape as io.append_versioned; on S3 "rename"
# becomes copy-or-multipart-complete, the manifest step is identical).
# A failed job leaves only ``_tmp_*`` litter that ``abort`` removes.
# ---------------------------------------------------------------------------


@dataclass
class _ShardFile(WriterCommitMessage):
    tmp_name: str
    final_name: str
    n_rows: int


class ObjectStoreJsonlWriter(DataSourceWriter):
    def __init__(self, options, schema, overwrite: bool):
        self.root = _local_root(options.get("root"))
        if not self.root:
            raise ValueError("objectstore_jsonl requires option 'root'")
        self.overwrite = overwrite

    def write(self, iterator):
        import json
        import os
        import uuid

        os.makedirs(self.root, exist_ok=True)
        shard = uuid.uuid4().hex
        final = f"part-{shard}.jsonl"
        tmp = f"_tmp_{final}"
        n = 0
        with open(os.path.join(self.root, tmp), "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _ShardFile(tmp_name=tmp, final_name=final, n_rows=n)

    def commit(self, messages):
        import json
        import os

        files = []
        for m in messages:
            os.rename(
                os.path.join(self.root, m.tmp_name),
                os.path.join(self.root, m.final_name),
            )
            files.append({"file": m.final_name, "n_rows": m.n_rows})
        with open(os.path.join(self.root, "_MANIFEST.json"), "w") as fh:
            json.dump({"files": sorted(files, key=lambda f: f["file"])}, fh)

    def abort(self, messages):
        import os

        for m in messages:
            try:
                os.remove(os.path.join(self.root, m.tmp_name))
            except FileNotFoundError:
                pass


class ObjectStoreJsonlSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "objectstore_jsonl"

    def writer(self, schema, overwrite: bool):
        return ObjectStoreJsonlWriter(self.options, schema, overwrite)


def read_jsonl_sink(spark, root: str, schema: str):
    """Read back ONLY the manifest-committed shards of an
    ``objectstore_jsonl`` write — stray or half-written files are
    invisible, which is the commit protocol's whole point."""
    import json
    import os

    with open(os.path.join(root, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    paths = [os.path.join(root, f["file"]) for f in manifest["files"]]
    return spark.read.schema(schema).json(paths)


class ObjectStoreListingStreamReader:
    """Incremental listing STREAM (PySpark 4 SimpleDataSourceStreamReader):
    each microbatch emits the next ``batch_size`` objects in sorted-key
    order. The offset is the LAST EMITTED KEY — genuine S3 StartAfter
    semantics (ListObjectsV2 ``start-after``), NOT a positional index:
    a key-based cursor survives listing churn, where an index cursor
    re-emits already-seen objects (a new key sorting before the cursor
    shifts every index) or silently skips unseen ones (a deletion
    shifts them under the cursor).

    Offsets are durable JSON dicts, so checkpoint recovery resumes
    after the last committed key. ``readBetweenOffsets`` replays the
    half-open key range ``(start, end]``; replay is exact while the
    keys in that range are immutable — the same contract a real
    StartAfter ingest has (objects landing INSIDE an already-emitted
    range need a compaction/backfill pass, not a listing cursor).
    """

    def __init__(self, options):
        self.root = _local_root(options.get("root"))
        if not self.root:
            raise ValueError("objectstore_listing_stream requires .option('root', <path>)")
        self.batch_size = int(options.get("batch_size", "10"))

    def initialOffset(self) -> dict:
        return {"last_key": ""}  # "" sorts before every real key

    def _keys(self):
        import os as _os

        out = []
        for dirpath, _dirs, files in _os.walk(self.root):
            for f in files:
                full = _os.path.join(dirpath, f)
                out.append((_os.path.relpath(full, self.root), _os.path.getsize(full)))
        return sorted(out)

    def read(self, start: dict):
        after = start["last_key"]
        batch = [kv for kv in self._keys() if kv[0] > after][: self.batch_size]
        if not batch:
            return iter(()), {"last_key": after}
        return iter(batch), {"last_key": batch[-1][0]}

    def readBetweenOffsets(self, start: dict, end: dict):
        lo, hi = start["last_key"], end["last_key"]
        return iter([kv for kv in self._keys() if lo < kv[0] <= hi])

    def commit(self, end: dict) -> None:  # listing is stateless
        pass


class ObjectStoreListingStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "objectstore_listing_stream"

    def schema(self) -> str:
        return "key string, n_bytes bigint"

    def simpleStreamReader(self, schema):
        return ObjectStoreListingStreamReader(self.options)
