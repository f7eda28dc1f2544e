"""Object-store abstraction (reference S3 layer, re-expressed).

The reference's I/O helpers speak raw S3: paginated ``list_objects_v2``
key listing, parquet-suffix filtering, and text-blob puts
(``pasta1_etl/src/utils.py:16-43,46-66,69-84``). This module re-expresses
those semantics behind a path-scheme registry so the same call sites work
against a local directory tree today and an object store on a real
cluster (Spark itself reads/writes through its Hadoop FS layer either
way — this layer only covers the *driver-side* listing/log operations
the reference does outside Spark).

S3 semantics preserved exactly (mirrored by the reference's moto tests,
``pasta1_etl/tests/test_utils.py:36-88``):

- keys are ``/``-separated relative paths, listed RECURSIVELY — an S3
  bucket has no directories, so ``folder/file2.txt`` is one key;
- ``prefix`` is a plain string prefix of the whole key (not a glob, not
  anchored at path components);
- results come back in lexicographic key order;
- listings are PAGINATED (S3 caps pages at 1000 keys) — the iterator
  yields pages so callers never hold a 100 TB lake's listing in one list.

100 TB note: raw LIST on a big lake is itself a bottleneck (~5,500
requests/s per prefix; millions of objects = minutes of listing). The
page iterator keeps memory flat, but at that scale prefer a
catalog/manifest over enumeration — ``discover_files`` documents the
same caveat.
"""

from __future__ import annotations

import os
import re
import uuid
from collections.abc import Iterator, Sequence
from urllib.parse import urlparse

PAGE_SIZE = 1000  # list_objects_v2 page cap


def is_local_path(path: str) -> bool:
    """True when ``path`` addresses the local filesystem. A path is
    remote only when it carries an explicit ``scheme://`` (hdfs://,
    s3a://, ...; ``file://`` counts as local) — a bare ``urlparse``
    scheme check would misclassify a relative LOCAL path whose first
    segment contains a colon (``runs:2024/table``), which os calls
    handle fine. The one local-vs-remote classifier: :func:`get_store`,
    ``datasource`` and ``io.write_bucketed`` all route through it."""
    if "://" not in path:
        return True
    return urlparse(path).scheme in ("", "file")


_FILE_URI_RE = re.compile(r"^file:(?://(?P<netloc>[^/]*))?(?P<path>/.*)$", re.IGNORECASE)


def to_local_os_path(path: str) -> str:
    """Normalize an explicit ``file:`` URI to the plain OS path the
    ``os`` layer needs — both the RFC-8089 triple-slash form
    (``file:///tmp/t``) and the single-slash Hadoop form
    (``file:/tmp/t``, no ``://`` at all). Anything else passes through
    unchanged. ``os.path.join('file:///tmp/t', '_manifests')`` is a
    bogus relative path, so an unstripped URI would put metadata under
    cwd while Spark writes the data to the real location.

    A ``file://host/p`` URI with a real (non-``localhost``) authority
    is NOT this machine's filesystem — raise instead of silently
    reading the wrong host's path."""
    m = _FILE_URI_RE.match(path)
    if not m:
        return path
    netloc = m.group("netloc") or ""
    if netloc not in ("", "localhost"):
        raise ValueError(
            f"file: URI with non-local authority {netloc!r} cannot be "
            f"accessed via local os calls: {path!r}"
        )
    return m.group("path")


class LocalStore:
    """Directory-tree backend with S3 listing semantics."""

    def __init__(self, root: str):
        # Normalize away trailing separators (round-11 ADVICE): the
        # delete_keys empty-parent pruning loop compares dirname-chain
        # results against ``self.root``, and dirname never yields a
        # trailing-slash form — an unnormalized 'file:///x/' root
        # ('/x/') would never match and the loop would rmdir empty
        # ancestors ABOVE the store root.
        self.root = os.path.normpath(root)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, *key.split("/"))

    def iter_pages(self, prefix: str = "", page_size: int = PAGE_SIZE) -> Iterator[list[str]]:
        # Walk from the directory the prefix names (``_manifests/v`` →
        # ``<root>/_manifests``) and descend only into subdirectories
        # whose keys can still match, so a manifest listing never walks
        # the table's data files.
        head = prefix.rpartition("/")[0]
        keys = []
        for dirpath, dirs, files in os.walk(self._path(head) if head else self.root):
            rel = os.path.relpath(dirpath, self.root)
            base = "" if rel == "." else rel.replace(os.sep, "/") + "/"
            dirs[:] = [
                d for d in dirs
                if (base + d + "/").startswith(prefix) or prefix.startswith(base + d + "/")
            ]
            keys.extend(base + f for f in files if (base + f).startswith(prefix))
        keys.sort()
        for i in range(0, len(keys), page_size):
            yield keys[i : i + page_size]
        if not keys:
            yield []

    def put_text(self, key: str, content: str) -> str:
        """Publish a whole object: write a per-writer unique tmp file,
        then ``os.replace`` it over the key, so a reader never sees a
        partial object and a failed write leaves the old content. Two
        writers of one key each rename their own tmp (last one wins,
        like an S3 PUT)."""
        dest = self._path(key)
        os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
        tmp = os.path.join(os.path.dirname(dest), f".tmp.{uuid.uuid4().hex}")
        try:
            with open(tmp, "w") as fh:
                fh.write(content)
            os.replace(tmp, dest)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
        return dest

    def get_text(self, key: str) -> str:
        with open(self._path(key)) as fh:
            return fh.read()

    def mtime(self, key: str) -> float:
        """Last-modified epoch seconds — the age signal VACUUM's
        orphaned-sidecar sweep uses for its in-flight-writer grace
        window (io.py). Raises FileNotFoundError for absent keys."""
        return os.path.getmtime(self._path(key))

    def delete_keys(self, keys: Sequence[str]) -> int:
        """Delete keys (missing ones ignored, S3-style); empty parent
        directories are pruned so the tree mirrors a bucket where no
        object under a prefix means the prefix is gone. Pruning runs
        once per distinct parent, deepest first, after every delete —
        not once per key, which re-listed a big directory per file.
        Returns the number of keys that existed and were removed."""
        n = 0
        parents: set[str] = set()
        for key in keys:
            dest = self._path(key)
            try:
                os.remove(dest)
            except FileNotFoundError:
                continue
            n += 1
            parents.add(os.path.dirname(dest))
        for d in sorted(parents, key=len, reverse=True):
            while d and d != self.root:
                try:
                    os.rmdir(d)  # fails unless empty (or already gone)
                except OSError:
                    break
                d = os.path.dirname(d)
        return n

    def put_text_if_absent(self, key: str, content: str) -> bool:
        """Atomic exclusive create — True when this call claimed the
        key, False when it already existed. Write-fsync-link, the same
        POSIX O_EXCL primitive: the final name never exists with
        partial content, and ``os.link`` fails with EEXIST if another
        writer claimed it first. This is the local manifest claim of
        io.py's versioned commit."""
        dest = self._path(key)
        os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
        tmp = os.path.join(os.path.dirname(dest), f".tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(content)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, dest)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


class S3Store:
    """boto3 S3 backend — the reference's actual production path
    (``pasta1_etl/src/utils.py:16-43`` paginated ``list_objects_v2``
    listing, ``utils.py:69-84`` string puts), behind the same interface
    LocalStore models. boto3 is an OPTIONAL dependency: the import lives
    in ``__init__`` so environments without it still import this module
    and use LocalStore; :func:`get_store` turns the missing import into
    the documented loud failure.

    ``base`` scopes the store to a key prefix (``s3://bucket/base``):
    keys in and out are relative to it, exactly as LocalStore keys are
    relative to its root — so call sites are backend-agnostic. Listing
    order and pagination come from S3 itself (lexicographic,
    ``PageSize``-capped pages), matching the LocalStore emulation.
    """

    def __init__(self, bucket: str, base: str = ""):
        import boto3  # optional; gated by get_store

        self.client = boto3.client("s3")
        self.bucket = bucket
        self.base = base.strip("/")

    def _full(self, key: str) -> str:
        return f"{self.base}/{key}" if self.base else key

    def iter_pages(self, prefix: str = "", page_size: int = PAGE_SIZE) -> Iterator[list[str]]:
        full_prefix = self._full(prefix) if prefix else (f"{self.base}/" if self.base else "")
        strip = len(self.base) + 1 if self.base else 0
        paginator = self.client.get_paginator("list_objects_v2")
        empty = True
        for page in paginator.paginate(
            Bucket=self.bucket,
            Prefix=full_prefix,
            PaginationConfig={"PageSize": page_size},
        ):
            keys = [o["Key"][strip:] for o in page.get("Contents", [])]
            if keys:
                empty = False
                yield keys
        if empty:
            yield []

    def put_text(self, key: str, content: str) -> str:
        self.client.put_object(
            Bucket=self.bucket, Key=self._full(key), Body=content.encode("utf-8")
        )
        return f"s3://{self.bucket}/{self._full(key)}"

    def get_text(self, key: str) -> str:
        obj = self.client.get_object(Bucket=self.bucket, Key=self._full(key))
        return obj["Body"].read().decode("utf-8")

    def mtime(self, key: str) -> float:
        """Last-modified epoch seconds via ``HeadObject`` — one HEAD
        per key, so callers (VACUUM's orphaned-sidecar grace check)
        only ask about the few already-unreferenced candidates, never
        the full listing. boto3 surfaces a missing key as ClientError
        404 — mapped to FileNotFoundError to match LocalStore."""
        try:
            resp = self.client.head_object(Bucket=self.bucket, Key=self._full(key))
        except self.client.exceptions.ClientError as exc:  # pragma: no cover
            raise FileNotFoundError(key) from exc
        return resp["LastModified"].timestamp()

    def delete_keys(self, keys: Sequence[str]) -> int:
        """Batch object delete (``DeleteObjects``, 1000-key pages —
        the S3 API cap). Missing keys are S3 no-ops. Returns the
        number of keys submitted (S3 reports deletes of absent keys
        as success, so existence is not re-checked).

        Per-key failures in the batch response (Quiet mode still
        reports ERRORS, it only suppresses successes) raise instead of
        being swallowed — a silently partial VACUUM would leave
        unreferenced objects that look reclaimed (the half-working
        failure class this module's consumers exist to avoid)."""
        keys = list(keys)
        failed: list[str] = []
        for i in range(0, len(keys), 1000):
            chunk = keys[i : i + 1000]
            resp = self.client.delete_objects(
                Bucket=self.bucket,
                Delete={
                    "Objects": [{"Key": self._full(k)} for k in chunk],
                    "Quiet": True,
                },
            )
            failed += [
                f"{e.get('Key')}: {e.get('Code')}" for e in resp.get("Errors", [])
            ]
        if failed:
            raise RuntimeError(
                f"delete_keys: {len(failed)} of {len(keys)} deletions failed "
                f"(first: {failed[0]}); the batch is partially applied — "
                "retry after resolving the errors"
            )
        return len(keys)

    def put_text_if_absent(self, key: str, content: str) -> bool:
        """Atomic exclusive create on S3 — True when this call claimed
        the key, False when it already existed. Uses the S3 conditional
        write (``If-None-Match: *``, GA since 2024): the PUT fails with
        412 PreconditionFailed if the key exists, so two writers racing
        for one key cannot both "succeed" the way last-writer-wins PUT
        would. A 409 ConditionalRequestConflict means ANOTHER
        conditional write on the same key was in flight — neither side
        knows who won yet, so the claim itself is retried (bounded)
        rather than reported lost.

        Self-claim detection (round-11 ADVICE): a 412 alone cannot
        distinguish "a rival claimed the key" from "my OWN first PUT
        succeeded but the response was lost and botocore's standard
        retry re-sent it, hitting the key I just created". The second
        case must report True — otherwise a writer whose commit LANDED
        raises ConcurrentCommitError and a retry with a fresh job_id
        would double-commit. So on 412 the object is read back and its
        body compared to the payload (the read-back-and-compare Delta
        Lake's S3 commit path uses): byte-equal means the claim is
        ours. Soundness requires that DISTINCT writers never produce
        byte-identical payloads — manifest commits guarantee this with
        a per-writer ``writer`` nonce (round-13 ADVICE: delete/optimize
        manifests are otherwise deterministic, so two racing
        delete_where calls with different conditions used to
        byte-collide and both "win" while one's data rewrite was
        silently lost). A botocore transport retry re-sends the SAME
        bytes, nonce included, so the lost-response self-claim still
        reports True."""
        from botocore.exceptions import ClientError

        for _ in range(8):
            try:
                self.client.put_object(
                    Bucket=self.bucket,
                    Key=self._full(key),
                    Body=content.encode("utf-8"),
                    IfNoneMatch="*",
                )
                return True
            except ClientError as exc:
                code = exc.response.get("Error", {}).get("Code")
                if code in ("PreconditionFailed", "412"):
                    try:
                        return self.get_text(key) == content
                    except Exception:
                        return False
                if code in ("ConditionalRequestConflict", "409"):
                    continue
                raise
        raise RuntimeError(
            f"S3 conditional put of {key!r} kept conflicting with concurrent "
            "conditional writes after 8 attempts"
        )


def get_store(url: str):
    """Scheme registry (the analog of ``get_s3_client``,
    ``utils.py:16-28``): a local path (:func:`is_local_path`, including
    ``file:`` URIs, normalized by :func:`to_local_os_path`) →
    LocalStore; ``s3://`` / ``s3a://`` → :class:`S3Store` when boto3 is
    importable, else a loud NotImplementedError so a mis-configured
    path fails instead of writing somewhere odd. Unknown schemes always
    fail loudly, and a ``file://otherhost/...`` URI raises ValueError.
    """
    if is_local_path(url):
        return LocalStore(to_local_os_path(url))
    parsed = urlparse(url)
    if parsed.scheme in ("s3", "s3a"):
        try:
            import boto3  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "s3/s3a object store requires boto3, which is not installed"
            ) from exc
        return S3Store(parsed.netloc, parsed.path.lstrip("/"))
    raise NotImplementedError(
        f"scheme {parsed.scheme!r} has no registered object store in this environment"
    )


def list_objects(url: str, prefix: str = "") -> list[str]:
    """All keys under ``url`` with ``prefix``, lexicographic — the
    reference's ``list_s3_objects`` (``utils.py:31-43``), pagination
    drained internally."""
    out: list[str] = []
    for page in get_store(url).iter_pages(prefix):
        out.extend(page)
    return out


def list_parquet_files(url: str, prefix: str = "") -> list[str]:
    """Sorted ``*.parquet`` keys — ``list_parquet_files_in_bucket``
    (``utils.py:46-66``)."""
    return sorted(k for k in list_objects(url, prefix) if k.endswith(".parquet"))


def save_text(url: str, key: str, content: str) -> str:
    """String put — ``save_file_content_in_s3`` (``utils.py:69-84``).
    Returns the concrete path written (backend-specific)."""
    return get_store(url).put_text(key, content)


__all__: Sequence[str] = (
    "LocalStore",
    "S3Store",
    "get_store",
    "is_local_path",
    "list_objects",
    "list_parquet_files",
    "save_text",
    "to_local_os_path",
    "PAGE_SIZE",
)
